"""spark-submit entry point for the streaming grouping job.

Deployment (north rule):
    python scripts/package.py                        # builds dist/gsz.zip
    spark-submit --py-files dist/gsz.zip \
        scripts/run_streaming_job.py \
        --input /path/to/transcripts \
        --output /path/to/summaries \
        --vertex-keys :label --edge-keys :label \
        --vertex-aggs count,avg:text_len --edge-aggs count \
        --window 600 --watermark "10 seconds" \
        [--window-kind tumbling|sliding|session --slide 60 | --gap 1800] \
        [--input-format iceberg] [--available-now]

On a cluster the same script runs unchanged: master/executor topology comes
from spark-submit; the job only ever references the SparkSession. For the
Iceberg deployment, add the iceberg-spark-runtime package and catalog confs
to spark-submit and pass --input-format iceberg --input <catalog.db.table>.
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession


def parse_aggs(spec: str):
    from graph_stream_zoomer_spark.operators.aggregation import (
        AvgProperty,
        Count,
        MaxProperty,
        MinProperty,
        SumProperty,
    )

    out = []
    if not spec:
        return out
    kinds = {"min": MinProperty, "max": MaxProperty, "sum": SumProperty, "avg": AvgProperty}
    for item in spec.split(","):
        if item == "count":
            out.append(Count())
            continue
        kind, sep, key = item.partition(":")
        if not sep or kind not in kinds:
            raise SystemExit(
                f"invalid aggregate spec {item!r}: expected 'count' or "
                f"'{{min|max|sum|avg}}:<property>' (e.g. 'avg:text_len')"
            )
        out.append(kinds[kind](key))
    return out


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--input-format", default="parquet", choices=["parquet", "iceberg"])
    ap.add_argument("--vertex-keys", default=":label")
    ap.add_argument("--edge-keys", default=":label")
    ap.add_argument("--vertex-aggs", default="count")
    ap.add_argument("--edge-aggs", default="count")
    ap.add_argument(
        "--window-kind", default="tumbling", choices=["tumbling", "sliding", "session"]
    )
    ap.add_argument("--window", type=float, default=600, help="window size seconds (tumbling/sliding)")
    ap.add_argument("--slide", type=float, default=None, help="slide seconds (sliding only)")
    ap.add_argument("--gap", type=float, default=None, help="inactivity gap seconds (session only)")
    ap.add_argument("--watermark", default="10 seconds")
    ap.add_argument("--max-turn-gap", default="1 hour")
    ap.add_argument("--available-now", action="store_true")
    return ap


def build_grouping(args):
    """CLI args → (StreamGraphConfig, GraphStreamGrouping); separated from
    main() so the mapping is unit-testable without spark-submit."""
    from graph_stream_zoomer_spark import StreamGraphConfig, WindowConfig
    from graph_stream_zoomer_spark.operators.grouping import GroupingBuilder

    if args.slide is not None and args.window_kind != "sliding":
        raise SystemExit(f"--slide only applies to --window-kind sliding (got {args.window_kind})")
    if args.gap is not None and args.window_kind != "session":
        raise SystemExit(f"--gap only applies to --window-kind session (got {args.window_kind})")
    if args.window_kind == "sliding":
        if args.slide is None:
            raise SystemExit("--window-kind sliding requires --slide")
        window = WindowConfig.sliding(args.window, args.slide, "SECONDS")
    elif args.window_kind == "session":
        if args.gap is None:
            raise SystemExit("--window-kind session requires --gap")
        window = WindowConfig.session(args.gap, "SECONDS")
    else:
        window = WindowConfig.tumbling(args.window, "SECONDS")

    cfg = StreamGraphConfig(window=window, watermark_delay=args.watermark)
    b = (
        GroupingBuilder()
        .add_vertex_grouping_keys([k for k in args.vertex_keys.split(",") if k])
        .add_edge_grouping_keys([k for k in args.edge_keys.split(",") if k])
        .set_window_config(cfg.window)
        .set_config(cfg)
    )
    for a in parse_aggs(args.vertex_aggs):
        b.add_vertex_aggregate_function(a)
    for a in parse_aggs(args.edge_aggs):
        b.add_edge_aggregate_function(a)
    return cfg, b.build()


def main() -> None:
    args = build_parser().parse_args()

    from graph_stream_zoomer_spark.streaming.job import read_transcript_stream, run_grouping_job

    spark = SparkSession.builder.appName("gsz-streaming-grouping").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    cfg, op = build_grouping(args)

    stream = read_transcript_stream(spark, args.input, fmt=args.input_format)
    result = run_grouping_job(
        spark,
        stream,
        op,
        args.output,
        available_now=args.available_now,
        max_turn_gap=args.max_turn_gap,
    )
    if not args.available_now:
        spark.streams.awaitAnyTermination()
    else:
        rows = sum(b_["rows"] for b_ in result.vertex_sink.metrics.batches)
        print(f"done: {rows} super-vertex rows committed; lineage at "
              f"{result.vertex_sink.lineage_path}")


if __name__ == "__main__":
    main()
