"""Streaming summary-triple join (J3 as a watermarked stream-stream join —
the north star's "stream-stream join of the vertex and edge summary
streams"). Ground truth: the batch engine's to_triples() on the same input
(model/graph/StreamGraph.java:170-226 parity)."""

from __future__ import annotations

from pyspark.sql import functions as F

from graph_stream_zoomer_spark import Count, StreamGraphConfig, WindowConfig
from graph_stream_zoomer_spark.operators.grouping import GroupingBuilder
from graph_stream_zoomer_spark.sources.transcripts import (
    generate_transcripts,
    transcript_graph,
)
from graph_stream_zoomer_spark.streaming.binding import streaming_transcript_graph
from graph_stream_zoomer_spark.streaming.job import read_transcript_stream
from graph_stream_zoomer_spark.streaming.pipeline import summary_triples

WM = "10 seconds"


def _op():
    cfg = StreamGraphConfig(
        window=WindowConfig.tumbling(60, "SECONDS"), watermark_delay=WM
    )
    return (
        GroupingBuilder()
        .add_vertex_grouping_key(":label")
        .add_vertex_aggregate_function(Count())
        .add_edge_grouping_key(":label")
        .add_edge_aggregate_function(Count())
        .set_window_config(cfg.window)
        .set_config(cfg)
        .build()
    )


def _sentinel(spark):
    return spark.createDataFrame(
        [("zz_flush", 0, "user", "flush", "", "2030-01-01 00:00:00"),
         ("zz_flush", 1, "assistant", "flush", "", "2030-01-01 00:00:05")],
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def test_streaming_summary_triples_match_batch(spark, tmp_path):
    turns = generate_transcripts(spark, 40, late_fraction_pct=0, skew=False)
    d = str(tmp_path / "turns")
    turns.unionByName(_sentinel(spark)).repartition(4).write.parquet(d)

    op = _op()

    # --- streaming: summary streams → watermarked stream-stream join ----
    stream = read_transcript_stream(spark, d)
    sv, se = op.split_summaries(op.summaries(streaming_transcript_graph(stream, op.config)))
    joined = summary_triples(sv, se)

    out_dir = str(tmp_path / "triples_out")
    q = (
        joined.writeStream.foreachBatch(
            lambda b, i: b.write.mode("append").parquet(out_dir)
        )
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got_rows = (
        spark.read.parquet(out_dir)
        .where(F.col("event_time") < "2029-01-01")
        .select("edge_label", "event_time", "count", "source_label", "target_label")
        .collect()
    )
    got = {
        (r["edge_label"], r["event_time"], r["source_label"], r["target_label"]): int(
            r["count"]
        )
        for r in got_rows
    }
    assert len(got) == len(got_rows)  # join keys unique per summary triple

    # --- batch ground truth: same grouping, to_triples() join ------------
    exp_triples = transcript_graph(turns).apply(op).to_triples()
    exp_rows = exp_triples.select(
        "edge_label",
        "event_time",
        F.element_at("edge_properties", "count").cast("bigint").alias("count"),
        F.col("source.vertex_label").alias("source_label"),
        F.col("target.vertex_label").alias("target_label"),
    ).collect()
    exp = {
        (r["edge_label"], r["event_time"], r["source_label"], r["target_label"]): int(
            r["count"]
        )
        for r in exp_rows
    }
    assert got == exp
    assert len(got) > 0
