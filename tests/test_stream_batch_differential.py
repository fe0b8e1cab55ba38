"""Differential test: the streaming job's sink holds exactly the rows the
batch operator computes over the same turns.

The turns have no late rows, so the streaming binding (watermarked
successor join) and the batch binding (``lead()``) produce the same graph.
They are written as event-time-ordered chunk files with seeded random
chunk boundaries and drained one file per trigger; the job is stopped after
a random number of chunks and restarted on the same checkpoint. A
far-future sentinel conversation closes every real window, and every
closed window's super-vertices and super-edges (ids, rowtimes, labels,
grouping values and aggregates) must equal the batch ``execute()`` output.
"""

from __future__ import annotations

import os
import random
import time
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from graph_stream_zoomer_spark import (
    AvgProperty, Count, MaxProperty, MinProperty, StreamGraphConfig, WindowConfig,
)
from graph_stream_zoomer_spark.operators.grouping import GroupingBuilder
from graph_stream_zoomer_spark.sources.transcripts import generate_transcripts, transcript_graph
from graph_stream_zoomer_spark.streaming.job import read_transcript_stream, run_grouping_job

N_CHUNKS = 3
TURNS_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)
# a far-future conversation whose watermark closes every real window
SENTINEL = pa.Table.from_pylist(
    [
        {"conv_id": "zz_flush", "turn_idx": i, "role": role, "text": "flush", "tool": "",
         "ts": datetime(2030, 1, 1, 0, 0, 5 * i, tzinfo=timezone.utc)}
        for i, role in enumerate(["user", "assistant"])
    ],
    schema=TURNS_SCHEMA,
)


def _op(salt: int, keyed: bool = False):
    """Label keys with Count + AvgProperty("text_len"), or (``keyed``) keys
    and aggregates that read every entry of the binding's property bags:
    vertices by tool + hour_bucket with Min/Max/AvgProperty("text_len"),
    edges by transition with Count."""
    cfg = StreamGraphConfig(
        window=WindowConfig.tumbling(10, "MINUTES"), watermark_delay="10 seconds",
        salt_buckets=salt,
    )
    b = GroupingBuilder()
    if keyed:
        b.add_vertex_grouping_keys(["tool", "hour_bucket"]).add_edge_grouping_key("transition")
        for agg in (MinProperty, MaxProperty, AvgProperty):
            b.add_vertex_aggregate_function(agg("text_len"))
    else:
        b.add_vertex_grouping_keys([":label", "tool"]).add_edge_grouping_key(":label")
        b.add_vertex_aggregate_function(Count())
        b.add_vertex_aggregate_function(AvgProperty("text_len"))
    return (
        b.add_edge_aggregate_function(Count()).set_window_config(cfg.window).set_config(cfg).build()
    )


def _value(v):
    try:
        return float(v)
    except (TypeError, ValueError):
        return v


def _props(d: dict) -> tuple:
    return tuple(sorted((k, _value(v)) for k, v in d.items() if v is not None))


def _batch_rows(turns, op):
    out = transcript_graph(turns, op.config).apply(op)
    sv = [
        (r["vertex_id"], r["event_time"], r["vertex_label"], _props(r["vertex_properties"]))
        for r in out.vertices.collect()
    ]
    se = [
        (r["edge_id"], r["edge_label"], _props(r["edge_properties"]),
         r["source_id"], r["target_id"], r["event_time"])
        for r in out.edges.collect()
    ]
    return sv, se


def _sink_rows(spark, result, op):
    aggs = lambda fns: [a.output_key for a in fns]  # noqa: E731
    v = result.vertex_sink.read(spark).where(F.col("window_start") < "2029-01-01").collect()
    e = result.edge_sink.read(spark).where(F.col("window_start") < "2029-01-01").collect()
    sv = [
        (r["super_vertex_id"], r["event_time"], r["vertex_label"], _props(
            {k: r[f"_gk_{i}"] for i, k in enumerate(op.vertex_grouping_keys)}
            | {k: r[k] for k in aggs(op.vertex_aggs)}))
        for r in v
    ]
    se = [
        (r["super_edge_id"], r["edge_label"], _props(
            {k: r[f"_egk_{i}"] for i, k in enumerate(op.edge_grouping_keys)}
            | {k: r[k] for k in aggs(op.edge_aggs)}),
         r["source_id"], r["target_id"], r["event_time"])
        for r in e
    ]
    return sv, se


def _write_chunks(parts: list[pa.Table], d: str, first: int, mtime0: int) -> None:
    """One file per part, with increasing modification times so the file
    source takes them in event-time order."""
    for i, part in enumerate(parts, start=first):
        f = os.path.join(d, f"chunk-{i:03d}.parquet")
        pq.write_table(part, f)
        os.utime(f, (mtime0 + i, mtime0 + i))


@pytest.mark.parametrize(
    "salt,keyed", [(0, False), (5, False), (0, True)], ids=["unified", "salted", "keyed"],
)
def test_streaming_job_equals_batch_execute(spark, tmp_path, salt, keyed):
    rng = random.Random(20 + salt)
    turns = generate_transcripts(spark, 60, late_fraction_pct=0)
    table = pa.Table.from_pandas(turns.toPandas(), preserve_index=False).cast(TURNS_SCHEMA)
    table = table.sort_by([("ts", "ascending"), ("conv_id", "ascending")])
    cuts = [0, *sorted(rng.sample(range(1, table.num_rows), N_CHUNKS - 1)), table.num_rows]
    chunks = [table.slice(a, b - a) for a, b in zip(cuts, cuts[1:])] + [SENTINEL]
    stop_after = rng.randint(1, N_CHUNKS - 1)

    d, out_root = str(tmp_path / "turns"), str(tmp_path / "out")
    os.makedirs(d)
    mtime0 = int(time.time()) - 3600
    op = _op(salt, keyed)

    def drain():
        stream = read_transcript_stream(spark, d, max_files_per_trigger=1)
        return run_grouping_job(spark, stream, op, out_root)

    _write_chunks(chunks[:stop_after], d, 0, mtime0)
    drain()
    _write_chunks(chunks[stop_after:], d, stop_after, mtime0)
    result = drain()

    exp_v, exp_e = _batch_rows(turns, op)
    got_v, got_e = _sink_rows(spark, result, op)
    assert len(got_v) == len(set(got_v)) and len(got_e) == len(set(got_e))  # exactly once
    assert sorted(got_v) == sorted(exp_v)
    assert sorted(got_e) == sorted(exp_e)
    assert len(exp_v) > 10 and len(exp_e) > 10
