"""Contract tests that need no running stream (and no Iceberg jars):
the generated MERGE statement, the lost-checkpoint sink guard, the removed
two-query job mode, and the shared CEP interval grammar."""

from __future__ import annotations

import json
import os

import pytest

from graph_stream_zoomer_spark.operators.cep import _interval_us
from graph_stream_zoomer_spark.streaming.job import _refuse_stale_sink, run_grouping_job
from graph_stream_zoomer_spark.streaming.sink import IcebergMergeSink


# ------------------------------------------------------------------ MERGE
def test_iceberg_merge_sql_shape():
    sink = IcebergMergeSink("cat.db.summaries", ["window_start", "super_vertex_id"])
    sql = sink.merge_sql(["window_start", "window_end", "super_vertex_id", "count"])
    assert "MERGE INTO cat.db.summaries t" in sql
    assert "USING _gsz_batch s" in sql
    # idempotence key: every key column equality, AND-ed
    assert "t.window_start = s.window_start AND t.super_vertex_id = s.super_vertex_id" in sql
    # full-row upsert: non-key columns updated on match, insert otherwise
    assert "WHEN MATCHED THEN UPDATE SET window_end = s.window_end, count = s.count" in sql
    assert "WHEN NOT MATCHED THEN INSERT *" in sql
    # key columns never appear in the SET list (rewriting the join key
    # inside MATCHED is invalid or a no-op depending on engine)
    set_clause = sql.split("UPDATE SET")[1].split("WHEN NOT MATCHED")[0]
    assert "window_start" not in set_clause and "super_vertex_id" not in set_clause


def test_iceberg_merge_sql_rejects_missing_keys():
    sink = IcebergMergeSink("t", ["window_start", "k"])
    with pytest.raises(ValueError, match="missing key columns"):
        sink.merge_sql(["window_start", "count"])
    with pytest.raises(ValueError, match="non-key"):
        sink.merge_sql(["window_start", "k"])
    with pytest.raises(ValueError, match="key column"):
        IcebergMergeSink("t", [])


# ---------------------------------------------------- lost-checkpoint guard
def test_stale_sink_guard(tmp_path):
    root = str(tmp_path / "vertices")
    ckpt = str(tmp_path / "_checkpoints/vertex_summaries")
    # fresh sink + missing checkpoint: fine (first run)
    _refuse_stale_sink(root, ckpt)
    # committed sink + existing checkpoint: fine (resume)
    os.makedirs(os.path.join(root, "_lineage"))
    with open(os.path.join(root, "_lineage", "commits.json"), "w") as f:
        json.dump([0, 1], f)
    os.makedirs(ckpt)
    _refuse_stale_sink(root, ckpt)
    # committed sink + MISSING checkpoint (lost or moved) on an existing out_root
    with pytest.raises(ValueError, match="commit log"):
        _refuse_stale_sink(root, str(tmp_path / "_checkpoints/summaries"))


def test_two_query_mode_is_refused(tmp_path):
    # raised before any Spark object is touched
    with pytest.raises(ValueError, match="two-query streaming mode"):
        run_grouping_job(None, None, None, str(tmp_path / "out"), unified=False)


# -------------------------------------------------------- interval grammar
def test_interval_grammar_batch_streaming_parity():
    assert _interval_us("1 hour") == 3_600_000_000
    assert _interval_us("30 seconds") == 30_000_000
    assert _interval_us("1 week") == 604_800_000_000
    assert _interval_us("1.5 hours 30 minutes") == 5_400_000_000 + 1_800_000_000
    assert _interval_us("2 days") == 2 * 86_400_000_000
    for bad in ["", "hour", "1 fortnight", "x hours", "1 hour 30"]:
        with pytest.raises(ValueError):
            _interval_us(bad)


# ------------------------------------------------ local-FS envelope guard
def test_parquet_sink_rejects_object_store_roots(tmp_path):
    """IdempotentParquetSink is the LOCAL-FS sandbox sink: its commit log
    and parquet-footer lineage are POSIX-path based. Object-store roots
    must fail fast with a pointer to IcebergMergeSink, not mid-stream."""
    from graph_stream_zoomer_spark.streaming.sink import IdempotentParquetSink

    for root in ["s3://bucket/sink", "hdfs://nn/sink", "abfss://c@a/sink"]:
        with pytest.raises(ValueError, match="IcebergMergeSink"):
            IdempotentParquetSink(root)
    # local paths fine, file:// scheme normalized
    s = IdempotentParquetSink(str(tmp_path / "a"))
    assert s.root == str(tmp_path / "a")
    s2 = IdempotentParquetSink("file://" + str(tmp_path / "b"))
    assert s2.root == str(tmp_path / "b")
    # sub-paths must derive from the STRIPPED root: joining the raw
    # "file://…" string builds a relative "file:/…" tree under the cwd
    assert s2.data_dir == str(tmp_path / "b" / "data")
    assert os.path.isdir(s2.data_dir)
    assert not os.path.exists("file:")
