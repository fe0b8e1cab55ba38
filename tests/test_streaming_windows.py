"""Streaming coverage for non-tumbling window kinds: sliding and session
vertex summaries run as continuous queries and match the batch engine."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from graph_stream_zoomer_spark import Count, StreamGraphConfig, WindowConfig
from graph_stream_zoomer_spark.model import triple_vertices
from graph_stream_zoomer_spark.operators.grouping import GroupingBuilder
from graph_stream_zoomer_spark.sources.transcripts import generate_transcripts, transcript_graph
from graph_stream_zoomer_spark.streaming.binding import streaming_transcript_graph
from graph_stream_zoomer_spark.streaming.job import read_transcript_stream
from graph_stream_zoomer_spark.streaming.sink import IdempotentParquetSink


def _op(window):
    cfg = StreamGraphConfig(window=window, watermark_delay="10 seconds")
    return (
        GroupingBuilder()
        .add_vertex_grouping_key(":label")
        .add_vertex_aggregate_function(Count())
        .set_window_config(window)
        .set_config(cfg)
        .build()
    )


def _sentinel(spark):
    return spark.createDataFrame(
        [("zz_flush", 0, "user", "flush", "", "2030-01-01 00:00:00"),
         ("zz_flush", 1, "assistant", "flush", "", "2030-01-01 00:00:05")],
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def _run_vertex_stream(spark, tmp_path, window):
    turns = generate_transcripts(spark, 40, late_fraction_pct=0, skew=False)
    d = str(tmp_path / "turns")
    turns.unionByName(_sentinel(spark)).repartition(4).write.parquet(d)
    stream = read_transcript_stream(spark, d)
    op = _op(window)
    # stages 1, 3 and 4 over the graph's vertex observations: the stateless
    # targets plus the turn-0 sources its hint names in the successor join
    graph = streaming_transcript_graph(stream, op.config)
    sources = triple_vertices(graph.triples.where(graph.source_vertices), "source")
    vertices = graph.vertices.unionByName(sources)
    sv = op.group_vertices(op.enhance_vertices(op.dedup_vertices(vertices)))
    sink = IdempotentParquetSink(str(tmp_path / "out"))
    q = (
        sv.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["vertex_label"], r["event_time"]): int(r["count"])
        for r in sink.read(spark).where(F.col("window_start") < "2029-01-01").collect()
    }
    # batch ground truth (dedup path — no uniqueness hint — same result)
    graph = transcript_graph(turns, StreamGraphConfig(window=window))
    batch = graph.apply(_op(window))
    exp = {
        (r["vertex_label"], r["event_time"]): int(r["vertex_properties"]["count"])
        for r in batch.vertices.collect()
    }
    return got, exp


def test_sliding_window_streaming(spark, tmp_path):
    got, exp = _run_vertex_stream(spark, tmp_path, WindowConfig.sliding(120, 60, "SECONDS"))
    assert got == exp


def test_session_window_streaming(spark, tmp_path):
    got, exp = _run_vertex_stream(spark, tmp_path, WindowConfig.session(60, "SECONDS"))
    assert got == exp


def test_percentile_aggregate_streaming_matches_batch(spark, tmp_path):
    """PercentileProperty under streaming windowed aggregation: the exact
    percentile's value buffer lives in the state store and the append-mode
    window-close emission matches the batch engine row-for-row."""
    from graph_stream_zoomer_spark import PercentileProperty

    window = WindowConfig.tumbling(600, "SECONDS")
    cfg = StreamGraphConfig(window=window, watermark_delay="10 seconds")
    op = (
        GroupingBuilder()
        .add_vertex_grouping_key(":label")
        .add_vertex_aggregate_function(Count())
        .add_vertex_aggregate_function(PercentileProperty("text_len", 0.5))
        .set_window_config(window)
        .set_config(cfg)
        .build()
    )
    turns = generate_transcripts(spark, 40, late_fraction_pct=0, skew=False)
    d = str(tmp_path / "turns")
    turns.unionByName(_sentinel(spark)).repartition(4).write.parquet(d)
    stream = read_transcript_stream(spark, d)
    sv, _ = op.split_summaries(op.summaries(streaming_transcript_graph(stream, op.config)))
    sink = IdempotentParquetSink(str(tmp_path / "out"))
    q = (
        sv.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["vertex_label"], r["event_time"]): (int(r["count"]), float(r["p50_text_len"]))
        for r in sink.read(spark).where(F.col("window_start") < "2029-01-01").collect()
    }
    batch = transcript_graph(turns, StreamGraphConfig(window=window)).apply(op)
    exp = {
        (r["vertex_label"], r["event_time"]): (
            int(r["vertex_properties"]["count"]),
            float(r["vertex_properties"]["p50_text_len"]),
        )
        for r in batch.vertices.collect()
    }
    assert got == exp
    assert len(exp) > 0
