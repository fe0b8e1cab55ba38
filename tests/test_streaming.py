"""Streaming pipeline tests: watermark semantics, exactly-once sink,
checkpoint resume, lineage/metrics (SURVEY.md §5 port, streaming leg)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from graph_stream_zoomer_spark import Count, StreamGraphConfig, WindowConfig
from graph_stream_zoomer_spark.operators.grouping import GroupingBuilder
from graph_stream_zoomer_spark.sources.transcripts import (
    generate_transcripts,
    transcript_graph,
)
from graph_stream_zoomer_spark.streaming.job import read_transcript_stream, run_grouping_job
from graph_stream_zoomer_spark.streaming.sink import IdempotentParquetSink

WINDOW_S = 60


def _op(salt: int = 0):
    cfg = StreamGraphConfig(
        window=WindowConfig.tumbling(WINDOW_S, "SECONDS"),
        watermark_delay="10 seconds",
        salt_buckets=salt,
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
    """A far-future junk conversation that pushes the watermark past every
    real window so append mode emits them all."""
    return spark.createDataFrame(
        [("zz_flush", 0, "user", "flush", "", "2030-01-01 00:00:00"),
         ("zz_flush", 1, "assistant", "flush", "", "2030-01-01 00:00:05")],
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def _batch_expected(spark, turns):
    """Ground truth from the batch engine on the same (real) turns."""
    graph = transcript_graph(turns)
    out = graph.apply(_op())
    sv = {
        (r["vertex_label"], r["event_time"]): int(r["vertex_properties"]["count"])
        for r in out.vertices.collect()
    }
    se = {
        (r["edge_label"], r["event_time"]): int(r["edge_properties"]["count"])
        for r in out.edges.collect()
    }
    return sv, se


@pytest.fixture()
def turns_dir(spark, tmp_path):
    turns = generate_transcripts(spark, 60, late_fraction_pct=0, skew=False)
    d = str(tmp_path / "turns")
    turns.unionByName(_sentinel(spark)).repartition(4).write.parquet(d)
    return d, turns


def _collect_sink(spark, sink: IdempotentParquetSink, label_col: str):
    df = sink.read(spark)
    if df is None:
        return {}
    rows = df.where(F.col("window_start") < "2029-01-01").collect()
    return {(r[label_col], r["event_time"]): int(r["count"]) for r in rows}


def test_streaming_matches_batch(spark, tmp_path, turns_dir):
    d, turns = turns_dir
    stream = read_transcript_stream(spark, d)
    result = run_grouping_job(spark, stream, _op(), str(tmp_path / "out"))
    exp_sv, exp_se = _batch_expected(spark, turns)
    got_sv = _collect_sink(spark, result.vertex_sink, "vertex_label")
    got_se = _collect_sink(spark, result.edge_sink, "edge_label")
    assert got_sv == exp_sv
    assert got_se == exp_se
    # lineage recorded with per-partition counts
    assert os.path.exists(result.vertex_sink.lineage_path)
    assert all("partitions" in b for b in result.vertex_sink.metrics.batches)
    # engine progress captured by the listener, with per-operator state
    # detail (the runtime evidence for state-footprint claims)
    assert len(result.listener.progress) >= 1
    # per-batch phase wall times (steady-state throughput measurements
    # depend on triggerExecution being present)
    assert all(
        "triggerExecution" in p["duration_ms"] for p in result.listener.progress
    ), result.listener.progress[:2]
    summary = result.listener.state_summary()
    assert summary, result.listener.progress[:2]
    assert all(v["batches"] >= 1 for v in summary.values())
    assert any(v["peak_rows"] > 0 for v in summary.values()), summary
    # per-partition source lineage: each progress event records its
    # sources' committed offset ranges (the resume-evidence trail)
    assert any(
        b["sources"] and b["sources"][0]["end_offset"] is not None
        for b in result.listener.progress
    ), result.listener.progress[:2]


def test_checkpoint_resume_exactly_once(spark, tmp_path):
    """Run to completion on chunk 1, stop, append chunk 2, resume from the
    same checkpoint: no duplicated (window, key) rows; union equals batch."""
    all_turns = generate_transcripts(spark, 60, late_fraction_pct=0, skew=False)
    # split by TIME, not by conversation: everything in chunk 2 is ahead of
    # run 1's final watermark, so it extends open windows instead of being
    # (correctly) dropped as late data
    cutoff = all_turns.selectExpr("percentile(cast(ts as double), 0.5) as m").collect()[0]["m"]
    chunk1 = all_turns.where(F.col("ts").cast("double") < cutoff)
    chunk2 = all_turns.where(F.col("ts").cast("double") >= cutoff)
    d = str(tmp_path / "turns")
    chunk1.repartition(2).write.mode("append").parquet(d)
    out_root = str(tmp_path / "out")

    stream = read_transcript_stream(spark, d)
    r1 = run_grouping_job(spark, stream, _op(), out_root)

    chunk2.unionByName(_sentinel(spark)).repartition(2).write.mode("append").parquet(d)
    stream2 = read_transcript_stream(spark, d)
    r2 = run_grouping_job(spark, stream2, _op(), out_root)

    exp_sv, exp_se = _batch_expected(spark, all_turns)
    got_sv = _collect_sink(spark, r2.vertex_sink, "vertex_label")
    got_se = _collect_sink(spark, r2.edge_sink, "edge_label")
    assert got_sv == exp_sv
    assert got_se == exp_se
    # exactly-once: every (window, key) appears in exactly one committed batch
    df = r2.vertex_sink.read(spark)
    dupes = (
        df.groupBy("window_start", "vertex_label").count().where("count > 1").count()
    )
    assert dupes == 0


def test_streaming_salted_matches_batch(spark, tmp_path, turns_dir):
    """Salted mode: both salted phases run inside the streaming query as
    chained stateful aggregations — phase 1 emits each closed (window, key,
    salt) partial once, phase 2 merges them in the same trigger — so the
    sink commits merged rows, identical to the unsalted batch run."""
    d, turns = turns_dir
    stream = read_transcript_stream(spark, d)
    result = run_grouping_job(spark, stream, _op(salt=5), str(tmp_path / "out_salted"))
    exp_sv, _ = _batch_expected(spark, turns)
    got_sv = _collect_sink(spark, result.vertex_sink, "vertex_label")
    assert got_sv == exp_sv


def test_sink_idempotent_redelivery(spark, tmp_path):
    sink = IdempotentParquetSink(str(tmp_path / "sink"))
    batch = spark.createDataFrame([(1, "a")], "k int, v string")
    sink(batch, 0)
    sink(batch, 0)  # re-delivered after simulated failure
    assert sink.read(spark).count() == 1
    assert len(sink.metrics.batches) == 1


def test_late_rows_dropped(spark, tmp_path):
    """Rows later than the watermark are dropped by the windowed agg —
    reference behavior (Flink bounded OOO discard)."""
    rows = [
        ("c1", 0, "user", "t", "", "2025-01-01 00:00:01"),
        ("c1", 1, "assistant", "t", "", "2025-01-01 00:00:05"),
        # watermark pusher: far ahead, same stream
        ("c9", 0, "user", "t", "", "2025-01-01 02:00:00"),
        ("c9", 1, "assistant", "t", "", "2025-01-01 02:00:03"),
    ]
    late = [
        # arrives in a later file, event time far behind the watermark
        ("c1", 2, "user", "late", "", "2025-01-01 00:00:20"),
    ]
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts string"

    def mk(data):
        return (
            spark.createDataFrame(data, schema)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )

    d = str(tmp_path / "turns")
    mk(rows).coalesce(1).write.mode("append").parquet(d)
    out_root = str(tmp_path / "out")
    run_grouping_job(spark, read_transcript_stream(spark, d), _op(), out_root)

    mk(late).coalesce(1).write.mode("append").parquet(d)
    r2 = run_grouping_job(spark, read_transcript_stream(spark, d), _op(), out_root)
    got = _collect_sink(spark, r2.vertex_sink, "vertex_label")
    # the late c1 turn-2 vertex (00:00:20) must NOT appear: its window
    # [00:00,00:01) closed when the watermark passed 02:00 - 10s
    assert all(v == 1 for v in got.values())
    labels = {k[0] for k in got}
    assert labels == {"user", "assistant"}


def test_unified_query_matches_batch(spark, tmp_path, turns_dir):
    """An explicit unified=True (the keyword the benchmark's stream workload
    passes) runs the same single discriminated-union query and must emit
    exactly the batch rows under full watermark drain."""
    d, turns = turns_dir
    stream = read_transcript_stream(spark, d)
    result = run_grouping_job(
        spark, stream, _op(), str(tmp_path / "out_u"), unified=True
    )
    exp_sv, exp_se = _batch_expected(spark, turns)
    assert _collect_sink(spark, result.vertex_sink, "vertex_label") == exp_sv
    assert _collect_sink(spark, result.edge_sink, "edge_label") == exp_se


def test_rocksdb_state_store_matches_batch(spark, tmp_path, turns_dir):
    """state_store='rocksdb' (Spark's bundled RocksDBStateStoreProvider —
    the off-heap production backend for state that outgrows executor heap)
    emits exactly the batch rows; conf is restored afterwards so the shared
    session's other tests keep the default provider."""
    d, turns = turns_dir
    key = "spark.sql.streaming.stateStore.providerClass"
    before = spark.conf.get(key, None)
    try:
        stream = read_transcript_stream(spark, d)
        result = run_grouping_job(
            spark, stream, _op(), str(tmp_path / "out_rocks"), state_store="rocksdb"
        )
        assert "RocksDB" in spark.conf.get(key)
        exp_sv, exp_se = _batch_expected(spark, turns)
        assert _collect_sink(spark, result.vertex_sink, "vertex_label") == exp_sv
        assert _collect_sink(spark, result.edge_sink, "edge_label") == exp_se
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


def test_stateless_text_ops_are_stream_transparent(spark, tmp_path):
    """The stateless hygiene ops run UNCHANGED on a streaming DataFrame:
    pii redaction is a pure projection (directly streamable, append mode,
    no watermark needed); quality_filter aggregates strictly within one
    doc row, so its streaming form is the same function inside
    foreachBatch. Both must emit byte-identical rows to the batch run."""
    from graph_stream_zoomer_spark.functions.text import expr_pii_counts, expr_redact_pii
    from graph_stream_zoomer_spark.operators.quality import quality_filter

    docs_dir = str(tmp_path / "docs")
    rows = [
        (1, "mail me at alice@example.com or 10.0.0.1", "en"),
        (2, "clean text " * 30, "en"),
        (3, "short", "en"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(
        docs_dir
    )
    batch_docs = spark.read.parquet(docs_dir)
    stream_docs = spark.readStream.schema(batch_docs.schema).parquet(docs_dir)

    # pure-projection op: identical transformation object on both
    def redact(df):
        return df.select(
            "doc_id", expr_redact_pii("text").alias("clean"), *expr_pii_counts("text")
        )

    out_redact = str(tmp_path / "out_redact")
    (
        redact(stream_docs)
        .writeStream.format("parquet")
        .option("path", out_redact)
        .option("checkpointLocation", str(tmp_path / "ckpt_r"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    got = sorted(map(tuple, spark.read.parquet(out_redact).collect()))
    want = sorted(map(tuple, redact(batch_docs).collect()))
    assert got == want and len(got) == 3

    # BPE encode against a pre-trained merge table is also a pure
    # projection — same Column expression on the stream
    from graph_stream_zoomer_spark.operators.bpe import encode_bpe_expr

    merges = [("e", "x", 2), ("t", "ex", 2)]

    def tok(df):
        return df.select("doc_id", encode_bpe_expr("text", merges).alias("enc"))

    out_tok = str(tmp_path / "out_tok")
    (
        tok(stream_docs)
        .writeStream.format("parquet")
        .option("path", out_tok)
        .option("checkpointLocation", str(tmp_path / "ckpt_t"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    got_t = sorted(map(tuple, spark.read.parquet(out_tok).collect()))
    want_t = sorted(map(tuple, tok(batch_docs).collect()))
    assert got_t == want_t and len(got_t) == 3
    assert any("tex t" in t[1] for t in got_t)  # merges actually applied

    # per-doc aggregate op: same function via foreachBatch
    out_q = str(tmp_path / "out_q")

    def sink(bdf, _bid):
        quality_filter(bdf).write.mode("append").parquet(out_q)

    (
        stream_docs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_q"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    got_q = sorted(map(tuple, spark.read.parquet(out_q).collect()))
    want_q = sorted(map(tuple, quality_filter(batch_docs).collect()))
    assert got_q == want_q and len(got_q) == 3


def test_streaming_set_aggregates_match_batch(spark, tmp_path):
    """CollectSetProperty/CountDistinctProperty in the streaming job: the
    collect_set form is streaming-legal (countDistinct is not), and the
    salted variant's partial-set → union merge runs inside foreachBatch —
    both must reproduce the batch engine's values per (label, window)."""
    from graph_stream_zoomer_spark import CollectSetProperty, CountDistinctProperty

    turns = generate_transcripts(spark, 50, late_fraction_pct=0, skew=False)
    d = str(tmp_path / "turns")
    turns.unionByName(_sentinel(spark)).repartition(4).write.parquet(d)

    def op(salt):
        cfg = StreamGraphConfig(
            window=WindowConfig.tumbling(WINDOW_S, "SECONDS"),
            watermark_delay="10 seconds",
            salt_buckets=salt,
        )
        return (
            GroupingBuilder()
            .add_vertex_grouping_key(":label")
            .add_vertex_aggregate_function(Count())
            .add_vertex_aggregate_function(CollectSetProperty("text_len"))
            .add_vertex_aggregate_function(CountDistinctProperty("text_len"))
            .add_edge_grouping_key(":label")
            .add_edge_aggregate_function(Count())
            .set_window_config(cfg.window)
            .set_config(cfg)
            .build()
        )

    graph = transcript_graph(turns)
    want = {
        (
            r["vertex_label"],
            r["event_time"],
            r["vertex_properties"].get("set_text_len"),
            int(r["vertex_properties"]["nd_text_len"]),
        )
        for r in graph.apply(op(0)).vertices.collect()
    }

    for i, salt in enumerate((0, 13)):
        result = run_grouping_job(
            spark, read_transcript_stream(spark, d), op(salt), str(tmp_path / f"out{i}")
        )
        df = result.vertex_sink.read(spark).where(F.col("window_start") < "2029-01-01")
        got = {
            (
                r["vertex_label"],
                r["event_time"],
                r["set_text_len"],
                int(r["nd_text_len"]),
            )
            for r in df.collect()
        }
        assert got == want, f"salt={salt}"


def test_lm_score_streams_against_pretrained_model(spark, tmp_path):
    """The production shape of LM quality scoring: the unigram model is
    trained ONCE on a reference corpus (batch), then a document stream is
    scored against it inside foreachBatch — per-doc aggregation is strictly
    within a row's own tokens, so the same lm_score(model=...) call is the
    streaming form, and its output must be byte-identical to batch."""
    from graph_stream_zoomer_spark.operators.relevance import lm_score, unigram_model

    ref = spark.createDataFrame(
        [(100 + i, f"the quick brown fox number {i} jumps") for i in range(8)],
        "doc_id long, text string",
    )
    model = unigram_model(ref).cache()
    model.count()

    docs_dir = str(tmp_path / "lmdocs")
    spark.createDataFrame(
        [(1, "the quick fox"), (2, "entirely oov gibberish"), (3, "")],
        "doc_id long, text string",
    ).write.parquet(docs_dir)
    batch_docs = spark.read.parquet(docs_dir)
    stream_docs = spark.readStream.schema(batch_docs.schema).parquet(docs_dir)

    out = str(tmp_path / "lm_out")

    def sink(bdf, _bid):
        lm_score(bdf, model=model, broadcast_model=True).write.mode("append").parquet(out)

    (
        stream_docs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "lm_ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    want = sorted(
        map(tuple, lm_score(batch_docs, model=model, broadcast_model=True).collect())
    )
    model.unpersist()
    assert got == want and len(got) == 3
