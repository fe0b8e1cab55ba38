"""Plan-quality tests: assert the physical plans we designed for, not just
the results (the 100-TB contract — see graph_stream_zoomer_spark/plans)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from graph_stream_zoomer_spark import AvgProperty, Count, StreamGraphConfig, WindowConfig
from graph_stream_zoomer_spark.operators.grouping import GroupingBuilder
from graph_stream_zoomer_spark.plans.inspect import plan_stats
from graph_stream_zoomer_spark.sources.transcripts import generate_transcripts, transcript_graph

SF_DIR = "/root/testdata/sf0.01"


def _op(cfg):
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


def test_filter_and_projection_pushdown(spark):
    """Filters and column pruning must reach the parquet scan."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    q = docs.where(F.col("lang") == "en").select("doc_id", F.length("text").alias("n"))
    st = plan_stats(q)
    assert any("lang" in f for f in st.pushed_filters), st.pushed_filters
    assert st.scan_reads_only("doc_id", "text", "lang"), st.read_schemas


def test_grouping_pipeline_shuffle_budget(spark):
    """Triple fast path: the whole vertex+edge grouping must run with at
    most one shuffle per aggregation level and ZERO joins (the expansion is
    a projection), regardless of data size."""
    cfg = StreamGraphConfig(window=WindowConfig.tumbling(600, "SECONDS"))
    t = generate_transcripts(spark, 200)
    graph = transcript_graph(t, cfg)
    out = graph.apply(_op(cfg))
    for df in (out.vertices, out.edges):
        st = plan_stats(df)
        assert st.num_broadcast_joins == 0 and st.num_sortmerge_joins == 0, st.text[:2000]
        # exactly: lead()/count() window by conv_id + the group hash-agg.
        # Dedup is a projection (elements_unique) and endpoint expansion is
        # joinless — 2 shuffles end to end, independent of data size.
        assert st.num_exchanges <= 2, f"{st.num_exchanges} exchanges\n" + st.text[:3000]
        # codegen spans are hidden under AdaptiveSparkPlan pre-execution;
        # Python-free-ness is asserted in test_grouping_stays_in_codegen


def test_binding_builds_only_what_the_grouping_reads(spark, tmp_path):
    """The flagship grouping (``:label`` keys, Count + AvgProperty
    ("text_len")) reads each endpoint's label and the vertex text length,
    nothing more: the edge plan never reads ``text`` from parquet, the
    vertex plan's conv_id exchange carries ``length(text)`` instead of the
    raw text, and neither plan builds property bags, hour buckets or
    endpoint structs. A key that does read a bag entry keeps it."""
    path = str(tmp_path / "turns")
    generate_transcripts(spark, 200).write.parquet(path)
    cfg = StreamGraphConfig(window=WindowConfig.tumbling(600, "SECONDS"))

    def grouped(vertex_keys):
        op = (
            GroupingBuilder()
            .add_vertex_grouping_keys(vertex_keys)
            .add_vertex_aggregate_function(Count())
            .add_vertex_aggregate_function(AvgProperty("text_len"))
            .add_edge_grouping_key(":label")
            .add_edge_aggregate_function(Count())
            .set_window_config(cfg.window)
            .set_config(cfg)
            .build()
        )
        out = transcript_graph(spark.read.parquet(path), cfg).apply(op)
        for df in (out.vertices, out.edges):
            df.collect()
        return out

    out = grouped([":label"])
    # the split's ``kind`` filter prunes the other element kind from the one
    # tagged aggregation: each output keeps its own plan, with one binding
    # shuffle and no union of the two element streams
    for df in (out.vertices, out.edges):
        final = _plan(df).split("== Initial Plan ==")[0]
        assert final.count("Exchange hashpartitioning(conv_id") == 1, final
        assert "Union" not in final, final
    edge_reads = plan_stats(out.edges).read_schemas
    assert edge_reads, edge_reads
    assert all("text" not in re.findall(r"(\w+):", rs) for rs in edge_reads), edge_reads
    vplan = _plan(out.vertices).splitlines()
    # the final and the initial adaptive plan each list the exchange once
    exchanges = [i for i, line in enumerate(vplan) if "Exchange hashpartitioning(conv_id" in line]
    assert exchanges, "\n".join(vplan)
    for below in (vplan[i + 1] for i in exchanges):
        assert "Project [" in below and re.search(r"length\(text#\d+\) AS text_len", below), below
        assert not re.search(r"[\[,] ?text#\d+[,\]]", below), below
    for df in (out.vertices, out.edges):
        plan = _plan(df)
        for built in ("date_format", "map_from_arrays", "named_struct(vertex_id"):
            assert built not in plan, plan[:3000]
    # pruning drops only what nothing reads
    keyed = grouped([":label", "hour_bucket"])
    for df in (keyed.vertices, keyed.edges):
        assert "date_format" in _plan(df)


def test_sliding_fast_path_edges_compile_without_fallback(spark):
    """The sliding-window fast-path edge plan compiles with Java codegen:
    collected with ``spark.sql.codegen.fallback=false``, a compile failure
    raises instead of falling back to interpreted execution. A per-edge
    super-id projection over the sliding window's ``Expand`` once failed
    to compile (``')' expected instead of '['``)."""
    cfg = StreamGraphConfig(window=WindowConfig.sliding(600, 300, "SECONDS"))
    out = transcript_graph(generate_transcripts(spark, 200), cfg).apply(_op(cfg))
    before = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        rows = out.edges.collect()
    finally:
        spark.conf.set("spark.sql.codegen.fallback", before)
    assert rows


def test_flagship_build_py4j_commands(spark, monkeypatch):
    """Building the flagship grouping plan, ``transcript_graph(t, cfg)
    .apply(op)``, is a fixed cost per job on the Python side: every DataFrame hop is a
    JVM analysis and every ``Column`` method a few py4j round trips. The
    binding and the stages are SQL expression templates, so a warm build
    sends at most 600 py4j commands (~2,900 when they were built from
    ``Column`` methods)."""
    cfg = StreamGraphConfig(window=WindowConfig.tumbling(600, "SECONDS"))
    op = (
        GroupingBuilder()
        .add_vertex_grouping_key(":label")
        .add_vertex_aggregate_function(Count())
        .add_vertex_aggregate_function(AvgProperty("text_len"))
        .add_edge_grouping_key(":label")
        .add_edge_aggregate_function(Count())
        .set_window_config(cfg.window)
        .set_config(cfg)
        .build()
    )
    t = generate_transcripts(spark, 50)
    transcript_graph(t, cfg).apply(op)  # warm: classes and functions resolved once
    client = spark.sparkContext._gateway._gateway_client
    sent = []
    send = client.send_command

    def counting(*args, **kwargs):
        sent.append(args[0] if args else None)
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    out = transcript_graph(t, cfg).apply(op)
    monkeypatch.undo()
    assert len(sent) <= 600, len(sent)
    assert out.vertices.count() > 0 and out.edges.count() > 0


def test_grouping_stays_in_codegen(spark):
    """No Python UDFs in the default grouping hot path: every stage is
    Catalyst expressions (BatchEvalPython/ArrowEvalPython absent)."""
    from graph_stream_zoomer_spark import AvgProperty

    def op_with_prop(cfg):
        return (
            GroupingBuilder()
            .add_vertex_grouping_key(":label")
            .add_vertex_aggregate_function(AvgProperty("text_len"))
            .add_edge_grouping_key(":label")
            .add_edge_aggregate_function(Count())
            .set_window_config(cfg.window)
            .set_config(cfg)
            .build()
        )

    cfg = StreamGraphConfig(window=WindowConfig.tumbling(600, "SECONDS"))
    t = generate_transcripts(spark, 200)
    out = transcript_graph(t, cfg).apply(op_with_prop(cfg))
    txt = plan_stats(out.vertices).text
    assert "EvalPython" not in txt


def test_session_expand_join_broadcasts_summary_side(spark):
    """Session-window J1: the raw-vertex × summary expand join must
    broadcast the (small by construction) summary side — a BroadcastHash
    join on the null-safe group keys, never a sort-merge shuffle of the
    raw side and never a nested-loop fallback."""
    cfg = StreamGraphConfig(window=WindowConfig.session(300, "SECONDS"))
    t = generate_transcripts(spark, 200)
    graph = transcript_graph(t, cfg)
    op = _op(cfg)
    # stage 6 in isolation (the full edge plan also holds the legitimate
    # big×big raw-edge join; this pins the raw-vertex × summary join only)
    enhanced_v = op.enhance_vertices(op.dedup_vertices(graph.vertices))
    expanded = op.expand_vertices(enhanced_v, op.group_vertices(enhanced_v))
    st = plan_stats(expanded)
    assert st.num_broadcast_joins >= 1, st.text[:3000]
    assert st.num_sortmerge_joins == 0, st.text[:3000]
    assert "BroadcastNestedLoopJoin" not in st.text, st.text[:3000]


def test_ann_broadcasts_query_side(spark):
    from graph_stream_zoomer_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = brute_force_topk(emb, emb.where("vec_id < 3"), k=5)
    st = plan_stats(q)
    assert "BroadcastNestedLoopJoin" in st.text or st.num_broadcast_joins >= 1, st.text[:2000]
    assert st.num_sortmerge_joins == 0


def test_bucketed_layout_elides_binding_shuffle(spark, tmp_path):
    """Storage layout as an optimization: a conv_id-bucketed transcript
    table must satisfy the successor-window's required distribution at scan
    time, eliding exchange (1) — the full-table shuffle — and leaving ONLY
    the aggregation exchange. This is the bucket(conv_id) claim from
    streaming/binding.py proven on a real plan."""
    from graph_stream_zoomer_spark.sources.bucketed import (
        read_bucketed_transcripts,
        write_bucketed_transcripts,
    )

    cfg = StreamGraphConfig(window=WindowConfig.tumbling(600, "SECONDS"))
    t = generate_transcripts(spark, 300)
    spark.sql("DROP TABLE IF EXISTS gsz_test_bucketed")
    write_bucketed_transcripts(
        t, "gsz_test_bucketed", buckets=8, path=str(tmp_path / "bucketed")
    )
    try:
        bt = read_bucketed_transcripts(spark, "gsz_test_bucketed")
        out = transcript_graph(bt, cfg).apply(_op(cfg))
        st = plan_stats(out.vertices)
        assert st.num_exchanges <= 1, f"{st.num_exchanges} exchanges\n" + st.text[:3000]
        # same data, unbucketed baseline: the window shuffle is back
        ub = spark.read.parquet(str(tmp_path / "bucketed"))
        st_ub = plan_stats(transcript_graph(ub, cfg).apply(_op(cfg)).vertices)
        assert st_ub.num_exchanges == 2, st_ub.text[:2000]
        # and the results are identical either way
        a = sorted(map(tuple, out.vertices.drop("vertex_id").collect()))
        b_rows = transcript_graph(ub, cfg).apply(_op(cfg)).vertices.drop("vertex_id")
        assert a == sorted(map(tuple, b_rows.collect()))
    finally:
        spark.sql("DROP TABLE IF EXISTS gsz_test_bucketed")


def test_ngram_jaccard_default_caps_shingle_df(spark):
    """The DEFAULT jaccard call must cap shingle document-frequency (hot
    shingles would otherwise make the inverted-index self-join quadratic):
    the plan carries a `count > cap` filter feeding a broadcast anti-join,
    and the exact uncapped form is opt-in via max_shingle_df=None."""
    from graph_stream_zoomer_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    txt = plan_stats(ngram_jaccard_pairs(docs, threshold=0.5)).text
    assert "LeftAnti" in txt, txt[:2000]
    assert "> 1000" in txt, txt[:2000]
    txt_exact = plan_stats(
        ngram_jaccard_pairs(docs, threshold=0.5, max_shingle_df=None)
    ).text
    assert "LeftAnti" not in txt_exact


def test_minhash_fast_path_single_signature_aggregate(spark):
    """The DEFAULT (xxhash64) minhash path must compute the whole signature
    as one groupBy(doc) with num_hashes min-aggregates — NOT the
    explode-per-hash-index shape, whose shuffle carries num_hashes× the
    shingle rows. Pin: exactly one aggregation keyed on doc alone before the
    bucket self-join (the md5 oracle shape has an extra (doc, i) grouping),
    and no `sequence(0, ...)` hash-index generator in the plan."""
    from graph_stream_zoomer_spark.operators.dedup import minhash_lsh_candidates

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # BARE-DEFAULT call: the deployment-safe fast path must be what callers
    # get without asking (reproducible defaults to False; the md5 oracle
    # shape is opt-in). Regression for the flipped default.
    txt = plan_stats(minhash_lsh_candidates(docs)).text
    assert "m31" in txt, txt[:2000]  # 32nd signature slot is a named agg output
    # joinless pair generation: ONE scan (a self-join would duplicate the
    # whole signature subtree), no join operator at all.
    tree = txt.split("\n\n")[0]  # formatted-plan tree, before the node details
    assert tree.count("Scan parquet") == 1, tree
    assert "Join" not in tree, tree
    # one partial+final signature agg + one partial+final pair-distinct = 4
    # HashAggregates (bucket collect_set is an ObjectHashAggregate pair).
    assert tree.replace("ObjectHashAggregate", "OHA").count("HashAggregate") == 4, tree


def test_embedding_near_dup_default_is_bucketed(spark):
    """The DEFAULT embedding near-dup must join within LSH buckets, never
    all-pairs (no cross join in the plan); all-pairs is the explicit
    num_buckets=1 oracle baseline."""
    from graph_stream_zoomer_spark.operators.dedup import embedding_near_duplicates

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    txt = plan_stats(embedding_near_duplicates(emb, threshold=0.9)).text
    assert "_bkt" in txt, txt[:2000]
    assert "CartesianProduct" not in txt and "NestedLoop" not in txt, txt[:2000]


def test_streaming_join_state_carries_no_text_payload(spark):
    """State-byte pushdown pin: the successor join's buffered rows must
    carry text_len, never the raw text payload (~75% of row bytes; state
    volume was the streaming job's scaling ceiling — BENCH.md 'Streaming
    state volume'). Catalyst does not column-prune through state stores,
    so the projection must sit below the join by construction."""
    from graph_stream_zoomer_spark.sources.transcripts import generate_transcripts, slim_turns
    from graph_stream_zoomer_spark.streaming.binding import _joined_successors

    turns = generate_transcripts(spark, 5)
    slim_cols = set(slim_turns(turns).columns)
    assert "text" not in slim_cols and "text_len" in slim_cols
    joined = _joined_successors(slim_turns(turns), "10 seconds", "1 hour")
    buffered = {f.name for f in joined.schema.fields}
    assert "text" not in buffered, "raw text payload reached the join state"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _lead_window_input(plan) -> set[str]:
    """Column names entering the one ``lead()`` window of a logical plan."""
    nodes, windows = [plan], []
    while nodes:
        n = nodes.pop()
        kids = n.children()
        nodes += [kids.apply(i) for i in range(kids.size())]
        if n.nodeName() == "Window" and "lead(" in n.toString():
            windows.append(n)
    assert len(windows) == 1, plan.toString()
    out = windows[0].child().output()
    return {out.apply(i).name() for i in range(out.size())}


def test_gate_edge_row_binds_slim_turns(spark):
    """The gate's edge row (``graph_group_edge_transition``) binds the
    ``events`` table with the benchmark's transcript binding: its successor
    ``lead()`` window is built over the slim turns, ``text_len`` in place
    of the raw ``text`` (the events' ``props`` JSON), and what runs carries
    neither."""
    import __spark_entry__ as entry

    qe = entry.q_graph_group_edge_transition(spark, SF_DIR)._jdf.queryExecution()
    built = _lead_window_input(qe.analyzed())
    assert built == {"conv_id", "turn_idx", "role", "tool", "value_c", "ts", "text_len"}, built
    assert not {"text", "props"} & _lead_window_input(qe.optimizedPlan())


def test_conversation_stats_two_exchange_combinable(spark):
    """Rollup = partial-agg → ONE conv_id exchange (+ one for the distinct
    pre-agg on (conv_id, role), itself map-side partial) — and zero Python."""
    from graph_stream_zoomer_spark.operators.rollup import conversation_stats
    from graph_stream_zoomer_spark.sources.transcripts import generate_transcripts

    plan = _plan(conversation_stats(generate_transcripts(spark, 50)))
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "partial_count" in plan  # map-side combine before the exchange
    assert "Python" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_sessionize_single_exchange_two_window_passes(spark):
    """lag + running-sum share the conv_id partitioning: exactly one
    exchange, and every window spec is partitioned (no global sort)."""
    from graph_stream_zoomer_spark.operators.rollup import sessionize
    from graph_stream_zoomer_spark.sources.transcripts import generate_transcripts

    plan = _plan(sessionize(generate_transcripts(spark, 50)))
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Exchange SinglePartition") == 0
    assert "Python" not in plan


def test_quality_filter_no_nested_loop_no_python(spark):
    """The enrich join must stay an equi-join (broadcast at this size, SMJ
    at scale) and all gates stay Catalyst-side."""
    from graph_stream_zoomer_spark.operators.quality import quality_filter

    docs = spark.createDataFrame(
        [(i, f"some text number {i} with the and of words", "en") for i in range(20)],
        "doc_id long, text string, lang string",
    )
    plan = _plan(quality_filter(docs, langs=("en",)))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "Python" not in plan
    assert plan.count("Exchange hashpartitioning") <= 3


def test_duplicate_spans_two_keyed_exchanges_no_python(spark):
    """Span dedup's plan contract: window emission is a pure projection,
    the duplicate count + first-occurrence rank share ONE hash-keyed
    exchange (no groupBy+join pair), the islands merge runs on ONE
    doc-keyed exchange that the final merge aggregate reuses (subset
    clustering) — and nothing falls back to a global-sort window or
    Python."""
    from graph_stream_zoomer_spark.operators.spans import duplicate_spans

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(duplicate_spans(docs, already_parallel=True))
    assert plan.count("Exchange hashpartitioning") == 2, plan[:3000]
    assert "Exchange SinglePartition" not in plan  # no global-sort window
    assert "Join" not in plan and "Python" not in plan


def test_tpch_q3_broadcasts_dim_and_takeordered(spark):
    """The relational big-join path: segment-filtered customer must come
    in as a broadcast hash join, the lineitem⋈orders join is the one
    shuffle join, and the global top-10 is TakeOrderedAndProject — never
    a full sort."""
    import __spark_entry__ as entry

    df = entry.extra_queries()["tpch_shipping_priority"](spark, SF_DIR)
    st = plan_stats(df)
    assert st.num_broadcast_joins >= 1, st.text[:3000]
    assert "BroadcastNestedLoopJoin" not in st.text and "CartesianProduct" not in st.text
    assert "TakeOrderedAndProject" in st.text, st.text[:3000]
    assert any("l_shipdate" in f or "o_orderdate" in f for f in st.pushed_filters), st.pushed_filters


def test_streaming_job_plan_shape(spark, tmp_path, monkeypatch):
    """The unified streaming query runs exactly two state operators per
    data trigger (the successor join and one windowed aggregation of the
    tagged vertex and edge elements) with the expected state key, no
    Python evaluation, and reads each chunk at most three times (both
    successor-join sides and the stateless vertex branch scan the
    source). Edge elements are keyed by their endpoints' vertex-group
    values (here the labels), not by per-edge super ids."""
    import os
    import re

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from graph_stream_zoomer_spark.streaming.job import read_transcript_stream, run_grouping_job

    queries = []
    start = DataStreamWriter.start

    def recording_start(self, *args, **kwargs):
        queries.append(start(self, *args, **kwargs))
        return queries[-1]

    monkeypatch.setattr(DataStreamWriter, "start", recording_start)
    turns = generate_transcripts(spark, 30, late_fraction_pct=0, skew=False)
    table = pa.Table.from_pandas(turns.toPandas(), preserve_index=False).sort_by("ts")
    d = str(tmp_path / "turns")
    os.makedirs(d)
    half = table.num_rows // 2
    chunks = [table.slice(0, half), table.slice(half)]
    for i, chunk in enumerate(chunks):
        f = os.path.join(d, f"chunk-{i}.parquet")
        pq.write_table(chunk.cast(chunk.schema.set(5, pa.field("ts", pa.timestamp("us", "UTC")))), f)
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))
    cfg = StreamGraphConfig(window=WindowConfig.tumbling(600, "SECONDS"))
    stream = read_transcript_stream(spark, d, max_files_per_trigger=1)
    result = run_grouping_job(spark, stream, _op(cfg), str(tmp_path / "out"))

    data = [p for p in result.listener.progress if p["num_input_rows"] > 0]
    assert len(data) == len(chunks), result.listener.progress
    for p, chunk in zip(data, chunks):
        ops = sorted(so["operator"] for so in p["state_detail"])
        assert ops == ["stateStoreSave", "symmetricHashJoin"], ops
        assert p["num_input_rows"] <= 3 * chunk.num_rows, (p["num_input_rows"], chunk.num_rows)
    (q,) = queries
    plan = q._jsq.explainInternal(True)
    assert "EvalPython" not in plan, plan[:3000]
    # the aggregation state is keyed by the watermarked window, the element
    # kind and the two kinds' grouping columns only
    keys = [re.sub(r"#\d+", "", k) for k in re.findall(r"StateStoreSave \[([^\]]*)\]", plan)]
    expected = "window-T10000ms, kind, vertex_label, source_vertex_label, target_vertex_label, edge_label"
    assert keys == [expected], keys
    # the successor join is keyed by conversation and 16-turn bucket, never
    # by turn: adjacency stays a residual condition, so each buffered turn
    # costs one value, not one more key
    (join,) = re.findall(r"StreamingSymmetricHashJoin \[([^\]]*)\], \[([^\]]*)\]", plan)
    left, right = (re.sub(r"#\d+", "", k) for k in join)
    assert left == "conv_id, (cast((turn_idx + 1) as bigint) div 16)", left
    assert right == "conv_id, (cast(turn_idx as bigint) div 16)", right
    assert re.search(r"\(\(turn_idx#\d+ - turn_idx#\d+\) = 1\)", plan), plan[:5000]
    # the successor side reads turns 1.. only (a turn 0 is nobody's successor)
    b_turn = re.search(r"turn_idx#\d+", join[1]).group(0)
    assert re.search(rf"Filter .*\({b_turn} >= 1\)", plan), (b_turn, plan[:5000])
