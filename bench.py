"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE COMPACT JSON line (must stay under the driver's ~2,000-char
stdout tail capture — r4's line with the cold map inline overflowed it and
the official artifact recorded "parsed": null):
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: warm_best_sec (2dp), ...}, "warm_trials": N,
   "sf": ..., "turns_per_sec": ..., "flagship_cold_sec": ..., "cpus": N}
The full-precision record including "queries_cold" {name: first_run_sec}
is written to BENCH_detail.json next to this script.

Per-cell protocol: 1 cold execution (JIT/codegen-dominated, recorded in
queries_cold) + $SPARK_GRAFT_BENCH_WARM (default 2) warm re-executions;
"queries" and the total "value" use the warm best, so a host-noise spike
in one trial cannot fabricate a round-over-round regression (r03's raw
JSON showed phantom 2-3x swings from a single degraded-host visit).

The flagship measurement is windowed graph-stream grouping throughput over
a deterministic synthetic transcript stream (grouped turns/sec — the
north-star metric); the remaining queries cover the operator families.
Scaling-efficiency evidence (local[8] vs local[32]) lives in
scripts/scaling_bench.py → BENCH.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# transcript conversations for the flagship throughput run (~9 turns each)
N_CONVS = int(os.environ.get("SPARK_GRAFT_BENCH_CONVS", "200000"))


def build_spark(cpus: int) -> SparkSession:
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("gsz-bench")
        .config("spark.sql.shuffle.partitions", str(max(cpus * 2, 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # ParallelGC beats default G1 by ~45% on this shuffle-heavy profile
        .config("spark.driver.extraJavaOptions", f"-XX:+UseParallelGC -XX:ParallelGCThreads={max(2, cpus)}")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .getOrCreate()
    )


def bench_queries(spark: SparkSession, sf_dir: str) -> tuple[dict, dict]:
    """Returns ({query: seconds}, extras)."""
    import __spark_entry__ as entry

    from graph_stream_zoomer_spark import Count, AvgProperty, StreamGraphConfig, WindowConfig
    from graph_stream_zoomer_spark.operators.grouping import GroupingBuilder
    from graph_stream_zoomer_spark.sources.transcripts import generate_transcripts, transcript_graph

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    extras: dict[str, float] = {}
    n_warm = int(os.environ.get("SPARK_GRAFT_BENCH_WARM", "2"))

    def run(name, fn):
        # Drift-robust per-cell protocol (BENCH.md discipline, now in the
        # recorded artifact): first execution is the JIT/codegen-cold trial
        # (reported in queries_cold), the headline number is the best of
        # n_warm warm re-executions — host-noise spikes (r03's recorded
        # JSON showed phantom 2-3x regressions from a degraded-host visit)
        # hit one trial, not the min.
        t0 = time.time()
        n = fn()
        cold[name] = round(time.time() - t0, 3)
        best = cold[name]
        for _ in range(n_warm):
            t0 = time.time()
            fn()
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)
        return n

    # --- flagship: windowed graph grouping over synthetic transcripts ----
    t = generate_transcripts(spark, N_CONVS)
    n_turns = t.count()  # materialization cost excluded from the grouping timing

    def flagship():
        cfg = StreamGraphConfig(window=WindowConfig.tumbling(600, "SECONDS"))
        graph = transcript_graph(t, cfg)
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
        out = graph.apply(op)
        return out.vertices.count() + out.edges.count()

    # JIT warm-up + min-of-3 warm trials: the first execution of this plan in
    # a fresh JVM is dominated by codegen/JIT compilation (~2-3× steady
    # state), which made round-over-round flagship deltas pure noise. The
    # cold trial is reported separately; the headline number is steady-state
    # throughput (same protocol as scripts/scaling_bench.py).
    t_cold0 = time.time()
    flagship()
    extras["flagship_cold_sec"] = round(time.time() - t_cold0, 3)
    warm = []
    for _ in range(3):
        t0 = time.time()
        flagship()
        warm.append(time.time() - t0)
    timings["graph_grouping_transcripts"] = round(min(warm), 3)
    extras["turns"] = n_turns
    extras["turns_per_sec"] = round(n_turns / timings["graph_grouping_transcripts"], 1)

    # --- operator-family queries over the driver tables ------------------
    # both registries: queries() is the 50-key driver gate window,
    # extra_queries() the curated-out overflow — the bench keeps timing the
    # same cells it always has regardless of which registry a key lives in
    qs = dict(entry.queries())
    qs.update(entry.extra_queries())
    for name in [
        "tpch_pricing_summary",  # biggest input: 600k lineitem rows at sf0.1
        "tpch_shipping_priority",  # 3-table join path at the same volume
        "graph_group_role_count",
        "graph_group_role_count_salted",
        "graph_group_role_minmax",
        "graph_group_role_median",
        "graph_group_window_users",
        "graph_group_edge_transition",
        "graph_group_sliding",
        "graph_group_session",
        "graph_group_top_transitions",
        "graph_pagerank",
        "graph_structure",
        "cep_sequence_match",
        "cep_followed_by",
        "dedup_fingerprint",
        "dedup_clusters",
        "pack_sequences",
        "bpe_token_counts",
        "asof_click",
        "rate_anomalies",
        "conv_rollup",
        "interval_join_first5m",
        "pii_redact",
        "doc_mix_sample",
        "sessionize",
        "quality_filter",
        "decontam_overlap",
        "text_repetition",
        "bm25_scores",
        "top_terms",
        "lm_doc_scores",
        "dedup_ngram_jaccard",
        "dedup_minhash_lsh",
        "ann_cosine_topk",
        "ann_int8_topk",
        "embedding_stats",
        "text_stats",
        "media_digests",
    ]:
        fn = qs[name]
        run(name, lambda f=fn: f(spark, sf_dir).count())

    # --- scale-path variants (xxhash64 fast paths + capped/bucketed
    # defaults). The driver queries() for these operators run the md5-based
    # `reproducible` oracle modes; the bench pins the deployment defaults so
    # round-over-round numbers keep measuring the same thing as r01.
    from pyspark.sql import functions as F

    from graph_stream_zoomer_spark.operators.dedup import (
        embedding_near_duplicates,
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
        simhash_duplicates,
    )
    from graph_stream_zoomer_spark.operators.similarity import lsh_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    run("dedup_simhash", lambda: simhash_duplicates(docs, prefix_bits=8).count())
    run(
        "ann_lsh_topk",
        lambda: lsh_topk(emb, emb.where(F.col("vec_id") < 3), k=10, bits=4).count(),
    )
    run(
        "ann_lsh_topk_multitable",
        # the recall-bearing config (bits=4 L=16; recall@10 ≈ 0.89 on the
        # adversarial random-vector corpus — see BENCH.md "ANN recall")
        lambda: lsh_topk(
            emb, emb.where(F.col("vec_id") < 3), k=10, bits=4, n_tables=16
        ).count(),
    )
    run(
        "dedup_minhash_lsh_fast",
        # single-groupBy vote-agg signature path (no num_hashes× explode)
        lambda: minhash_lsh_candidates(docs, reproducible=False).count(),
    )

    def _pipeline_keep_best():
        # the realistic end-to-end dedup pipeline: fast minhash pair
        # emission → connected components → quality-priority survivors
        from graph_stream_zoomer_spark.functions.text import expr_quality_score
        from graph_stream_zoomer_spark.operators.components import keep_best_per_cluster

        pairs = minhash_lsh_candidates(docs, reproducible=False)
        return keep_best_per_cluster(docs, pairs, expr_quality_score("text")).count()

    run("dedup_pipeline_keep_best", _pipeline_keep_best)

    def _spans_strip():
        # exact-substring dedup deployment path (xxhash64 windows) +
        # keep-first strip fold, end to end
        from graph_stream_zoomer_spark.operators.spans import strip_duplicate_spans

        return strip_duplicate_spans(docs).count()

    run("dedup_spans_strip", _spans_strip)
    run(
        "dedup_ngram_jaccard_capped",
        lambda: ngram_jaccard_pairs(docs, threshold=0.05).count(),  # default df cap
    )
    run(
        "dedup_embedding_cosine_bucketed",
        lambda: embedding_near_duplicates(emb, threshold=0.4).count(),  # default buckets
    )

    # sketch family, deployment (xxhash64) paths — the driver-gate rows run
    # the md5 reproducible modes
    from graph_stream_zoomer_spark.operators.sketches import (
        bloom_semi_join,
        cms_heavy_hitters,
        hll_estimate,
        hll_registers,
        kmv_distinct,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    run(
        "kmv_distinct_fast",
        lambda: kmv_distinct(ev, "user_id", k=64, group_cols=["event_type"]).count(),
    )
    run(
        "hll_estimate_fast",
        lambda: hll_estimate(
            hll_registers(ev, "user_id", b=8, group_cols=["event_type"]),
            b=8,
            group_cols=["event_type"],
        ).count(),
    )
    run(
        "cms_heavy_hitters_fast",
        lambda: cms_heavy_hitters(ev, "user_id", threshold=78).count(),
    )

    def _bloom_prune_orders():
        cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        build = cust.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
        return bloom_semi_join(orders, "o_custkey", build, "c_custkey").count()

    run("bloom_semi_join_fast", _bloom_prune_orders)

    def _quantile_sketch():
        from graph_stream_zoomer_spark.operators.sketches import quantile_sketch

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        # biggest table at this sf: per-flag p50/p90/p99 of the cents-exact
        # extendedprice from one corpus exchange (<= 64*32 bins per group)
        v = (F.col("l_extendedprice") * 100).cast("long")
        return quantile_sketch(
            li.select("l_returnflag", v.alias("v")),
            "v",
            [500_000, 900_000, 990_000],
            r=5,
            group_cols=["l_returnflag"],
        ).count()

    run("quantile_sketch_fast", _quantile_sketch)

    def _kmeans_train_ivf():
        # coarse-quantizer training (Arrow matmul assignment, 2 Lloyd
        # rounds — ~1.7 s/round of per-job fixed cost at this sf) + one
        # trained-IVF probe pass. The recall payoff is pinned at it=4 in
        # tests/test_kmeans.py (trained 0.85 vs sampled 0.70 @ probe=8)
        from graph_stream_zoomer_spark.operators.kmeans import (
            centroids_as_floats,
            train_kmeans,
        )
        from graph_stream_zoomer_spark.operators.similarity import ivf_topk

        cents = train_kmeans(emb, 16, 2, reproducible=False)
        return ivf_topk(
            emb,
            emb.where(F.col("vec_id") < 3),
            k=10,
            n_probe=8,
            centroids=centroids_as_floats(cents),
        ).count()

    run("kmeans_train_ivf", _kmeans_train_ivf)

    def _ivf_probe_256c():
        # production-scale coarse quantizer (256 centroids): the Arrow
        # matmul probe keeps driver plan-compile flat where the r03
        # literal fold already paid ~4 s at just 16 centroids (and would
        # not survive 4k+). Centroids injected (md5 sample) so the cell
        # times ONLY the probe path, not training.
        from graph_stream_zoomer_spark.operators.similarity import ivf_topk

        rows = (
            emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
            .orderBy(F.md5(F.col("vec_id").cast("string")))
            .limit(256)
            .collect()
        )
        cents = [(int(r["vec_id"]), list(r["v"])) for r in rows]
        return ivf_topk(
            emb, emb.where(F.col("vec_id") < 3), k=10, n_probe=8, centroids=cents
        ).count()

    run("ivf_probe_256c", _ivf_probe_256c)

    def _pq_encode_arrow():
        # PQ deployment path: Arrow numpy encode (bit-identical to the
        # Catalyst literal form, which pays ~20 s flat expression-compile
        # cost — that form exists for the SQL oracle, not for scale)
        from graph_stream_zoomer_spark.operators.pq import (
            pq_encode,
            sample_pq_codebooks,
        )

        books = sample_pq_codebooks(emb, 64)
        return pq_encode(emb, books, use_arrow=True).count()

    run("pq_encode_arrow", _pq_encode_arrow)

    def _ivfpq_batch_1k():
        # batch query side: 1,000 queries as a DataFrame — probe cells +
        # ADC LUTs built in one Arrow mapInPandas pass (zero driver loop,
        # zero createDataFrame of literal LUT rows). The r4 driver-list
        # form was O(n_queries) driver Python; this cell pins that the
        # DataFrame form's wall time stays flat at 10³ queries (and the
        # mechanism is flat at 10⁶).
        from graph_stream_zoomer_spark.operators.pq import (
            ivfpq_topk,
            sample_coarse_centroids,
            sample_pq_codebooks,
        )

        coarse = sample_coarse_centroids(emb, n_centroids=64)  # Arrow assign
        books = sample_pq_codebooks(emb, 64, k=16)
        qdf = emb.where(F.col("vec_id") < 1000)
        return ivfpq_topk(emb, qdf, coarse, books, k=10, n_probe=4).count()

    run("ivfpq_batch_1k_queries", _ivfpq_batch_1k)

    extras["queries_cold"] = cold
    extras["warm_trials"] = n_warm
    return timings, extras


def main() -> None:
    spark = build_spark(CPUS)
    try:
        timings, extras = bench_queries(spark, SF_DIR)
    finally:
        spark.stop()
    total = round(sum(timings.values()), 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "grouped turns/sec (windowed graph-grouping throughput) + operator suite wall time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": CPUS,
        **extras,
    }
    # full record (cold map, warm-trial count, untruncated values) goes to a
    # repo file; stdout gets ONE COMPACT line — the driver's tail capture
    # holds only ~2,000 chars, and r4's combined warm+cold line overflowed
    # it, leaving BENCH_r04.json unparseable ("parsed": null)
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_detail.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    compact = {
        **out,
        "queries": {k: round(v, 2) for k, v in timings.items()},
    }
    compact.pop("queries_cold", None)
    line = json.dumps(compact, separators=(",", ":"))
    # degrade gracefully rather than assert: a crash here would record NO
    # line at all — strictly worse than a slightly coarser one. Each step
    # stays valid JSON with the headline metric/value/queries intact.
    if len(line) > 1800:  # step 1: drop per-cell cold/JIT extras
        compact.pop("flagship_cold_sec", None)
        line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1800:  # step 2: 1-decimal cells (±0.05 s, noise floor)
        compact["queries"] = {k: round(v, 1) for k, v in timings.items()}
        line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:  # step 3: drop the fastest cells first, keeping the slow ones
        items = sorted(timings.items(), key=lambda kv: kv[1], reverse=True)
        while len(line) > 1900 and items:
            items.pop()
            compact["queries"] = {k: round(v, 1) for k, v in items}
            compact["queries_truncated"] = True
            line = json.dumps(compact, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
