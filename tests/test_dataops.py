"""Unit tests for the training-data pipeline operators: planted duplicates
must be found, clean docs must not be flagged; pandas-UDF and Catalyst text
functions must agree; ANN rankings must match brute force on easy cases."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graph_stream_zoomer_spark.functions.text import (
    expr_lang_id,
    expr_quality_score,
    expr_text_len,
    expr_token_count,
    pdf_lang_id,
    pdf_quality_score,
    pdf_rolling_fingerprint,
    pdf_text_len,
    pdf_token_count,
)
from graph_stream_zoomer_spark.operators.dedup import (
    exact_duplicates,
    embedding_near_duplicates,
    fingerprint_duplicates,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_duplicates,
)
from graph_stream_zoomer_spark.operators.multimodal import media_digests
from graph_stream_zoomer_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    lsh_topk,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches from "
    "the warm windowsill and the birds sing in the garden as morning light "
    "spreads across the quiet village streets"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact dup of 0
        (2, BASE + "!!!"),  # fingerprint dup of 0 (punctuation only)
        (3, BASE.replace("dog", "hound")),  # near dup (1 token changed)
        (4, "completely different content about spark query planning and shuffles"),
        (5, "another unrelated short text on benchmarking joins"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_and_fingerprint(docs):
    e = exact_duplicates(docs).collect()
    assert len(e) == 1 and e[0]["n_docs"] == 2 and e[0]["keeper_id"] == 0
    f = fingerprint_duplicates(docs).collect()
    assert len(f) == 1 and f[0]["n_docs"] == 3 and f[0]["keeper_id"] == 0


def test_ngram_jaccard(docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert (0, 3) in pairs and pairs[(0, 3)] < 1.0
    assert not any(4 in p or 5 in p for p in pairs)


def test_minhash_lsh_finds_planted(docs):
    cands = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_candidates(docs).collect()}
    assert (0, 1) in cands
    assert (0, 3) in cands  # near dup shares most shingles → some band collides
    assert (4, 5) not in cands
    fast = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_candidates(docs, reproducible=False).collect()
    }
    assert (0, 1) in fast


def test_simhash(docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_duplicates(docs, prefix_bits=4).collect()
    }
    assert pairs[(0, 1)] == 0  # identical text → identical simhash
    if (0, 3) in pairs:
        assert pairs[(0, 3)] <= 16  # near dup → small hamming distance


@pytest.fixture(scope="module")
def vectors(spark):
    import math

    def unit(theta):
        return [math.cos(theta), math.sin(theta), 0.0, 0.0]

    rows = [
        (0, unit(0.00), 0),
        (1, unit(0.01), 0),  # nearest to 0
        (2, unit(0.30), 0),
        (3, unit(1.50), 1),
        (4, unit(3.00), 1),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_brute_force_topk(vectors):
    q = vectors.where("vec_id = 0")
    top = brute_force_topk(vectors, q, k=2).orderBy("rank").collect()
    assert [r["neighbor_id"] for r in top] == [1, 2]
    arrow = brute_force_topk(vectors, q, k=2, use_arrow=True).orderBy("rank").collect()
    assert [r["neighbor_id"] for r in arrow] == [r["neighbor_id"] for r in top]
    for ra, rt in zip(arrow, top, strict=True):
        assert ra["cosine"] == pytest.approx(rt["cosine"], abs=1e-5)


def test_lsh_and_ivf_topk(vectors):
    q = vectors.where("vec_id = 0")
    lsh = lsh_topk(vectors, q, k=2, bits=2).collect()
    assert any(r["neighbor_id"] == 1 for r in lsh)  # hyperplane bucket keeps the near one
    ivf = ivf_topk(vectors, q, k=2, n_centroids=2, n_probe=2).orderBy("rank").collect()
    assert [r["neighbor_id"] for r in ivf] == [1, 2]


def test_ann_recall_floor_default_paths(spark):
    """Recall@10 of the deployment-default (xxhash64) ANN paths vs the
    exact baseline on the sf0.01 embeddings — the quality gauge the oracle
    checks (which pin only determinism of the md5 twins) cannot provide.
    The synthetic vectors are near-random (no cluster structure), i.e. the
    ADVERSARIAL case for ANN — real embedding corpora do better at the same
    settings. Floors are set ~0.05 under the measured values so bucketing
    regressions trip the test without flaking on tie-breaks."""
    from graph_stream_zoomer_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        lsh_topk,
        mean_recall_at_k,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").cache()
    q = emb.where(F.col("vec_id") < 10)
    exact = brute_force_topk(emb, q, k=10).cache()
    exact.count()

    # multi-table OR-amplification: per-table p^bits → 1-(1-p^bits)^L
    r_multi = mean_recall_at_k(lsh_topk(emb, q, k=10, bits=4, n_tables=24), exact, 10)
    assert r_multi >= 0.90, f"multi-table LSH recall@10 regressed: {r_multi:.3f}"
    r_single = mean_recall_at_k(lsh_topk(emb, q, k=10, bits=4), exact, 10)
    assert r_multi > r_single + 0.3  # amplification must actually amplify
    r_ivf = mean_recall_at_k(
        ivf_topk(emb, q, k=10, n_centroids=16, n_probe=8), exact, 10
    )
    assert r_ivf >= 0.60, f"IVF recall@10 regressed: {r_ivf:.3f}"
    emb.unpersist()
    exact.unpersist()


def test_embedding_near_duplicates(vectors):
    pairs = {(r["doc_a"], r["doc_b"]) for r in embedding_near_duplicates(vectors, 0.99).collect()}
    assert pairs == {(0, 1)}


def test_text_functions_pandas_matches_catalyst(spark, docs):
    df = docs.select(
        "doc_id",
        expr_text_len("text").alias("e_len"),
        pdf_text_len(F.col("text")).alias("p_len"),
        expr_token_count("text").alias("e_tok"),
        pdf_token_count(F.col("text")).alias("p_tok"),
        expr_quality_score("text").alias("e_q"),
        pdf_quality_score(F.col("text")).alias("p_q"),
        expr_lang_id("text").alias("e_lang"),
        pdf_lang_id(F.col("text")).alias("p_lang"),
    )
    for r in df.collect():
        assert r["e_len"] == r["p_len"]
        assert r["e_tok"] == r["p_tok"]
        assert abs(r["e_q"] - r["p_q"]) < 1e-9
        assert r["e_lang"] == r["p_lang"]
    assert df.where("doc_id = 0").collect()[0]["e_lang"] == "en"
    # rolling fingerprint: equal docs hash equal, different docs differ
    fps = {r["doc_id"]: r["fp"] for r in docs.select("doc_id", pdf_rolling_fingerprint(F.col("text")).alias("fp")).collect()}
    assert fps[0] == fps[1] and fps[0] != fps[4]


def test_media_digests_match_hashlib(docs):
    import hashlib

    rows = {r["doc_id"]: r["text"] for r in docs.collect()}
    out = {r["media_id"]: r for r in media_digests(docs).collect()}
    assert set(out) == set(rows)
    for i, text in rows.items():
        payload = text.encode("utf-8")
        assert out[i]["n_bytes"] == len(payload)
        assert out[i]["digest"] == hashlib.sha256(payload).hexdigest()


def test_simhash_reproducible_mode(docs):
    """The 32-bit md5-based `reproducible` simhash (the oracle-checked mode)
    behaves like the 64-bit fast path on planted dups and is deterministic."""
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_duplicates(docs, prefix_bits=4, reproducible=True).collect()
    }
    assert pairs[(0, 1)] == 0
    if (0, 3) in pairs:
        assert pairs[(0, 3)] <= 10  # near dup → small hamming (of 32 bits)
    again = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_duplicates(docs, prefix_bits=4, reproducible=True).collect()
    }
    assert pairs == again
    # signatures fit 32 bits (the SQL-portable range)
    from graph_stream_zoomer_spark.operators.dedup import simhash_table

    sigs = simhash_table(docs, reproducible=True).collect()
    assert all(0 <= r["simhash"] < 2**32 for r in sigs)


def test_lsh_topk_reproducible_scores_match_exact(vectors):
    """Reproducible-LSH results are a candidate-pruned subset of the exact
    ranking: every returned (query, neighbor) carries the same cosine the
    brute-force scorer computes for that pair."""
    q = vectors.where("vec_id < 2")
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in brute_force_topk(vectors, q, k=10, decimals=5).collect()
    }
    approx = lsh_topk(vectors, q, k=3, bits=2, reproducible=True, decimals=5).collect()
    assert approx, "reproducible LSH returned nothing"
    for r in approx:
        assert exact[(r["query_id"], r["neighbor_id"])] == r["cosine"]
    # same-bucket guarantee: a query is always a candidate of itself's bucket,
    # so its nearest twin (0↔1, angle 0.01 apart) must surface
    got_pairs = {(r["query_id"], r["neighbor_id"]) for r in approx}
    assert (0, 1) in got_pairs and (1, 0) in got_pairs


def test_ivf_topk_reproducible_deterministic(vectors):
    q = vectors.where("vec_id < 2")
    a = sorted(map(tuple, ivf_topk(vectors, q, k=3, n_centroids=3, n_probe=2,
                                   reproducible=True, decimals=5).collect()))
    b = sorted(map(tuple, ivf_topk(vectors, q, k=3, n_centroids=3, n_probe=2,
                                   reproducible=True, decimals=5).collect()))
    assert a == b and a
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in brute_force_topk(vectors, q, k=10, decimals=5).collect()
    }
    for row in a:
        assert exact[(row[0], row[1])] == row[2]


def test_connected_components_multihop(spark):
    """a~b, b~c must collapse transitively even when (a,c) was never
    emitted as a pair; singletons absent from pairs don't appear."""
    from graph_stream_zoomer_spark.operators.components import (
        connected_components,
        duplicate_clusters,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (5, 20)],
        "doc_a long, doc_b long",
    )
    cc = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 5: 5, 20: 5, 21: 5, 22: 5}
    clusters = {
        r["keeper_id"]: (r["n_members"], list(r["members"]))
        for r in duplicate_clusters(pairs).collect()
    }
    assert clusters == {
        1: (4, [1, 2, 3, 4]),
        10: (2, [10, 11]),
        5: (4, [5, 20, 21, 22]),
    }


def test_keep_best_per_cluster(spark):
    """Survivor selection keeps the highest-score member per cluster (NOT
    the min id), ties break to the smaller id, and docs outside every
    cluster survive untouched with n_members=1."""
    from pyspark.sql import functions as F

    from graph_stream_zoomer_spark.operators.components import keep_best_per_cluster

    docs = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (4, 0.1), (10, 0.5), (11, 0.5), (7, 0.0)],
        "doc_id long, q double",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
    )
    out = {
        r["doc_id"]: (r["score"], r["n_members"])
        for r in keep_best_per_cluster(docs, pairs, F.col("q")).collect()
    }
    # cluster {1,2,3,4}: 2 and 3 tie at 0.9 → 2 wins (smaller id)
    # cluster {10,11}: tie at 0.5 → 10 wins; 7 is untouched (singleton)
    assert out == {2: (0.9, 4), 10: (0.5, 2), 7: (0.0, 1)}


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """With checkpoint_dir set, lineage truncation uses reliable
    df.checkpoint() (survives executor loss on a real cluster) and results
    are unchanged; checkpoint files actually land in the dir."""
    import os

    from graph_stream_zoomer_spark.operators.components import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
    )
    ckpt = str(tmp_path / "cc-ckpt")
    try:
        cc = {
            r["node"]: r["component"]
            for r in connected_components(pairs, checkpoint_dir=ckpt).collect()
        }
        assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
        written = [
            os.path.join(dp, f) for dp, _, fs in os.walk(ckpt) for f in fs
        ]
        assert written, "reliable checkpoint dir is empty — localCheckpoint was used"
    finally:
        # don't leak the checkpoint dir into the shared-session tests
        jsc = spark.sparkContext._jsc.sc()
        getattr(jsc, "checkpointDir_$eq")(spark.sparkContext._jvm.scala.Option.empty())


def test_connected_components_nonconvergence_raises(spark):
    """A path graph longer than max_iter rounds must RAISE, not silently
    return split components (propagation is O(diameter), not O(log n))."""
    import pytest

    from graph_stream_zoomer_spark.operators.components import (
        ConvergenceError,
        connected_components,
    )

    # path 0-1-...-199: even with path halving (≈2^r reach per round),
    # 3 rounds cannot span diameter 199
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "doc_a long, doc_b long"
    )
    with pytest.raises(ConvergenceError):
        connected_components(pairs, max_iter=3).collect()
    # warn mode degrades instead of failing
    with pytest.warns(RuntimeWarning):
        connected_components(pairs, max_iter=3, on_nonconverged="warn").collect()
    # path halving spans the 199-diameter chain well inside 12 rounds —
    # plain propagation would need 199
    cc = {
        r["node"]: r["component"]
        for r in connected_components(pairs, max_iter=12).collect()
    }
    assert set(cc.values()) == {0}
    # and the single-shuffle mode stays correct on a short chain
    short = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "doc_a long, doc_b long"
    )
    cc2 = {
        r["node"]: r["component"]
        for r in connected_components(short, path_halving=False).collect()
    }
    assert set(cc2.values()) == {0}


def test_deterministic_sample(spark):
    """k-per-group subsample is stable across reruns and input order, keeps
    exactly min(k, group size) rows per stratum, and ranks by md5(key)."""
    from graph_stream_zoomer_spark.operators.packing import deterministic_sample

    rows = [(i, "en" if i % 3 else "de", f"s{i % 2}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, source string")
    s1 = deterministic_sample(df, k=4, key_col="doc_id", group_cols=["lang", "source"])
    got = sorted((r["lang"], r["source"], r["doc_id"]) for r in s1.collect())
    # stable under re-execution and input reordering
    s2 = deterministic_sample(
        df.orderBy(F.desc("doc_id")), k=4, key_col="doc_id", group_cols=["lang", "source"]
    )
    assert got == sorted((r["lang"], r["source"], r["doc_id"]) for r in s2.collect())
    from collections import Counter

    per_group = Counter((lang, src) for lang, src, _ in got)
    sizes = Counter((lang, src) for _, lang, src in rows)
    assert per_group == {g: min(4, n) for g, n in sizes.items()}
    # global (ungrouped) form
    g1 = {r["doc_id"] for r in deterministic_sample(df, k=7, key_col="doc_id").collect()}
    assert len(g1) == 7
    import pytest

    with pytest.raises(ValueError):
        deterministic_sample(df, k=0, key_col="doc_id")


def test_weighted_sample(spark):
    """A-ES weighted sampling: deterministic across reruns/input order,
    biased toward heavy weights, exact when k covers the group, loud on
    non-positive weights, and hash-disjoint from the uniform sampler."""
    import pytest

    from graph_stream_zoomer_spark.operators.packing import (
        deterministic_sample,
        weighted_sample,
    )

    rows = [(i, 20.0 if i < 100 else 0.2) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    s1 = sorted(r["doc_id"] for r in weighted_sample(df, 50, "doc_id", "w").collect())
    s2 = sorted(
        r["doc_id"]
        for r in weighted_sample(df.orderBy(F.desc("doc_id")), 50, "doc_id", "w").collect()
    )
    assert s1 == s2 and len(s1) == 50
    # 100:1 weight ratio: u^(1/20) vs u^5 — the heavy half must dominate
    heavy = sum(1 for d in s1 if d < 100)
    assert heavy >= 45, heavy
    # equal weights degrade to a uniform sample — but a DIFFERENT one than
    # deterministic_sample (disjoint "ws:" hash prefix)
    eq = spark.createDataFrame([(i, 1.0) for i in range(40)], "doc_id long, w double")
    wu = sorted(r["doc_id"] for r in weighted_sample(eq, 10, "doc_id", "w").collect())
    uu = sorted(r["doc_id"] for r in deterministic_sample(eq, 10, "doc_id").collect())
    assert wu != uu
    # grouped: min(k, group size) per group
    g = spark.createDataFrame(
        [(i, "a" if i % 2 else "b", float(i + 1)) for i in range(10)],
        "doc_id long, grp string, w double",
    )
    out = weighted_sample(g, 3, "doc_id", "w", group_cols=["grp"]).collect()
    from collections import Counter

    assert Counter(r["grp"] for r in out) == {"a": 3, "b": 3}
    big = weighted_sample(g, 99, "doc_id", "w", group_cols=["grp"])
    assert big.count() == 10
    with pytest.raises(ValueError):
        weighted_sample(df, 0, "doc_id", "w")
    bad = spark.createDataFrame([(1, 0.0)], "doc_id long, w double")
    with pytest.raises(Exception, match="must be > 0"):
        weighted_sample(bad, 1, "doc_id", "w").collect()


def test_percentile_aggregates(spark):
    """Exact percentile matches hand-computed interpolation, the approx
    sketch lands within tolerance, and the salted decomposition refuses
    (percentiles are not algebraic)."""
    import pytest

    from graph_stream_zoomer_spark.operators.aggregation import (
        ApproxPercentileProperty,
        PercentileProperty,
    )

    df = spark.createDataFrame([(float(v),) for v in (1, 2, 3, 4, 10)], "x double")
    med = PercentileProperty("x", 0.5)
    p90 = PercentileProperty("x", 0.9)
    apx = ApproxPercentileProperty("x", 0.5)
    row = df.agg(med.agg_expr("x"), p90.agg_expr("x"), apx.agg_expr("x")).collect()[0]
    assert row["p50_x"] == 3.0
    assert row["p90_x"] == pytest.approx(7.6)  # 4 + 0.6*(10-4)
    assert abs(row["p50approx_x"] - 3.0) <= 1.0
    with pytest.raises(ValueError, match="not salt-decomposable"):
        med.partial_exprs("x")


def test_stddev_aggregate_direct_and_salted_merge(spark):
    """StddevProperty: direct form equals stddev_samp; the (n, Σx, Σx²)
    partial/merge decomposition reproduces it exactly across salt buckets,
    and n<2 merges to NULL like stddev_samp."""
    import statistics

    import pytest

    from graph_stream_zoomer_spark.operators.aggregation import StddevProperty
    from pyspark.sql import functions as SF

    vals = [1.0, 2.0, 3.0, 4.0, 10.0, 7.5]
    df = spark.createDataFrame([(v, i % 3) for i, v in enumerate(vals)], "x double, salt int")
    sd = StddevProperty("x")
    direct = df.agg(sd.agg_expr("x")).collect()[0]["stddev_x"]
    assert direct == pytest.approx(statistics.stdev(vals))
    merged = (
        df.groupBy("salt")
        .agg(*sd.partial_exprs("x"))
        .agg(sd.merge_expr())
        .collect()[0]["stddev_x"]
    )
    assert merged == pytest.approx(direct)
    one = spark.createDataFrame([(5.0, 0)], "x double, salt int")
    m1 = one.groupBy("salt").agg(*sd.partial_exprs("x")).agg(sd.merge_expr()).collect()[0]
    assert m1["stddev_x"] is None
    assert one.agg(sd.agg_expr("x")).collect()[0]["stddev_x"] is None


def test_pack_sequences_and_split(spark):
    """Token-offset chunking: offsets are the running sum of preceding turn
    tokens, pack boundaries at max_tokens multiples; split assignment is a
    pure deterministic projection with sane proportions."""
    from graph_stream_zoomer_spark.operators.packing import assign_split, pack_sequences

    rows = [("c1", i, f"{'tok ' * (10 * (i + 1))}") for i in range(4)]  # 10,20,30,40 tokens
    t = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    packed = {r["turn_idx"]: r for r in pack_sequences(t, max_tokens=25).collect()}
    assert [packed[i]["n_tokens"] for i in range(4)] == [10, 20, 30, 40]
    assert [packed[i]["tok_offset"] for i in range(4)] == [0, 10, 30, 60]
    assert [packed[i]["pack_idx"] for i in range(4)] == [0, 0, 1, 2]
    assert packed[2]["pack_id"] == "c1#1"

    docs = spark.range(2000).select(F.col("id").alias("doc_id"))
    counts = {
        r["split"]: r["n"]
        for r in assign_split(docs, "doc_id", 10, 10).groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert set(counts) == {"train", "val", "test"}
    assert 0.15 < counts["val"] / 2000 * 2 < 0.25  # ~10% each, hash-binomial slack
    assert counts["train"] / 2000 > 0.7
    # deterministic: same ids → same split on a re-run
    again = {
        r["split"]: r["n"]
        for r in assign_split(docs, "doc_id", 10, 10).groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert counts == again


def test_approx_distinct_tracks_exact(spark):
    """approx_count_distinct (mergeable HLL sketch — the 100 TB form of the
    distinct-count family) stays within 5% of exact countDistinct on the
    windowed unique-conversation aggregate."""
    from graph_stream_zoomer_spark.sources.events_binding import (
        events_to_transcripts,
        load_events,
    )

    t = events_to_transcripts(load_events(spark, "/root/testdata/sf0.01"))
    win = (F.unix_seconds(F.col("ts").cast("timestamp")) / 600).cast("bigint")
    agg = t.groupBy(win.alias("w")).agg(
        F.countDistinct("conv_id").alias("exact"),
        F.approx_count_distinct("conv_id", rsd=0.02).alias("approx"),
    )
    rows = agg.collect()
    assert rows
    for r in rows:
        assert abs(r["approx"] - r["exact"]) <= max(1, 0.05 * r["exact"]), r


def test_chunk_documents_boundaries(spark):
    """Hand-computed chunk grids: len=100 at 40/10 (stride 30) → starts
    0/30/60 with the tail chunk reaching the end; len ≤ chunk_len → one
    full-doc chunk; empty docs drop; invalid params raise."""
    import pytest as _pytest

    from graph_stream_zoomer_spark.operators.packing import chunk_documents

    docs = spark.createDataFrame(
        [(1, "x" * 100), (2, "y" * 40), (3, "z" * 5), (4, "")],
        "doc_id long, text string",
    )
    rows = sorted(
        (r.doc_id, r.chunk_idx, r.chunk_start, r.n_chars)
        for r in chunk_documents(docs, chunk_len=40, overlap=10).collect()
    )
    assert rows == [
        (1, 0, 0, 40), (1, 1, 30, 40), (1, 2, 60, 40),
        (2, 0, 0, 40),
        (3, 0, 0, 5),
    ]
    # overlap bytes really repeat between adjacent chunks
    got = {(r.doc_id, r.chunk_idx): r.chunk_text
           for r in chunk_documents(docs, chunk_len=40, overlap=10).collect()}
    assert got[(1, 0)][30:] == got[(1, 1)][:10]
    with _pytest.raises(ValueError):
        chunk_documents(docs, chunk_len=10, overlap=10)


def test_keep_best_per_cluster_string_ids(spark):
    """keep_best_per_cluster must work on NON-numeric doc ids: the member
    join runs on the raw id type (no forced cast). Regression — a
    cast('long') would NULL every string id, silently dropping the cluster
    join and emitting every doc as a NULL-id 'unique'."""
    from pyspark.sql import functions as F

    from graph_stream_zoomer_spark.operators.components import keep_best_per_cluster

    docs = spark.createDataFrame(
        [("doc-a", 0.2), ("doc-b", 0.9), ("doc-c", 0.1), ("solo", 0.5)],
        "doc_id string, q double",
    )
    pairs = spark.createDataFrame(
        [("doc-a", "doc-b"), ("doc-b", "doc-c")], "doc_a string, doc_b string"
    )
    out = {
        r["doc_id"]: (r["score"], r["n_members"])
        for r in keep_best_per_cluster(docs, pairs, F.col("q")).collect()
    }
    assert out == {"doc-b": (0.9, 3), "solo": (0.5, 1)}
    assert None not in out


def test_ivf_probe_arrow_above_literal_budget(spark, monkeypatch):
    """Scale-safety of the IVF probe: above _LITERAL_PROBE_BUDGET model
    floats the non-reproducible path must ship centroids in an Arrow UDF
    closure, NOT as Catalyst literals (a 4k×768 literal fold blows up
    driver analysis/codegen). Pins: (a) the auto-switch fires on model
    size; (b) Arrow and literal paths return the same top-k on the same
    model; (c) plan BUILD time at 256 centroids stays flat."""
    import time

    from graph_stream_zoomer_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").cache()
    emb.count()
    q = emb.where(F.col("vec_id") < 3)
    dim = len(emb.select("embedding").first()["embedding"])
    n_small = max(2, sim._LITERAL_PROBE_BUDGET // dim)  # == budget → literal
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.orderBy("vec_id").limit(n_small).collect()
    ]

    def rows(df):
        return [
            (r["query_id"], r["neighbor_id"], round(r["cosine"], 4), r["rank"])
            for r in df.orderBy("query_id", "rank").collect()
        ]

    lit_df = sim.ivf_topk(emb, q, k=5, centroids=cents)
    assert "ArrowEvalPython" not in lit_df._jdf.queryExecution().executedPlan().toString()
    lit_rows = rows(lit_df)

    # (a)+(b): force the Arrow path for the IDENTICAL model by shrinking
    # the budget — same cells, same candidates, same top-k.
    monkeypatch.setattr(sim, "_LITERAL_PROBE_BUDGET", 0)
    arrow_df = sim.ivf_topk(emb, q, k=5, centroids=cents)
    assert "ArrowEvalPython" in arrow_df._jdf.queryExecution().executedPlan().toString()
    assert rows(arrow_df) == lit_rows
    monkeypatch.undo()

    # (c) flat plan-build at 256 centroids (the literal fold pays ~4 s of
    # driver expression compile at just 16×64 — BENCH.md)
    cents256 = [(10_000 + i, c) for i, (_, c) in enumerate((cents * 64)[:256])]
    t0 = time.monotonic()
    df256 = sim.ivf_topk(emb, q, k=5, centroids=cents256)
    df256._jdf.queryExecution().executedPlan()  # force analysis + planning
    build_s = time.monotonic() - t0
    assert build_s < 5.0, f"plan build at 256 centroids took {build_s:.1f}s"
    emb.unpersist()


def test_ivf_topk_degraded_rows_agree_across_probe_paths(spark, monkeypatch):
    """NULL, wrong-dimension, and zero-norm embeddings must not crash the
    Arrow probe (np.stack over ragged input) and must be excluded from
    candidates on BOTH probe paths — before this pin, the literal fold
    null-ranked such rows while the Arrow matmul either crashed (ragged)
    or assigned an arbitrary cell (zero-norm), so the same pipeline gave
    different answers on the two sides of _LITERAL_PROBE_BUDGET."""
    from graph_stream_zoomer_spark.operators import similarity as sim

    base = [(i, [float((i * 7 + j * 3) % 11) + 1.0 for j in range(4)]) for i in range(20)]
    rows = base + [(100, None), (101, [0.0, 0.0, 0.0, 0.0]), (102, [1.0, 2.0])]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    q = emb.where(F.col("vec_id").isin(0, 100, 101, 102))
    cents = [(i, c) for i, c in base[:4]]

    def got(df):
        return [
            (r["query_id"], r["neighbor_id"], round(r["cosine"], 4), r["rank"])
            for r in df.orderBy("query_id", "rank").collect()
        ]

    lit = got(sim.ivf_topk(emb, q, k=5, centroids=cents))
    monkeypatch.setattr(sim, "_LITERAL_PROBE_BUDGET", 0)
    arrow = got(sim.ivf_topk(emb, q, k=5, centroids=cents))
    assert arrow == lit
    ids = {t[0] for t in lit} | {t[1] for t in lit}
    assert ids and not ids & {100, 101, 102}


def test_pool_embeddings(spark):
    """Mean/sum pooling: exact vs Python ints on the same scaled grid,
    NULL vectors skipped, NULL elements and ragged dims raise, plan is a
    combinable two-exchange."""
    import pytest

    from graph_stream_zoomer_spark.operators.similarity import pool_embeddings
    from graph_stream_zoomer_spark.plans.inspect import plan_stats

    rows = [
        ("a", [1.25, -2.5, 0.000001]),
        ("a", [0.75, 0.5, -0.000001]),
        ("b", [10.0, 20.0, 30.0]),
        ("b", None),
    ]
    df = spark.createDataFrame(rows, "grp string, embedding array<double>")
    got = {r["grp"]: r["vec"] for r in pool_embeddings(df, group_cols=["grp"]).collect()}

    def pyscale(v):
        import math

        return math.floor(v * 1_000_000 + 0.5)

    exp_a = [
        (pyscale(1.25) + pyscale(0.75)) / (2 * 1_000_000.0),
        (pyscale(-2.5) + pyscale(0.5)) / (2 * 1_000_000.0),
        (pyscale(0.000001) + pyscale(-0.000001)) / (2 * 1_000_000.0),
    ]
    assert got["a"] == exp_a, (got["a"], exp_a)
    assert got["b"] == [10.0, 20.0, 30.0]
    # sum mode
    s = {r["grp"]: r["vec"] for r in pool_embeddings(df, group_cols=["grp"], mode="sum").collect()}
    assert s["a"][0] == (pyscale(1.25) + pyscale(0.75)) / 1_000_000.0
    # ragged dims raise
    ragged = spark.createDataFrame(
        [("a", [1.0, 2.0]), ("a", [1.0, 2.0, 3.0])], "grp string, embedding array<double>"
    )
    with pytest.raises(Exception, match="ragged"):
        pool_embeddings(ragged, group_cols=["grp"]).collect()
    # a NULL element inside a non-null vector raises (it would otherwise be
    # counted in the mean's denominator but left out of its sum); the
    # streaming twin's sums raise the same way
    from graph_stream_zoomer_spark.streaming.sketches import windowed_embedding_sums

    holey = spark.createDataFrame(
        [("a", [1.0, 2.0], "2024-01-01 10:00:00"), ("a", [3.0, None], "2024-01-01 10:01:00")],
        "grp string, embedding array<double>, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    with pytest.raises(Exception, match="NULL element"):
        pool_embeddings(holey, group_cols=["grp"]).collect()
    with pytest.raises(Exception, match="NULL element"):
        windowed_embedding_sums(holey, "ts", "embedding").collect()
    with pytest.raises(ValueError, match="mode"):
        pool_embeddings(df, mode="median")
    # plan: both aggregates partial (map-side combined)
    st = plan_stats(pool_embeddings(df, group_cols=["grp"]))
    assert st.num_exchanges == 2, st.text[:3000]
    assert "partial" in st.text.lower()
