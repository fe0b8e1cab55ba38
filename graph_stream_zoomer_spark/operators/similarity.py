"""Similarity search over an embedding column (array<float>).

Baseline: brute-force cosine top-k (broadcast the query set, one pass over
the corpus — embarrassingly parallel, no shuffle except the final per-query
top-k, which is a tiny aggregate).

Scale path: LSH bucketing by random-hyperplane signs (deterministic,
hash-derived hyperplanes — no runtime randomness) or IVF-style coarse
quantization against a sampled centroid set; probes only matching buckets.

All dot products run JVM-side via ``F.zip_with``/``F.aggregate``; the
pandas-UDF variant exists for wide vectors where numpy BLAS wins.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType
from pyspark.sql.window import Window


def dot_expr(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + (x * x).cast("double")))


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


@F.pandas_udf(DoubleType())
def pdf_cosine(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-vectorized cosine for wide vectors (numpy dot per batch)."""
    import numpy as np

    av = np.stack(a.to_numpy()).astype(np.float64)  # float32 input → double math,
    bv = np.stack(b.to_numpy()).astype(np.float64)  # matching the Catalyst path
    num = (av * bv).sum(axis=1)
    den = np.linalg.norm(av, axis=1) * np.linalg.norm(bv, axis=1)
    with np.errstate(divide="ignore", invalid="ignore"):
        out = np.where(den > 0, num / den, 0.0)
    return pd.Series(out)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_arrow: bool = False,
    decimals: int = 6,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine. The query side is
    broadcast (small dim table); ranking is per-query with deterministic
    tie-break on neighbor id. Ranking happens on the ``decimals``-rounded
    score so the result is stable across summation orders (and matches a
    SQL oracle computing the same rounded value)."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"))
    joined = c.crossJoin(F.broadcast(q)).where(F.col("neighbor_id") != F.col("query_id"))
    cos = (
        pdf_cosine(F.col("cvec"), F.col("qvec"))
        if use_arrow
        else cosine_expr(F.col("cvec"), F.col("qvec"))
    )
    scored = joined.select("query_id", "neighbor_id", F.round(cos, decimals).alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def hyperplane_bucket(
    vec_col: Column | str,
    bits: int = 8,
    dim: int | None = None,
    reproducible: bool = False,
    plane_offset: int = 0,
) -> Column:
    """Random-hyperplane LSH bucket id: sign pattern of ``bits``
    deterministic pseudo-random hyperplanes. Hyperplane j's i-th component
    is derived as (hash(j, i) % 2001 - 1000)/1000 — reproducible on any
    worker with no broadcast state. ``reproducible=True`` derives the hash
    from md5 hex (portable to the SQL oracle harness); the default uses
    xxhash64 (faster, JVM-only). ``plane_offset`` shifts the plane indices
    so multi-table LSH gets independent hyperplane sets per table
    (table t → offset t*bits); offset 0 keeps the historical plane ids."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    idx = F.sequence(F.lit(0), F.size(v) - 1)

    def plane_dot(jj: int) -> Column:
        j = jj + plane_offset
        if reproducible:
            def coef(i: Column) -> Column:
                h = F.conv(
                    F.substring(F.md5(F.concat(F.lit(f"{j}:"), i.cast("string"))), 1, 8), 16, 10
                ).cast("long")
                return (F.pmod(h, F.lit(2001)) - 1000).cast("double") / 1000.0
        else:
            def coef(i: Column) -> Column:
                return (F.pmod(F.xxhash64(F.lit(j), i), F.lit(2001)) - 1000).cast("double") / 1000.0

        comp = F.zip_with(v, idx, lambda x, i: x.cast("double") * coef(i))
        return F.aggregate(comp, F.lit(0.0), lambda acc, y: acc + y)

    bucket = F.lit(0).cast("long")
    for j in range(bits):
        bucket = bucket.bitwiseOR(
            F.when(plane_dot(j) > 0, F.shiftleft(F.lit(1).cast("long"), j)).otherwise(F.lit(0).cast("long"))
        )
    return bucket


def _fast_bucket_udf(bits: int, n_tables: int):
    """Arrow-batched bucket assignment for the FAST (non-reproducible)
    LSH path: one numpy matmul computes all ``bits × n_tables`` plane
    dots per batch instead of interpreting that many zip_with/aggregate
    lambdas per row (~6× faster at bits=4, L=16 on sf0.1). The
    hyperplane coefficient matrix is md5-derived driver-free inside the
    UDF (same (hash % 2001 - 1000)/1000 distribution as the JVM path)
    and cached per vector dim. The reproducible oracle mode keeps the
    exact JVM left-fold — numpy's accumulation order could flip a
    near-zero sign vs the SQL oracle's fold."""
    import hashlib

    import numpy as np
    from pyspark.sql.types import ArrayType, LongType

    n_planes = bits * n_tables
    cache: dict[int, "np.ndarray"] = {}

    def coefs(d: int) -> "np.ndarray":
        if d not in cache:
            m = np.empty((d, n_planes), dtype=np.float64)
            for j in range(n_planes):
                for i in range(d):
                    h = int(
                        hashlib.md5(f"fast:{j}:{i}".encode()).hexdigest()[:8], 16
                    )
                    m[i, j] = (h % 2001 - 1000) / 1000.0
            cache[d] = m
        return cache[d]

    weights = (np.int64(1) << np.arange(bits, dtype=np.int64))

    def fn(vs: pd.Series) -> pd.Series:
        import numpy as np

        V = np.stack(vs.to_numpy()).astype(np.float64)
        S = (V @ coefs(V.shape[1])) > 0  # (N, n_planes) sign bits
        per_table = [
            S[:, t * bits : (t + 1) * bits].astype(np.int64) @ weights
            for t in range(n_tables)
        ]
        return pd.Series(list(np.stack(per_table, axis=1)))

    return F.pandas_udf(ArrayType(LongType()))(fn)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    reproducible: bool = False,
    decimals: int = 6,
    n_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors sharing a hyperplane
    bucket with the query in at least one of ``n_tables`` independent hash
    tables (standard OR-amplification: per-table recall p^bits becomes
    1-(1-p^bits)^L — the knob that buys recall at the cost of L× bucket
    hashing and candidate volume). At 100 TB the corpus is written bucketed
    by (table, bucket) (bucketBy/partitionBy), so a query touches L
    buckets' files. The bucketing is deterministic (hash-derived
    hyperplanes; table t uses plane ids t*bits..t*bits+bits-1), so with
    ``reproducible=True`` the exact result set is SQL-reconstructible and
    oracle-checkable. ``n_tables=1`` keeps the historical single-table
    plan (no candidate-dedup shuffle)."""

    if reproducible:
        def buckets() -> Column:
            return F.array(
                *[
                    hyperplane_bucket(
                        vec_col, bits, reproducible=True, plane_offset=t * bits
                    )
                    for t in range(n_tables)
                ]
            )
    else:
        _udf = _fast_bucket_udf(bits, n_tables)

        def buckets() -> Column:
            return _udf(F.col(vec_col))

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        F.posexplode(buckets()).alias("_tbl", "_bkt"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.posexplode(buckets()).alias("_tbl", "_bkt"),
    )
    joined = c.join(F.broadcast(q), ["_tbl", "_bkt"]).where(
        F.col("neighbor_id") != F.col("query_id")
    )
    if n_tables > 1:
        # a pair colliding in several tables must be scored once
        joined = joined.dropDuplicates(["query_id", "neighbor_id"])
    scored = joined.select(
        "query_id",
        "neighbor_id",
        F.round(cosine_expr(F.col("cvec"), F.col("qvec")), decimals).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def recall_at_k(approx: DataFrame, exact: DataFrame, k: int = 10) -> DataFrame:
    """Per-query recall@k of an approximate top-k result against the exact
    one: |approx ∩ exact| / |exact| over each query's top-``k`` rows (the
    denominator is the exact set's size, which can be < k on small corpora).

    This is the quality gauge for the deployment-default (xxhash64) LSH/IVF
    paths, whose oracle checks only pin determinism of the `reproducible`
    twins — recall is what tells you the bucketing itself is sound. Tiny
    aggregate over two already-small top-k frames; never touches the corpus.
    """
    e = exact.where(F.col("rank") <= k).select("query_id", "neighbor_id")
    a = approx.where(F.col("rank") <= k).select("query_id", "neighbor_id")
    hits = (
        e.join(a, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        e.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            (F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_exact")).alias("recall"),
        )
    )


def mean_recall_at_k(approx: DataFrame, exact: DataFrame, k: int = 10) -> float:
    """Mean of :func:`recall_at_k` across queries (driver-side scalar —
    the frames are per-query top-k, i.e. tiny by construction)."""
    row = recall_at_k(approx, exact, k).agg(F.avg("recall").alias("m")).collect()[0]
    return float(row["m"])


# Max centroid-model size (total floats = n_centroids × dim) embedded as
# Catalyst literals. Above this the non-reproducible path switches to the
# Arrow matmul probe: literal folds cost O(model) ANALYSIS + CODEGEN time
# per query plan (~4 s at 16×64 already, measured in BENCH.md) and a
# production coarse quantizer is 4k–65k centroids — literal plans of that
# size blow up driver compile or the driver outright. The reproducible
# oracle mode always keeps the literal fold (exact, SQL-replayable
# arithmetic).
_LITERAL_PROBE_BUDGET = 512


def _fast_nearest_cells_udf(ucents: list[tuple[int, list[float]]], n_cells: int):
    """Arrow-batched top-``n_cells`` centroid probe: ONE numpy matmul per
    batch scores every centroid (the tiny-model broadcast rides the UDF
    closure — ships once per executor, never in the plan). Centroids are
    pre-ordered DESC by id so the stable argsort reproduces the literal
    path's desc-(sim, centroid_id) tie-break; ``ucents`` components must
    already be unit-normalized (caller does it once, driver-side).

    NULL, wrong-dimension, and zero-norm rows yield NULL (no cell) instead
    of crashing the batch or picking an arbitrary cell — ``ivf_topk``
    filters such rows out of BOTH probe paths so small- and large-model
    deployments agree.

    Not bit-identical to the Catalyst fold (numpy pairwise summation vs
    the chained left-fold) — that's why the reproducible oracle mode never
    takes this path."""
    import numpy as np
    from pyspark.sql.types import ArrayType, LongType

    order = sorted(ucents, key=lambda c: -c[0])
    C = np.array([comps for _, comps in order], dtype=np.float64)
    ids = np.array([cid for cid, _ in order], dtype=np.int64)

    def fn(vs: pd.Series) -> pd.Series:
        import numpy as np

        arrs = vs.to_numpy()
        valid = np.fromiter(
            (a is not None and len(a) == C.shape[1] for a in arrs),
            dtype=bool,
            count=len(arrs),
        )
        out: list = [None] * len(arrs)
        vi = np.flatnonzero(valid)
        if len(vi):
            V = np.stack([np.asarray(arrs[i], dtype=np.float64) for i in vi])
            nrm = np.linalg.norm(V, axis=1, keepdims=True)
            np.divide(V, nrm, out=V, where=nrm > 0)
            S = V @ C.T  # (n, n_centroids) cosine scores (centroids unit-norm)
            idx = np.argsort(-S, axis=1, kind="stable")[:, :n_cells]
            picks = ids[idx]
            nz = nrm[:, 0] > 0
            for j, i in enumerate(vi):
                if nz[j]:
                    out[i] = list(picks[j])
        return pd.Series(out)

    return F.pandas_udf(ArrayType(LongType()))(fn)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    reproducible: bool = False,
    decimals: int = 6,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF-style ANN: coarse centroids = a deterministic pseudo-random
    corpus sample (``n_centroids`` smallest ``hash(id)`` — a distributed
    TakeOrderedAndProject, no global window, no separate count job); cell
    assignment is a zero-shuffle argmax over the centroid array embedded as
    a literal (the KMeans-style tiny-model broadcast); a query probes its
    ``n_probe`` nearest centroid cells only.

    ``centroids``: inject a TRAINED coarse quantizer instead of the
    sample — (centroid_id, components) pairs, e.g.
    ``kmeans.centroids_as_floats(kmeans.train_kmeans(corpus))``.

    ``reproducible=True`` samples centroids by md5(id) instead of xxhash64
    and rounds the assignment similarity to 5 decimals (with centroid-id
    tie-break) so a SQL oracle derives the identical cell assignment and
    therefore the identical candidate set + top-k."""
    if centroids is not None:
        cent_rows: list = [{"centroid_id": cid, "centroid": comps} for cid, comps in centroids]
    else:
        order_key = (
            F.md5(F.col("centroid_id").cast("string"))
            if reproducible
            else F.xxhash64(F.col("centroid_id"))
        )
        cent_rows = (
            corpus.select(
                F.col(id_col).alias("centroid_id"),
                F.col(vec_col).cast("array<double>").alias("centroid"),
            )
            .orderBy(order_key)
            .limit(n_centroids)  # TakeOrderedAndProject: per-partition top-k, tiny driver merge
            .collect()
        )
    import math

    ucents = []  # (centroid_id, unit-normalized components)
    for r in cent_rows:
        nrm = math.sqrt(sum(x * x for x in r["centroid"])) or 1.0
        ucents.append((r["centroid_id"], [x / nrm for x in r["centroid"]]))

    # rows with no usable embedding (NULL, wrong dimension, zero norm) get
    # no cell assignment on EITHER probe path — without this the literal
    # fold null-ranks them while the Arrow matmul would pick an arbitrary
    # cell, so the same pipeline would return different candidate sets on
    # the two sides of _LITERAL_PROBE_BUDGET
    dim = len(ucents[0][1])

    def _usable(c: Column) -> Column:
        arr = c.cast("array<double>")
        return c.isNotNull() & (F.size(c) == dim) & (norm_expr(arr) > 0)

    corpus = corpus.where(_usable(F.col(vec_col)))
    queries = queries.where(_usable(F.col(vec_col)))

    n_terms = sum(len(c) for _, c in ucents)
    if not reproducible and n_terms > _LITERAL_PROBE_BUDGET:
        # Deployment probe: the centroid model rides an Arrow matmul UDF
        # closure instead of the plan — driver compile time stays flat as
        # n_centroids grows (a 4k×768 literal fold would not survive
        # analysis/codegen). Same desc-(sim, id) ranking as the literal
        # path; see _fast_nearest_cells_udf.
        assign_udf = _fast_nearest_cells_udf(ucents, 1)
        probe_udf = _fast_nearest_cells_udf(ucents, n_probe)
        assigned = corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cvec"),
            assign_udf(F.col(vec_col))[0].alias("centroid_id"),
        )
        probes = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            F.explode(probe_udf(F.col(vec_col))).alias("centroid_id"),
        )
    else:
        cent_lits = [
            (cid, F.array(*[F.lit(x) for x in comps])) for cid, comps in ucents
        ]

        def nearest_cells(vec: Column, n_cells: int) -> Column:
            """array of the n_cells centroid ids nearest to ``vec`` by
            cosine — pure Catalyst expression, evaluated inline on each row
            (no join). Oracle-exact (the SQL replays the same fold) but
            costs O(model) driver compile — capped by
            _LITERAL_PROBE_BUDGET on the non-reproducible path."""

            def sim_of(cl: Column) -> Column:
                s = dot_expr(vec, cl) / norm_expr(vec)
                return F.round(s, 5) if reproducible else s

            sims = F.array(
                *[
                    F.struct(sim_of(cl).alias("sim"), F.lit(cid).alias("centroid_id"))
                    for cid, cl in cent_lits
                ]
            )
            ranked = F.reverse(F.array_sort(sims))  # desc by (sim, centroid_id)
            return F.slice(ranked, 1, n_cells).getField("centroid_id")

        assigned = corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cvec"),
            nearest_cells(F.col(vec_col).cast("array<double>"), 1)[0].alias(
                "centroid_id"
            ),
        )
        probes = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            F.explode(
                nearest_cells(F.col(vec_col).cast("array<double>"), n_probe)
            ).alias("centroid_id"),
        )
    joined = assigned.join(F.broadcast(probes), "centroid_id").where(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = joined.select(
        "query_id",
        "neighbor_id",
        F.round(cosine_expr(F.col("cvec"), F.col("qvec")), decimals).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def scaled_elements(vec: Column, scale: int, null_message: str) -> Column:
    """Each element scaled to a long (half-up at 1/scale resolution); a NULL
    element raises ``null_message`` instead of dropping out of the sum."""
    return F.transform(
        vec,
        lambda e: F.when(
            e.isNull(), F.raise_error(F.lit(null_message)).cast("long")
        ).otherwise(F.floor(e.cast("double") * scale + F.lit(0.5)).cast("long")),
    )


def pool_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    group_cols: list[str] | None = None,
    mode: str = "mean",
    scale: int = 1_000_000,
) -> DataFrame:
    """Element-wise mean/sum pooling of embedding vectors per group — the
    "conversation embedding from turn embeddings" / "class centroid from
    members" primitive. Returns one row per group with ``vec:
    array<double>``.

    Exactness: each element is scaled to an integer (half-up at 1/scale
    resolution, the quant.py discipline) BEFORE summing, so the sum is
    order-free — float summation is partition-order-dependent and would
    make results run-to-run unstable at scale; the single final division
    back to double is IEEE-deterministic, so Spark and the SQL oracle
    agree bit-for-bit.

    Scale: posexplode → ONE map-side-combined groupBy(group, pos) — the
    combiner bounds shuffle rows at (groups × dim) per map task however
    large the corpus — then a tiny groupBy(group) rebuilds the array
    (collect_list bounded by dim). NULL vectors are skipped; a NULL element
    inside a vector and ragged dimensions raise loudly (either would leave
    some dimension averaged over fewer vectors than its group holds).
    """
    if mode not in ("mean", "sum"):
        raise ValueError(f"mode must be 'mean' or 'sum'; got {mode!r}")
    if scale <= 0:
        raise ValueError("scale must be positive")
    g = list(group_cols or [])
    x = F.col(vec_col)
    scaled = scaled_elements(x, scale, f"pool_embeddings: NULL element in {vec_col}")
    exploded = (
        df.where(x.isNotNull())
        .select(*g, F.posexplode(scaled).alias("pos", "_v"))
    )
    per_dim = exploded.groupBy(*g, "pos").agg(
        F.sum("_v").alias("_s"), F.count(F.lit(1)).alias("_n")
    )
    denom = (F.col("_n") * float(scale)) if mode == "mean" else F.lit(float(scale))
    dim_val = (F.col("_s") / denom).alias("_val")
    rebuilt = per_dim.select(*g, "pos", dim_val, "_n").groupBy(*g).agg(
        F.sort_array(F.collect_list(F.struct("pos", "_val"))).alias("_pv"),
        F.min("_n").alias("_nmin"),
        F.max("_n").alias("_nmax"),
    )
    vec = F.transform(F.col("_pv"), lambda s: s["_val"])
    checked = F.when(
        F.col("_nmin") != F.col("_nmax"),
        F.raise_error(
            F.lit(f"pool_embeddings: ragged vector dimensions in {vec_col}")
        ).cast("array<double>"),
    ).otherwise(vec)
    return rebuilt.select(*g, checked.alias("vec"))
