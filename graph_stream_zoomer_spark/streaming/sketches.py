"""Streaming twins of the mergeable sketches (operators/sketches.py).

Both sketches are ALGEBRAIC — counters add, bitmaps bit_or — so their
streaming forms are plain windowed aggregations over the built-in state
store: no custom keyed state, no Python in the hot path, and exactly the
shuffle profile of the batch twins (one partially-aggregated exchange).
Append mode emits each window's finished sketch on watermark close; the
idempotent bit_or/count merge also makes update-mode re-emission safe for
at-least-once sinks.

State size is bounded by construction, independent of stream volume:
≤ depth·width counters (CMS), ≤ num_bits/32 words (bloom), or ≤ k hash
values (KMV) per open window — the property that makes these the right
summaries at 10^12-turn scale, where per-key exact state would be
unbounded.

KMV is the one twin that is NOT a plain windowed aggregation: "k smallest
distinct hashes" is an order statistic, which Spark's built-in streaming
aggs cannot express (no streaming-legal window-rank). It uses a small
``applyInPandasWithState`` keyed by the time window — the hash is still
computed Catalyst-side, so Python only ever sees ≤ a micro-batch of bare
int64 hashes per window and keeps the k smallest.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from graph_stream_zoomer_spark.operators.sketches import (
    _HASH_SPACE,
    _hash32,
    _word_and_bit,
)


def windowed_cms(
    stream: DataFrame,
    ts_col: str,
    value_col: str,
    window_duration: str = "10 minutes",
    width: int = 1024,
    depth: int = 4,
    watermark_delay: str = "10 minutes",
    reproducible: bool = False,
) -> DataFrame:
    """Per-window count-min sketch of ``value_col``'s frequency: one row per
    (window, row_idx, bucket). Each window's sketch equals the batch
    ``cms_sketch`` of that window's rows (parity-pinned), and consecutive
    windows' sketches merge by counter addition for coarser rollups."""
    c = F.col(value_col)
    buckets = F.array(
        *[F.pmod(_hash32(c, r, reproducible), F.lit(width)) for r in range(depth)]
    )
    # NULL values are skipped exactly like the batch twin (cms_sketch):
    # without the filter, xxhash64 mode would count NULL as one phantom
    # heavy value and md5 mode would emit bucket=NULL rows
    pairs = (
        stream.withWatermark(ts_col, watermark_delay)
        .where(c.isNotNull())
        .select(F.col(ts_col), F.posexplode(buckets).alias("row_idx", "bucket"))
    )
    return pairs.groupBy(
        F.window(ts_col, window_duration).alias("window"), "row_idx", "bucket"
    ).agg(F.count(F.lit(1)).alias("cnt"))


def windowed_hll(
    stream: DataFrame,
    ts_col: str,
    value_col: str,
    window_duration: str = "10 minutes",
    b: int = 8,
    watermark_delay: str = "10 minutes",
    reproducible: bool = False,
) -> DataFrame:
    """Per-window HyperLogLog registers as (window, bucket, max_rho) —
    windowed distinct-count summaries with ≤ 2^b state rows per open
    window. MAX-merge is idempotent (replays harmless); feeding the rows
    to ``operators.sketches.hll_estimate`` (grouped by window) yields the
    per-window distinct estimate; MAX-merging adjacent windows' registers
    rolls them up to coarser grains."""
    from graph_stream_zoomer_spark.operators.sketches import hll_registers

    # hll_registers is a plain projection + groupBy-max: pass the window
    # column through as the group key and it is streaming-legal as-is
    wm = stream.withWatermark(ts_col, watermark_delay).select(
        F.window(ts_col, window_duration).alias("window"), F.col(value_col)
    )
    return hll_registers(wm, value_col, b=b, group_cols=["window"],
                         reproducible=reproducible)


def windowed_bloom(
    stream: DataFrame,
    ts_col: str,
    value_col: str,
    window_duration: str = "10 minutes",
    num_bits: int = 1 << 16,
    num_hashes: int = 5,
    watermark_delay: str = "10 minutes",
    reproducible: bool = False,
) -> DataFrame:
    """Per-window bloom bitmap of ``value_col`` as (window, word, bits) —
    the window's membership summary for downstream bloom_semi_join pruning
    of that window's keys. bit_or is idempotent, so replayed micro-batches
    cannot corrupt the bitmap. Parity with batch ``bloom_bits`` per window
    is pinned in tests."""
    c = F.col(value_col)
    positions = F.array(
        *[F.pmod(_hash32(c, r, reproducible), F.lit(num_bits)) for r in range(num_hashes)]
    )
    # NULL values skipped like the batch twin (bloom_bits): a NULL word
    # key would crash map_from_entries in downstream bitmap builds
    exploded = (
        stream.withWatermark(ts_col, watermark_delay)
        .where(c.isNotNull())
        .select(F.col(ts_col), F.explode(positions).alias("pos"))
    )
    word, bit = _word_and_bit(F.col("pos"))
    pairs = exploded.select(
        F.col(ts_col), word.alias("word"), bit.alias("bit")
    )
    return pairs.groupBy(
        F.window(ts_col, window_duration).alias("window"), "word"
    ).agg(F.expr("bit_or(bit)").alias("bits"))


_KMV_STATE_SCHEMA = StructType([StructField("kept", ArrayType(LongType()))])


def windowed_kmv(
    stream: DataFrame,
    ts_col: str,
    value_col: str,
    window_duration: str = "10 minutes",
    k: int = 64,
    watermark_delay: str = "10 minutes",
    reproducible: bool = False,
) -> DataFrame:
    """Per-window KMV distinct-count estimate as (window, est_distinct) —
    each closed window's value equals the batch ``kmv_distinct`` of that
    window's rows (integer-exact estimator, so parity is bit-for-bit).

    Mechanics: the 32-bit hash is computed Catalyst-side (md5 or xxhash64,
    same as batch), then one keyed-state exchange on the tumbling window.
    State per open window is the sorted set of the ≤ k smallest DISTINCT
    hashes — merged with each micro-batch's hashes, emitted once (append
    semantics) when the watermark passes window end, with an event-time
    timeout armed so idle windows still flush on no-data micro-batches.
    Late rows for an already-closed window are dropped without
    re-creating state (no duplicate emission on at-least-once replay).

    Scale: state is O(k) per open window regardless of stream volume; the
    exchange carries (window, hash) pairs — two int64s per row, the hash
    replacing the value bytes. Python sees only the per-batch hash arrays
    (Arrow-transferred), never the values.
    """
    if k < 2:
        raise ValueError(f"windowed_kmv needs k >= 2 (estimator is (k-1)/U_(k)); got {k}")
    c = F.col(value_col)
    keyed = (
        stream.withWatermark(ts_col, watermark_delay)
        # NULL values skipped like the batch twin (kmv_distinct):
        # COUNT(DISTINCT) ignores NULL
        .where(c.isNotNull())
        .select(
            # group by the window STRUCT: it carries the watermark
            # event-time metadata that the event-time timeout requires
            # (flattening to start/end columns would strip it)
            F.window(ts_col, window_duration).alias("window"),
            _hash32(c, 0, reproducible).alias("_h"),
        )
    )

    out_schema = StructType(
        [
            StructField("window_start", TimestampType()),
            StructField("window_end", TimestampType()),
            StructField("est_distinct", LongType()),
        ]
    )

    def merge_kmv(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        win = key[0]  # the window struct key: Row or mapping with start/end
        win_start, win_end = (
            (win["start"], win["end"]) if not hasattr(win, "start") else (win.start, win.end)
        )
        end_ms = pd.Timestamp(win_end).value // 1_000_000
        wm_ms = state.getCurrentWatermarkMs()

        kept = list(state.get[0]) if state.exists else []
        if not state.hasTimedOut:
            if not state.exists and wm_ms >= end_ms:
                # late rows for a window that already closed and emitted:
                # drop them instead of re-opening state (append semantics)
                for _ in pdfs:
                    pass
                return
            seen = set(kept)
            for pdf in pdfs:
                if pdf.empty:
                    continue
                seen.update(int(h) for h in pdf["_h"].to_numpy())
            kept = sorted(seen)[:k]

        if wm_ms >= end_ms:
            n = len(kept)
            est = n if n < k else ((k - 1) * _HASH_SPACE) // max(kept[k - 1], 1)
            state.remove()
            yield pd.DataFrame(
                {
                    "window_start": [pd.Timestamp(win_start)],
                    "window_end": [pd.Timestamp(win_end)],
                    "est_distinct": [est],
                }
            )
        else:
            state.update((kept,))
            # flush when the watermark reaches window end, even if this
            # window sees no further data (timeout must exceed current wm)
            state.setTimeoutTimestamp(max(end_ms, wm_ms + 1))

    raw = keyed.groupBy("window").applyInPandasWithState(
        merge_kmv,
        out_schema,
        _KMV_STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )
    return raw.select(
        F.struct(
            F.col("window_start").alias("start"), F.col("window_end").alias("end")
        ).alias("window"),
        "est_distinct",
    )


def windowed_log_histogram(
    stream: DataFrame,
    ts_col: str,
    value_col: str,
    window_duration: str = "10 minutes",
    r: int = 5,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Per-window log-histogram quantile sketch as (window, bin, cnt) —
    each closed window's rows equal the batch ``log_histogram`` of that
    window's data (parity-pinned), and feeding them to ``lh_quantiles``
    grouped by window yields per-window quantiles. Counts ADD, so
    adjacent windows' sketches merge for coarser rollups and replayed
    micro-batches only re-add idempotently-deduped state via the built-in
    windowed agg. State ≤ 64·2^r rows per open window."""
    from graph_stream_zoomer_spark.operators.sketches import _lh_bin

    if not 1 <= r <= 16:
        raise ValueError(f"windowed_log_histogram needs 1 <= r <= 16; got {r}")
    c = F.col(value_col)
    x = c.cast("long")
    checked = F.when(
        x < 0, F.raise_error(F.lit(f"windowed_log_histogram: negative value in {value_col}"))
    ).otherwise(x)
    binned = (
        stream.withWatermark(ts_col, watermark_delay)
        # NULLs skipped like the batch twin (log_histogram)
        .where(c.isNotNull())
        .select(F.col(ts_col), _lh_bin(checked, r).alias("bin"))
    )
    return binned.groupBy(
        F.window(ts_col, window_duration).alias("window"), "bin"
    ).agg(F.count(F.lit(1)).alias("cnt"))


def window_quantiles(hist: DataFrame, qs_ppm: list[int], r: int = 5) -> DataFrame:
    """Read per-window quantiles out of ``windowed_log_histogram`` output:
    (window, q_ppm, value) with the same < 2^-r relative guarantee as the
    batch reader. The rank scan is a window cumsum — streaming-ILLEGAL on
    an open stream, so apply this to CLOSED windows: either the sink table
    the append-mode histogram stream wrote, or each micro-batch inside
    ``foreachBatch`` (every append-mode row belongs to a just-closed
    window, so a batch always holds complete histograms)."""
    from graph_stream_zoomer_spark.operators.sketches import lh_quantiles

    return lh_quantiles(hist, qs_ppm, r=r, group_cols=["window"])


def windowed_embedding_sums(
    stream: DataFrame,
    ts_col: str,
    vec_col: str,
    window_duration: str = "10 minutes",
    watermark_delay: str = "10 minutes",
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-window element-wise embedding sums as (window, pos, s, n) —
    the streaming half of ``pool_embeddings``. Elements are scaled to
    integers before summing (order-free, replay-stable), so the rows are
    ALGEBRAIC: one windowed agg, state ≤ dim rows per open window, and
    adjacent windows merge by adding (s, n). Emitting the long form is
    deliberate — rebuilding the array needs a second aggregation, which
    streaming append mode forbids; use ``pooled_from_sums`` on closed
    windows (the sink table or each foreachBatch batch). A NULL element
    inside a vector raises, as in the batch twin."""
    from graph_stream_zoomer_spark.operators.similarity import scaled_elements

    if scale <= 0:
        raise ValueError("scale must be positive")
    x = F.col(vec_col)
    scaled = scaled_elements(x, scale, f"windowed_embedding_sums: NULL element in {vec_col}")
    exploded = (
        stream.withWatermark(ts_col, watermark_delay)
        # NULL vectors skipped like the batch twin (pool_embeddings)
        .where(x.isNotNull())
        .select(F.col(ts_col), F.posexplode(scaled).alias("pos", "_v"))
    )
    return exploded.groupBy(
        F.window(ts_col, window_duration).alias("window"), "pos"
    ).agg(F.sum("_v").alias("s"), F.count(F.lit(1)).alias("n"))


def pooled_from_sums(
    sums: DataFrame, mode: str = "mean", scale: int = 1_000_000
) -> DataFrame:
    """Rebuild (window, vec) pooled vectors from ``windowed_embedding_sums``
    output over CLOSED windows — per-window parity with batch
    ``pool_embeddings`` is pinned. Ragged dims raise, matching batch."""
    if mode not in ("mean", "sum"):
        raise ValueError(f"mode must be 'mean' or 'sum'; got {mode!r}")
    denom = (F.col("n") * float(scale)) if mode == "mean" else F.lit(float(scale))
    per_dim = sums.select("window", "pos", (F.col("s") / denom).alias("_val"), "n")
    rebuilt = per_dim.groupBy("window").agg(
        F.sort_array(F.collect_list(F.struct("pos", "_val"))).alias("_pv"),
        F.min("n").alias("_nmin"),
        F.max("n").alias("_nmax"),
    )
    vec = F.transform(F.col("_pv"), lambda st: st["_val"])
    checked = F.when(
        F.col("_nmin") != F.col("_nmax"),
        F.raise_error(F.lit("pooled_from_sums: ragged vector dimensions")).cast(
            "array<double>"
        ),
    ).otherwise(vec)
    return rebuilt.select("window", checked.alias("vec"))
