"""Streaming transcript → triple binding.

The batch binding uses ``lead()`` over (conv_id, turn_idx) — an analytic
window, which Structured Streaming forbids. The streaming form derives the
successor edge with a watermarked stream-stream self-join:

    turn t  ⋈  turn t'  ON  t'.conv_id = t.conv_id
                        AND t'.turn_idx = t.turn_idx + 1
                        AND t'.ts BETWEEN t.ts AND t.ts + max_turn_gap

The time-range bound (``max_turn_gap``) lets Spark evict join state at the
watermark — without it the join would buffer every turn forever. Turns
farther apart than max_turn_gap produce no successor edge (a documented
sessionization bound, not present in batch).

Both forms bind with the one spec in ``sources/transcripts.py``: the
turns are first projected to their slim columns (``slim_turns``: ``text``
becomes ``text_len`` before the join, so no raw payload reaches the join
state), and the vertex columns and StreamTriple rows are built from the
``a.``/``b.`` sides of the join exactly as batch builds them from a turn
and its ``lead()`` successor.

Scale: the join shuffles both sides by conv_id; at 10^12 turns this is the
dominant shuffle, so the input table should be written bucketed/partitioned
by conv_id (Iceberg: ``bucket(N, conv_id)``) to allow storage-partitioned
joins that skip the shuffle entirely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.transcripts import slim_turns, triple_columns, vertex_columns


def _joined_successors(turns: DataFrame, watermark: str, max_turn_gap: str) -> DataFrame:
    a = turns.withWatermark("ts", watermark).alias("a")
    b = turns.withWatermark("ts", watermark).alias("b")
    return a.join(
        b,
        (F.col("a.conv_id") == F.col("b.conv_id"))
        & (F.col("b.turn_idx") == F.col("a.turn_idx") + 1)
        & (F.col("b.ts") >= F.col("a.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr(f"INTERVAL {max_turn_gap}")),
        "inner",
    )


def streaming_transcript_triples(
    turns: DataFrame,
    watermark: str = "10 seconds",
    max_turn_gap: str = "1 hour",
) -> DataFrame:
    joined = _joined_successors(slim_turns(turns), watermark, max_turn_gap)
    return joined.select(*triple_columns("a.", "b."))


def streaming_vertex_observations(
    turns: DataFrame,
    watermark: str = "10 seconds",
    max_turn_gap: str = "1 hour",
) -> DataFrame:
    """Vertex observation stream: every triple endpoint exactly once,
    WITHOUT replaying the full successor join.

    The endpoint set of the successor-edge stream is: all turns with
    turn_idx ≥ 1 (each is some edge's target) plus turn-0 rows of
    conversations that have a turn 1 (each is the first edge's source).
    So the stream is a union of
      (a) a completely STATELESS branch — turns with turn_idx ≥ 1 — which
          is ~8/9 of the volume and holds no join state at all, and
      (b) a narrow join of turn-0 rows against turn-1 rows only
          (two ~1/9-size inputs) that validates the conversation has ≥2
          turns.
    A naive split_triples-style union of the join's two endpoint
    projections would instead instantiate the FULL stream-stream join once
    per branch (Spark plans trees, not DAGs) — 2× full join state and 2×
    the shuffle, and each interior turn arrives twice, forcing a dedup
    state store downstream. This shape needs no dedup: the branches are
    disjoint and each turn appears exactly once.

    Watermark/event-time columns are direct attribute references
    throughout (never repacked through structs, which strips the
    event-time marker), and the watermark is defined once per source
    branch — never redefined downstream of a stateful operator."""
    slim = slim_turns(turns)
    rest = (
        slim.withWatermark("ts", watermark).where(F.col("turn_idx") >= 1).select(*vertex_columns())
    )
    t0 = slim.withWatermark("ts", watermark).where(F.col("turn_idx") == 0).alias("a")
    t1 = (
        slim.withWatermark("ts", watermark)
        .where(F.col("turn_idx") == 1)
        .select(F.col("conv_id").alias("_c1"), F.col("ts").alias("_ts1"))
        .alias("b")
    )
    first = t0.join(
        t1,
        (F.col("a.conv_id") == F.col("_c1"))
        & (F.col("_ts1") >= F.col("a.ts"))
        & (F.col("_ts1") <= F.col("a.ts") + F.expr(f"INTERVAL {max_turn_gap}")),
        "inner",
    )
    return rest.unionByName(first.select(*vertex_columns("a.")))
