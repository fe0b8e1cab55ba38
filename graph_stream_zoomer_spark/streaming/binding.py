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

Scale: the join shuffles both sides by conv_id; at 10^12 turns this is the
dominant shuffle, so the input table should be written bucketed/partitioned
by conv_id (Iceberg: ``bucket(N, conv_id)``) to allow storage-partitioned
joins that skip the shuffle entirely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _slim(turns: DataFrame) -> DataFrame:
    """Project the turn stream down to what the summaries actually consume
    BEFORE any stateful operator: the raw ``text`` payload dominates row
    bytes but only its length survives into the properties, so carrying it
    into the stream-stream join would multiply state-store volume (every
    buffered row is serialized to the state store per micro-batch) by the
    payload size. Pushdown here is worth more than any knob downstream —
    state I/O is the streaming job's scaling ceiling on shared disks."""
    return turns.select(
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        "ts",
        F.length("text").cast("int").alias("text_len"),
    )


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
    joined = _joined_successors(_slim(turns), watermark, max_turn_gap)

    def props(side: str):
        return F.map_from_arrays(
            F.array(F.lit("tool"), F.lit("text_len"), F.lit("hour_bucket")),
            F.array(
                F.col(f"{side}.tool"),
                F.col(f"{side}.text_len").cast("string"),
                F.date_format(F.col(f"{side}.ts"), "yyyy-MM-dd HH"),
            ),
        )

    def vid(side: str):
        return F.concat_ws(
            ":", F.col(f"{side}.conv_id"), F.col(f"{side}.turn_idx").cast("string")
        )

    return joined.select(
        F.concat(vid("a"), F.lit("->"), F.col("b.turn_idx").cast("string")).alias("edge_id"),
        F.col("b.ts").alias("event_time"),
        F.concat_ws("->", F.col("a.role"), F.col("b.role")).alias("edge_label"),
        F.map_from_arrays(
            F.array(F.lit("tool"), F.lit("text_len"), F.lit("hour_bucket"), F.lit("transition")),
            F.array(
                F.col("b.tool"),
                F.col("b.text_len").cast("string"),
                F.date_format(F.col("b.ts"), "yyyy-MM-dd HH"),
                F.concat_ws("->", F.col("a.role"), F.col("b.role")),
            ),
        ).alias("edge_properties"),
        F.struct(
            vid("a").alias("vertex_id"),
            F.col("a.role").alias("vertex_label"),
            props("a").alias("vertex_properties"),
            F.col("a.ts").alias("event_time"),
        ).alias("source"),
        F.struct(
            vid("b").alias("vertex_id"),
            F.col("b.role").alias("vertex_label"),
            props("b").alias("vertex_properties"),
            F.col("b.ts").alias("event_time"),
        ).alias("target"),
    )


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

    def vertex_proj(df: DataFrame, prefix: str = "") -> DataFrame:
        return df.select(
            F.concat_ws(
                ":", F.col(f"{prefix}conv_id"), F.col(f"{prefix}turn_idx").cast("string")
            ).alias("vertex_id"),
            F.col(f"{prefix}ts").alias("event_time"),
            F.col(f"{prefix}role").alias("vertex_label"),
            F.map_from_arrays(
                F.array(F.lit("tool"), F.lit("text_len"), F.lit("hour_bucket")),
                F.array(
                    F.col(f"{prefix}tool"),
                    F.col(f"{prefix}text_len").cast("string"),
                    F.date_format(F.col(f"{prefix}ts"), "yyyy-MM-dd HH"),
                ),
            ).alias("vertex_properties"),
        )

    slim = _slim(turns)
    rest = vertex_proj(
        slim.withWatermark("ts", watermark).where(F.col("turn_idx") >= 1)
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
    first_v = vertex_proj(first.select("a.*"))
    return rest.unionByName(first_v)
