"""Streaming transcript → property-graph binding.

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

from ..config import StreamGraphConfig
from ..model import StreamGraph, triple_edges
from ..sources.transcripts import slim_turns, triple_columns, vertex_columns


def _joined_successors(turns: DataFrame, watermark: str, max_turn_gap: str) -> DataFrame:
    a = turns.withWatermark("ts", watermark).alias("a")
    b = turns.withWatermark("ts", watermark).alias("b")
    return a.join(
        b,
        F.expr(
            "a.conv_id = b.conv_id AND b.turn_idx = a.turn_idx + 1"
            f" AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL {max_turn_gap}"
        ),
        "inner",
    )


def streaming_transcript_graph(
    turns: DataFrame,
    config: StreamGraphConfig | None = None,
    max_turn_gap: str = "1 hour",
) -> StreamGraph:
    """Streaming twin of ``transcript_graph``: one successor join, read
    once by the grouping.

    The graph's vertices are every triple endpoint exactly once: all turns
    with turn_idx ≥ 1 (each is some edge's target), plus each turn 0 that
    has a successor edge (the first edge's source). The first set is a
    STATELESS filter of the turns, ~8/9 of the volume, with no join state;
    the second is named by the ``source_vertices`` hint (``a.turn_idx =
    0``) over the successor join's own rows, so the grouping explodes those
    sources out of the join it already reads for the edges. Spark plans
    trees, not DAGs: a separate vertex projection of the join would run the
    whole stream-stream join a second time. The stateless branch and the
    join rows are disjoint and each turn appears exactly once, so no dedup
    state is needed (``elements_unique``).

    Watermark/event-time columns are direct attribute references or struct
    fields of them, which keep the event-time marker, and the watermark is
    defined once per source branch — never redefined downstream of a
    stateful operator."""
    config = config or StreamGraphConfig()
    wm = config.watermark_delay
    slim = slim_turns(turns)
    joined = _joined_successors(slim, wm, max_turn_gap)
    triples = joined.selectExpr(*triple_columns("a.", "b."), "a.turn_idx")
    targets = slim.withWatermark("ts", wm).where("turn_idx >= 1")
    return StreamGraph(
        vertices=targets.selectExpr(*vertex_columns()),
        edges=triple_edges(triples),
        config=config,
        triples=triples,
        elements_unique=True,
        source_vertices="a.turn_idx = 0",
    )
