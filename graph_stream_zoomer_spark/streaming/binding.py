"""Streaming transcript → property-graph binding.

The batch binding uses ``lead()`` over (conv_id, turn_idx) — an analytic
window, which Structured Streaming forbids. The streaming form derives the
successor edge with a watermarked stream-stream self-join:

    turn t  ⋈  turn t'  ON  t'.conv_id = t.conv_id
                        AND t'.turn_idx DIV 16 = (t.turn_idx + 1) DIV 16
                        AND t'.turn_idx - t.turn_idx = 1
                        AND t'.ts BETWEEN t.ts AND t.ts + max_turn_gap
                        WHERE t'.turn_idx >= 1

The time-range bound (``max_turn_gap``) lets Spark evict join state at the
watermark — without it the join would buffer every turn forever. Turns
farther apart than max_turn_gap produce no successor edge (a documented
sessionization bound, not present in batch).

Key layout. The join's equi-key is (conv_id, 16-turn bucket): a
predecessor t is filed under the bucket of t + 1, its successor t' under
its own, so the pairs 15→16, 31→32, … meet in the successor's bucket.
Adjacency is a residual predicate written as a difference, because Catalyst
extracts ``t'.turn_idx = t.turn_idx + 1`` as a third key. Spark's symmetric
hash join stores one ``keyToNumValues`` entry per distinct key next to one
``keyWithIndexToValue`` entry per buffered row, so per-turn keys cost every
buffered turn two map entries; 16-turn keys cost one key entry per 16 turns
of a conversation (``stream_backfill``: ~175 → ~100 MB of join state). A
probe scans the values under its key, so it reads at most 16 buffered
turns; a conversation-only key would read the whole buffered conversation,
quadratic in its length. The successor side reads only ``turn_idx >= 1``:
a turn 0 is nobody's successor, the rule the stateless vertex branch uses.

Keyed state (one row per open conversation holding its last turn) would
replace the join, but neither API composes here. ``applyInPandasWithState``
output carries no watermark, so the append-mode windowed aggregation after
it fails with ``STREAMING_OUTPUT_MODE.UNSUPPORTED_OPERATION``, and defining
a watermark on its output trips Spark's global-watermark correctness check.
``transformWithStateInPandas`` output meets the same output-mode error, and
its Python worker fails to start without the ``protobuf`` package.

Both forms bind with the one spec in ``sources/transcripts.py``: the
turns are first projected to their slim columns (``slim_turns``: ``text``
becomes ``text_len`` before the join, so no raw payload reaches the join
state), and the vertex columns and StreamTriple rows are built from the
``a.``/``b.`` sides of the join exactly as batch builds them from a turn
and its ``lead()`` successor.

Scale: the join shuffles both sides by its (conv_id, bucket) key, the
dominant shuffle of a trigger; a stateful operator needs exactly that hash
partitioning, so no input layout skips it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import StreamGraphConfig
from ..model import StreamGraph, triple_edges
from ..sources.transcripts import slim_turns, triple_columns, vertex_columns


# Turns per join key: the key is (conv_id, turn bucket), so one probe
# scans at most this many buffered turns of its conversation.
TURN_BUCKET = 16


def _joined_successors(turns: DataFrame, watermark: str, max_turn_gap: str) -> DataFrame:
    a = turns.withWatermark("ts", watermark).alias("a")
    b = turns.withWatermark("ts", watermark).where("turn_idx >= 1").alias("b")
    return a.join(
        b,
        F.expr(
            f"a.conv_id = b.conv_id AND (a.turn_idx + 1) DIV {TURN_BUCKET} = b.turn_idx DIV {TURN_BUCKET}"
            # a difference, not `b.turn_idx = a.turn_idx + 1`: Catalyst would
            # extract that as a third join key, one state key per turn again
            " AND b.turn_idx - a.turn_idx = 1"
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
    triples = joined.selectExpr(*triple_columns(slim.columns, "a.", "b."), "a.turn_idx")
    targets = slim.withWatermark("ts", wm).where("turn_idx >= 1")
    return StreamGraph(
        vertices=targets.selectExpr(*vertex_columns(slim.columns)),
        edges=triple_edges(triples),
        config=config,
        triples=triples,
        elements_unique=True,
        source_vertices="a.turn_idx = 0",
    )
