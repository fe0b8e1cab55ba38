"""Structured-Streaming entry points of the grouping operator.

Reference parity: the reference runs its plan on Flink dynamic tables with a
10 s bounded-out-of-orderness watermark and window-close emission
(``model/table/TableSet.java:151,168``; no early/late triggers configured).
Spark mapping: ``withWatermark`` + windowed aggregation in append mode —
windows emit once the watermark passes window end; late rows are dropped
identically.

There is no streaming-specific plan: the summary streams are the stage
methods of ``operators/grouping.py`` applied to watermarked streaming
DataFrames (per stream — vertices and edges):

  readStream → withWatermark(event_time, delay)
    → window assignment [+ windowed DISTINCT]             [stage 1/2]
    → aggregate by (window, label, group-prop cols)       [stage 4/9 agg]
    → foreachBatch: exactly-once commit keyed (window, group key)

The windowed DISTINCT is a stateful deduplication keyed by the window (the
raw event time for session windows), so its state is evicted by the
watermark; producers that emit each element once (the transcript binding)
skip it. ``salt_buckets > 0`` chains both salted phases as stateful
aggregations in the same query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.grouping import GraphStreamGrouping


def streaming_vertex_summaries(
    op: GraphStreamGrouping, vertices: DataFrame, observations_unique: bool = False
) -> DataFrame:
    """Super-vertex summary stream (stages 1+3+4) over a vertex-observation
    stream that already carries an event-time watermark on ``event_time``.
    ``observations_unique`` skips the dedup state store when the producer
    guarantees one row per vertex (the transcript binding does; tumbling
    windows only)."""
    if observations_unique:
        deduped = op.assign_window_vertices(vertices)
    else:
        deduped = op.dedup_vertices(vertices)
    return op.group_vertices(op.enhance_vertices(deduped))


def streaming_edge_summaries(op: GraphStreamGrouping, triples: DataFrame) -> DataFrame:
    """Super-edge summary stream (stages 2+6+7+8+9) over the watermarked
    triple stream: endpoint super ids are recomputed per edge (joinless fast
    path). Triple-derived successor edges are unique by construction (one
    edge per (conv_id, turn_idx) pair), so no dedup state is needed."""
    expanded = op.edges_with_super_vertices_from_triples(triples, edges_unique=True)
    return op.group_edges(op.enrich_edges(expanded))


def summary_triples(super_vertices: DataFrame, super_edges: DataFrame) -> DataFrame:
    """Stream-stream join of the vertex and edge summary streams on
    (super-vertex id, window) — J3 chained after the windowed aggregations.

    Chaining note (Spark 3.5+ multi-stateful rules): the aggregation outputs
    carry ``window`` as their event-time column, and the join must use THAT
    column for its time-equality — re-applying ``withWatermark`` on the
    derived ``event_time`` instead re-anchors the rows against the already-
    advanced global watermark, which classifies every summary row as late
    and silently drops it (observed: zero join output). Join state is
    evicted via the propagated operator watermark.
    """
    sv, se = super_vertices, super_edges
    src = sv.select(
        F.col("super_vertex_id").alias("_sid"),
        F.col("window").alias("_swin"),
        F.col("vertex_label").alias("source_label"),
    )
    tgt = sv.select(
        F.col("super_vertex_id").alias("_tid"),
        F.col("window").alias("_twin"),
        F.col("vertex_label").alias("target_label"),
    )
    return (
        se.join(src, (se.source_id == src._sid) & (se.window == src._swin))
        .join(tgt, (F.col("target_id") == tgt._tid) & (F.col("window") == tgt._twin))
        .drop("_sid", "_swin", "_tid", "_twin")
    )
