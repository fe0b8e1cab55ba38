"""Structured-Streaming entry points of the grouping operator.

Reference parity: the reference runs its plan on Flink dynamic tables with a
10 s bounded-out-of-orderness watermark and window-close emission
(``model/table/TableSet.java:151,168``; no early/late triggers configured).
Spark mapping: ``withWatermark`` + windowed aggregation in append mode —
windows emit once the watermark passes window end; late rows are dropped
identically.

There is no streaming-specific plan: the summary stream is
``GraphStreamGrouping.summaries`` (``operators/grouping.py``) applied to
watermarked streaming DataFrames:

  readStream → withWatermark(event_time, delay)
    → window assignment [+ windowed DISTINCT]             [stage 1/2]
    → aggregate by (window, kind, label, group-prop cols) [stages 4 + 9]
    → foreachBatch: exactly-once commit keyed (window, group key)

The windowed DISTINCT is a stateful deduplication, skipped for producers
that emit each element once (``StreamGraph.elements_unique``). The vertex
and edge elements are one stateful aggregation (session windows: two);
Spark's partial aggregation combines rows before the state store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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
