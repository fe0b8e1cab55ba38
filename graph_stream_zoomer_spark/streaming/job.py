"""Top-level streaming job: transcript stream → grouped summary streams →
idempotent sinks, resumable from checkpoint.

The summary stream is ``GraphStreamGrouping.summaries`` — the same stages
the batch ``execute`` runs — over ``streaming_transcript_graph``; only the
exactly-once sink is streaming-specific.

This is the deployable unit (spark-submit --py-files entry point, see
scripts/run_streaming_job.py). One structured-streaming query groups the
vertex and edge elements as one tagged stream: per trigger one successor
join and (tumbling/sliding windows) one windowed aggregation, one
trigger/commit/offset log, one checkpoint tree, one no-data drain sequence;
each micro-batch is split by ``kind`` into the two sinks.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..operators.grouping import GraphStreamGrouping
from ..sources.transcripts import TRANSCRIPT_DDL
from .binding import streaming_transcript_graph
from .sink import IdempotentParquetSink, ProgressListener

# The query's checkpoint under ``out_root``, named by the layout of its
# state. ``_checkpoints/summaries`` keyed fast-path edge elements by
# per-edge super ids: Spark compares a resumed state key by field types,
# not names, so it would resume one of a label-only grouping and misread
# it. ``_checkpoints/summaries-v2`` keyed the successor join by (conv_id,
# turn_idx) where this version keys it by (conv_id, turn bucket); Spark
# fails that resume mid-query (int key field vs bigint), later and vaguer
# than the refusal in ``run_grouping_job``.
CHECKPOINT = "_checkpoints/summaries-v3"
EARLIER_CHECKPOINTS = {
    "_checkpoints/summaries-v2": "a successor join keyed by (conv_id, turn_idx)",
    "_checkpoints/summaries": "edge elements keyed by per-edge super ids",
}


@dataclass
class StreamingJobResult:
    vertex_sink: IdempotentParquetSink
    edge_sink: IdempotentParquetSink
    listener: ProgressListener


def read_transcript_stream(
    spark: SparkSession,
    input_path: str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Transcript source: Iceberg table when a catalog is configured
    (``fmt='iceberg'`` → ``readStream.format('iceberg').load(table)``),
    parquet directory otherwise (this sandbox)."""
    if fmt == "iceberg":
        return spark.readStream.format("iceberg").load(input_path)
    reader = spark.readStream.schema(TRANSCRIPT_DDL)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_path)


def run_grouping_job(
    spark: SparkSession,
    turns: DataFrame,
    op: GraphStreamGrouping,
    out_root: str,
    *,
    available_now: bool = True,
    max_turn_gap: str = "1 hour",
    unified: bool = True,
) -> StreamingJobResult:
    """Launch the grouping job; with available_now=True blocks until the
    current input is drained (the test/backfill mode — production uses
    processingTime triggers and runs forever).

    ``unified`` is accepted for existing callers and must be True: the
    two-query mode (separate vertex and edge queries) was removed after the
    one-query form won at 2 and 8 pinned cores (BENCH.md appendix).

    The state store is the session's
    (``spark.sql.streaming.stateStore.providerClass``); it is recorded in
    the checkpoint and cannot change across restarts.
    """
    if not unified:
        raise ValueError(
            "the two-query streaming mode (unified=False) was removed; "
            "run_grouping_job always runs one unified query"
        )
    for earlier, layout in EARLIER_CHECKPOINTS.items():
        if os.path.exists(os.path.join(out_root, earlier)):
            raise ValueError(
                f"{out_root} holds a checkpoint in an earlier state layout ({earlier}: "
                f"{layout}), which this version does not resume. "
                "Finish it with the version that wrote it, or use a fresh out_root."
            )
    summaries = op.summaries(streaming_transcript_graph(turns, op.config, max_turn_gap))

    listener = ProgressListener()
    listener.attach(spark)

    v_sink = IdempotentParquetSink(os.path.join(out_root, "vertices"))
    e_sink = IdempotentParquetSink(os.path.join(out_root, "edges"))

    ckpt = os.path.join(out_root, CHECKPOINT)
    _refuse_stale_sink(v_sink.root, ckpt)
    _refuse_stale_sink(e_sink.root, ckpt)

    def split_sink(batch: DataFrame, batch_id: int) -> None:
        # one persist serves both splits
        batch.persist()
        try:
            sv, se = op.split_summaries(batch)
            v_sink(sv, batch_id)
            e_sink(se, batch_id)
        finally:
            batch.unpersist()

    w = (
        summaries.writeStream.foreachBatch(split_sink)
        .outputMode("append")
        .queryName("summaries")
        .option("checkpointLocation", ckpt)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    q = w.start()
    if available_now:
        q.awaitTermination()
        listener.wait_terminated(str(q.runId))
        # only an ended query's listener is detached; a running one keeps it
        listener.detach(spark)
    return StreamingJobResult(vertex_sink=v_sink, edge_sink=e_sink, listener=listener)


def _refuse_stale_sink(sink_root: str, checkpoint_dir: str) -> None:
    """Refuse to start when the sink already has a commit log but the query
    checkpoint tree is missing (deleted or lost): batch ids would restart at
    0 under a fresh checkpoint and the idempotent guard would silently skip
    real new batches (data loss, no error)."""
    commits = os.path.join(sink_root, "_lineage", "commits.json")
    if os.path.exists(commits) and not os.path.exists(checkpoint_dir):
        raise ValueError(
            f"sink {sink_root} has a commit log but checkpoint {checkpoint_dir} is missing; "
            "resuming would restart batch ids at 0 and skip new batches as replays. "
            "Restore the checkpoint or use a fresh out_root."
        )
