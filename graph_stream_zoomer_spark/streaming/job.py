"""Top-level streaming job: transcript stream → grouped summary streams →
idempotent sinks, resumable from checkpoint.

The summary streams are ``GraphStreamGrouping.summaries`` — the same stages
the batch ``execute`` runs — over the streaming transcript binding wrapped
in a ``StreamGraph``; only the exactly-once sink is streaming-specific.

This is the deployable unit (spark-submit --py-files entry point, see
scripts/run_streaming_job.py). The vertex and edge summary pipelines run as
two branches of one discriminated-union structured-streaming query: one
trigger/commit/offset log, one checkpoint tree, one no-data drain sequence,
split into the two sinks per micro-batch.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import StreamGraphConfig
from ..model import StreamGraph, triple_edges
from ..operators.grouping import GraphStreamGrouping
from .binding import streaming_transcript_triples, streaming_vertex_observations
from .sink import IdempotentParquetSink, ProgressListener

TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


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
    state_store: str | None = None,
) -> StreamingJobResult:
    """Launch the grouping job; with available_now=True blocks until the
    current input is drained (the test/backfill mode — production uses
    processingTime triggers and runs forever).

    ``unified`` is accepted for existing callers and must be True: the
    two-query mode (separate vertex and edge queries) was removed after the
    one-query form won at 2 and 8 pinned cores (BENCH.md appendix).

    ``state_store``: ``"rocksdb"`` switches the state backend to Spark's
    bundled RocksDBStateStoreProvider — off-heap, spill-to-disk, changelog
    checkpointing; the production choice once join/agg state outgrows
    executor heap (the 10^12-turn regime — the default HDFS-backed store
    keeps every state row as JVM objects on-heap). ``"hdfs"`` forces the
    default; None leaves the session setting untouched. Applied via
    session conf, so it must be set before the FIRST start against a
    checkpoint; the provider class is recorded in the checkpoint and
    cannot change across restarts.
    """
    if not unified:
        raise ValueError(
            "the two-query streaming mode (unified=False) was removed; "
            "run_grouping_job always runs one unified query"
        )
    cfg: StreamGraphConfig = op.config
    wm = cfg.watermark_delay
    if state_store is not None:
        providers = {
            "rocksdb": "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
            "hdfs": "org.apache.spark.sql.execution.streaming.state."
            "HDFSBackedStateStoreProvider",
        }
        if state_store not in providers:
            raise ValueError(f"state_store must be one of {sorted(providers)} or None")
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", providers[state_store]
        )

    triples = streaming_transcript_triples(turns, watermark=wm, max_turn_gap=max_turn_gap)
    vertices = streaming_vertex_observations(turns, watermark=wm, max_turn_gap=max_turn_gap)
    # the transcript binding emits each turn and each successor pair exactly
    # once → no dedup state; the batch operator's stages build both streams
    graph = StreamGraph(
        vertices=vertices,
        edges=triple_edges(triples),
        config=cfg,
        triples=triples,
        elements_unique=True,
    )
    sv, se = op.summaries(graph)

    listener = ProgressListener()
    listener.attach(spark)

    v_sink = IdempotentParquetSink(os.path.join(out_root, "vertices"))
    e_sink = IdempotentParquetSink(os.path.join(out_root, "edges"))

    ckpt = os.path.join(out_root, "_checkpoints/summaries")
    _refuse_stale_sink(v_sink.root, ckpt)
    _refuse_stale_sink(e_sink.root, ckpt)

    def split_sink(batch: DataFrame, batch_id: int) -> None:
        # one persist serves both splits; each sink then caches only its
        # own (tiny) summary slice for the lineage count + write
        batch.persist()
        try:
            v_sink(batch.where(F.col("kind") == "v").select("v.*"), batch_id)
            e_sink(batch.where(F.col("kind") == "e").select("e.*"), batch_id)
        finally:
            batch.unpersist()

    w = (
        _tagged_union(sv, se)
        .writeStream.foreachBatch(split_sink)
        .outputMode("append")
        .queryName("summaries")
        .option("checkpointLocation", ckpt)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    q = w.start()
    if available_now:
        q.awaitTermination()
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


def _tagged_union(sv: DataFrame, se: DataFrame) -> DataFrame:
    """Discriminated union of the two summary streams: (kind, v struct,
    e struct) with the inactive side null — schemas stay independent while
    both branches share one micro-batch/checkpoint lifecycle."""

    def struct_ddl(df: DataFrame) -> str:
        inner = ",".join(f"{f.name}:{f.dataType.simpleString()}" for f in df.schema.fields)
        return f"struct<{inner}>"

    return sv.select(
        F.lit("v").alias("kind"),
        F.struct(*sv.columns).alias("v"),
        F.lit(None).cast(struct_ddl(se)).alias("e"),
    ).unionByName(
        se.select(
            F.lit("e").alias("kind"),
            F.lit(None).cast(struct_ddl(sv)).alias("v"),
            F.struct(*se.columns).alias("e"),
        )
    )
