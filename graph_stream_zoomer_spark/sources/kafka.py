"""Kafka streaming source adapter — the external live-stream connector role
(reference: the Twitter source, ``application/TwitterExample.java:63-71`` +
``application/functions/TwitterMapper.java:37-101``, which maps a live feed
into the triple model; here the live feed carries transcript turns).

Config-gated like the Iceberg paths: building the plan requires the
``spark-sql-kafka`` connector on the classpath (not shipped in this
sandbox), so ``read_transcript_kafka_stream`` is exercised in production
only — but the value-parsing projection is a pure DataFrame→DataFrame
function over Kafka's fixed record schema, unit-tested on static rows
(tests/test_sources.py) with no jars needed.

Scale notes: one Kafka partition maps to one Spark input partition; keying
the topic by conv_id (producer side) makes Kafka the first conv_id
partitioning so the successor-edge lead() shuffle is the only exchange.
Malformed records are quarantined, not dropped (``_corrupt`` flag), so a
poisoned topic can't silently thin the stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .transcripts import TRANSCRIPT_DDL

#: Kafka's fixed source schema (what ``format("kafka").load()`` yields).
KAFKA_RECORD_DDL = (
    "key binary, value binary, topic string, partition int, offset bigint, "
    "timestamp timestamp, timestampType int"
)


def parse_transcript_records(
    records: DataFrame,
    *,
    keep_metadata: bool = False,
    drop_corrupt: bool = True,
) -> DataFrame:
    """Kafka records → transcript turns: JSON value payload projected onto
    the transcript schema (the schema-mapped value-parsing projection).

    A record whose value fails to parse or lacks the required fields is
    flagged ``_corrupt`` (and dropped when ``drop_corrupt``, the streaming
    default) — never silently coerced. ``keep_metadata`` carries
    (topic, partition, offset) through for lineage/debugging.
    """
    r = F.from_json(F.col("value").cast("string"), TRANSCRIPT_DDL)
    parsed = records.select(
        r.alias("_r"),
        *(["topic", "partition", "offset"] if keep_metadata else []),
    ).withColumn(
        "_corrupt",
        F.col("_r").isNull()
        | F.col("_r.conv_id").isNull()
        | F.col("_r.turn_idx").isNull()
        | F.col("_r.ts").isNull(),
    )
    out = parsed.select(
        "_r.conv_id",
        "_r.turn_idx",
        "_r.role",
        "_r.text",
        "_r.tool",
        "_r.ts",
        *(["topic", "partition", "offset"] if keep_metadata else []),
        "_corrupt",
    )
    if drop_corrupt:
        out = out.where(~F.col("_corrupt")).drop("_corrupt")
    return out


def read_transcript_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    *,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
    keep_metadata: bool = False,
) -> DataFrame:
    """``readStream.format("kafka")`` → transcript turns. Requires the
    spark-sql-kafka connector jar (production clusters; absent in this
    sandbox). The returned stream plugs directly into
    ``streaming.binding.streaming_transcript_graph``."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        # a poisoned record must not kill the stream; parsing quarantines it
        .option("failOnDataLoss", "false")
    )
    if max_offsets_per_trigger:
        reader = reader.option("maxOffsetsPerTrigger", max_offsets_per_trigger)
    return parse_transcript_records(reader.load(), keep_metadata=keep_metadata)


def summary_records(
    summaries: DataFrame,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Summary rows → Kafka producer records (the sink-side twin of
    ``parse_transcript_records``): ``key`` = the concatenated key columns
    (defaults to the exactly-once sink key (window_start, super id) when
    present), ``value`` = the full row as JSON. Keying by the sink key
    gives per-key ordering within a Kafka partition AND makes downstream
    log-compaction keep exactly the latest version of each summary — the
    Kafka-native form of the idempotent (window, group-key) upsert.

    Pure projection, unit-testable without jars."""
    cols = summaries.columns
    if key_cols is None:
        key_cols = [
            c
            for c in ("window_start", "super_vertex_id", "super_edge_id")
            if c in cols
        ]
        if not key_cols:
            raise ValueError(
                "no default key columns found; pass key_cols explicitly"
            )
    missing = [c for c in key_cols if c not in cols]
    if missing:
        raise ValueError(f"key columns {missing} not in {cols}")
    return summaries.select(
        F.concat_ws("|", *[F.col(c).cast("string") for c in key_cols])
        .cast("binary")
        .alias("key"),
        F.to_json(F.struct(*cols)).cast("binary").alias("value"),
    )


def write_summary_kafka_stream(
    summaries: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint_dir: str,
    *,
    key_cols: list[str] | None = None,
    available_now: bool = False,
):
    """``writeStream.format("kafka")`` of the summary stream — the sink-side
    connector (jar-gated like the source; production only). Exactly-once
    note: the Kafka sink is at-least-once (no transactional producer in
    Spark's sink); the compacted-key layout from ``summary_records`` makes
    re-delivered summaries harmless to log-compacted consumers, and strict
    exactly-once deployments keep the Iceberg MERGE sink instead."""
    w = (
        summary_records(summaries, key_cols=key_cols)
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()
