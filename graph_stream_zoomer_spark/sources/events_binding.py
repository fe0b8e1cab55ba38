"""Bind the driver's ``events`` table (event_id, ts, user_id, event_type,
value, props) to the transcript input shape, so the grouping pipeline can be
verified against an ANSI-SQL oracle over the same parquet.

Mapping: conv_id = user_id, turn_idx = rank of the event within its user's
timeline (ties broken by event_id — deterministic), role = event_type,
text = props JSON string, tool = '', ts = ts. A per-turn numeric property
``value`` rides along in the vertex/edge property bags so numeric aggregates
(sum/avg/min/max) are exercised end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..config import StreamGraphConfig
from ..model import StreamGraph, triple_edges


def events_to_transcripts(events: DataFrame) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.col("props").alias("text"),
        F.lit("").alias("tool"),
        F.col("ts").alias("ts"),
        # cents-scaled so downstream double aggregation is exact-integer and
        # reproducible bit-for-bit in any SQL oracle
        F.round(F.col("value") * 100, 0).cast("bigint").alias("_value"),
    )


def events_triples(events: DataFrame) -> DataFrame:
    """Successor triples over the events-as-transcripts binding, with
    properties {value, text_len} on each endpoint and {value} on the edge
    (value of the later event)."""
    t = events_to_transcripts(events)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    nxt = t.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "ts",
        "_value",
        F.lead("turn_idx").over(w).alias("n_turn_idx"),
        F.lead("role").over(w).alias("n_role"),
        F.lead("text").over(w).alias("n_text"),
        F.lead("ts").over(w).alias("n_ts"),
        F.lead("_value").over(w).alias("n_value"),
    ).where(F.col("n_turn_idx").isNotNull())

    def props(value_col: str, text_col: str):
        return F.map_from_arrays(
            F.array(F.lit("value_c"), F.lit("text_len")),
            F.array(F.col(value_col).cast("string"), F.length(text_col).cast("string")),
        )

    src_id = F.concat_ws(":", "conv_id", F.col("turn_idx").cast("string"))
    tgt_id = F.concat_ws(":", "conv_id", F.col("n_turn_idx").cast("string"))
    return nxt.select(
        F.concat(src_id, F.lit("->"), F.col("n_turn_idx").cast("string")).alias("edge_id"),
        F.col("n_ts").alias("event_time"),
        F.concat_ws("->", "role", "n_role").alias("edge_label"),
        props("n_value", "n_text").alias("edge_properties"),
        F.struct(
            src_id.alias("vertex_id"),
            F.col("role").alias("vertex_label"),
            props("_value", "text").alias("vertex_properties"),
            F.col("ts").alias("event_time"),
        ).alias("source"),
        F.struct(
            tgt_id.alias("vertex_id"),
            F.col("n_role").alias("vertex_label"),
            props("n_value", "n_text").alias("vertex_properties"),
            F.col("n_ts").alias("event_time"),
        ).alias("target"),
    )


def events_graph(events: DataFrame, config: StreamGraphConfig | None = None) -> StreamGraph:
    """Single-pass vertex stream + triple stream + uniqueness hint (see
    transcripts.transcript_graph for the plan rationale)."""
    config = config or StreamGraphConfig()
    t = events_to_transcripts(events)
    w = Window.partitionBy("conv_id")
    vertices = (
        t.withColumn("_conv_turns", F.count(F.lit(1)).over(w))
        .where(F.col("_conv_turns") >= 2)
        .select(
            F.concat_ws(":", "conv_id", F.col("turn_idx").cast("string")).alias("vertex_id"),
            F.col("ts").alias("event_time"),
            F.col("role").alias("vertex_label"),
            F.map_from_arrays(
                F.array(F.lit("value_c"), F.lit("text_len")),
                F.array(F.col("_value").cast("string"), F.length("text").cast("string")),
            ).alias("vertex_properties"),
        )
    )
    triples = events_triples(events)
    return StreamGraph(
        vertices=vertices,
        edges=triple_edges(triples),
        config=config,
        triples=triples,
        elements_unique=True,
    )


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Parquet timestamps load as TIMESTAMP_NTZ; pin the session tz so
    # NTZ→epoch conversions agree with the UTC-naive SQL oracle regardless
    # of the host's default timezone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/events.parquet")
