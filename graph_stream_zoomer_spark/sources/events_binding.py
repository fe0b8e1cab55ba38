"""Bind the driver's ``events`` table (event_id, ts, user_id, event_type,
value, props) to the transcript input shape, so the grouping pipeline can be
verified against an ANSI-SQL oracle over the same parquet.

Mapping: conv_id = user_id, turn_idx = rank of the event within its user's
timeline (ties broken by event_id — deterministic), role = event_type,
text = props JSON string, tool = '', ts = ts, plus ``value_c``. The graph
is the transcript binding's (``transcript_graph``), whose property bags
carry every extra turn column, so ``value_c`` rides along in the vertex and
edge bags and numeric aggregates (sum/avg/min/max) are exercised end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


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
        F.round(F.col("value") * 100, 0).cast("bigint").alias("value_c"),
    )


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Parquet timestamps load as TIMESTAMP_NTZ; pin the session tz so
    # NTZ→epoch conversions agree with the UTC-naive SQL oracle regardless
    # of the host's default timezone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/events.parquet")
