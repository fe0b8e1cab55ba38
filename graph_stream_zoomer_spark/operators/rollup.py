"""Conversation-level rollup over the transcript table.

The input-hint table (conv_id, turn_idx, role, text, tool, ts) is turn-
grained; most pipeline decisions (keep/drop a conversation, route it to a
training mix, bill a tenant) are conversation-grained. This operator
collapses turns to one row per conversation with the session-level
features those decisions need.

Reference parity note: the reference (dbs-leipzig/graph-stream-zoomer)
has no conversation rollup — its grouping operator summarizes by
label/property keys (e.g. `GroupingTest.java` in
`src/test/java/.../grouping/`). This operator is the transcript-pipeline
extension the brief asks for beyond reference coverage.

100 TB design:
- ONE shuffle on conv_id; every aggregate is map-side combinable
  (count / conditional count / sum / min / max / min_by / max_by), so the
  partial-aggregation pass collapses each input partition to its local
  conversation set before the exchange. `n_roles` uses
  `array_distinct(collect_set(...))`-free `count(DISTINCT role)` — Spark
  plans it as a two-level expand+agg, still fully distributed; role
  cardinality is tiny (≤ a handful) so the expand factor is bounded.
- No windows, no joins, no Python. The whole plan is one
  WholeStageCodegen span per side of the exchange.
- Skewed conversations (one conv with millions of turns) are bounded by
  the generator's cap in tests; in production partial aggregation absorbs
  most skew because every aggregate here is algebraic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def conversation_stats(
    t: DataFrame,
    user_role: str = "user",
    assistant_role: str = "assistant",
) -> DataFrame:
    """One row per conversation: turn counts by role, tool-call count,
    distinct-role count, total text volume, first/last timestamps and
    roles, and wall-clock duration.

    Input: the transcript shape ``(conv_id, turn_idx, role, text, tool,
    ts)``. Output is deterministic (no floating aggregation other than
    duration in integer seconds) and hash-comparable against a plain SQL
    oracle.
    """
    return (
        t.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.count(F.when(F.col("role") == user_role, 1)).alias("n_user"),
            F.count(F.when(F.col("role") == assistant_role, 1)).alias("n_assistant"),
            F.count(F.when(F.col("tool") != "", 1)).alias("n_tool_calls"),
            F.count_distinct(F.col("role")).alias("n_roles"),
            F.sum(F.length("text")).alias("total_chars"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.min_by("role", "turn_idx").alias("first_role"),
            F.max_by("role", "turn_idx").alias("last_role"),
        )
        .withColumn(
            "duration_s",
            (F.unix_timestamp("last_ts") - F.unix_timestamp("first_ts")).cast("bigint"),
        )
    )


def sessionize(
    t: DataFrame,
    gap_s: int = 1800,
    key: str = "conv_id",
    ts_col: str = "ts",
    order_col: str = "turn_idx",
    out_col: str = "session_id",
) -> DataFrame:
    """Batch gap-rule session assignment: within each ``key``, a new
    session starts at the first row and at every row arriving strictly
    more than ``gap_s`` seconds after the previous row (``>`` — measured
    against Spark's session_window, which MERGES an event landing exactly
    at last+gap; microsecond arithmetic, not second-truncated). Emits
    ``out_col`` = ``key#<session-ordinal>`` on every input row.

    The batch twin of the session WINDOW (operators/grouping.py W1): the
    window form aggregates away the rows, this form labels them — what a
    pipeline needs to split one over-long conversation into trainable
    session chunks while keeping the turns. Same semantics: identical gap rule, so a downstream
    groupBy(session_id) reproduces the session-window aggregate.

    One window exchange on ``key`` — the SAME exchange the successor-edge
    binding and pack_sequences already need, so in a fused pipeline
    Catalyst reuses it (subset-clustering rule). lag + running-sum in one
    WindowExec pass; no joins, no Python.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(key).orderBy(ts_col, order_col)
    prev_ts = F.lag(F.col(ts_col)).over(w)
    is_new = (
        prev_ts.isNull()
        | (
            F.unix_micros(F.col(ts_col).cast("timestamp"))
            - F.unix_micros(prev_ts.cast("timestamp"))
            > gap_s * 1_000_000
        )
    ).cast("int")
    sess_ord = F.sum(is_new).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return t.withColumn(out_col, F.concat_ws("#", F.col(key), sess_ord.cast("string")))

