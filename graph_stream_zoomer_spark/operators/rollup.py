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

The streaming twin (`streaming_conversation_stats`) expresses the same
rollup as a session-window aggregation: a conversation is "closed" when
no turn arrives for `gap` — the watermark then emits exactly one final
row per conversation (append mode), matching the batch rollup on the same
input once all sessions have closed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _agg_exprs(
    streaming: bool = False,
    user_role: str = "user",
    assistant_role: str = "assistant",
) -> list:
    # n_roles: batch uses count(DISTINCT) (two-level expand+agg); streaming
    # aggregation forbids distinct aggregates, so the twin carries a
    # collect_set in state instead — bounded by role cardinality (≤ a
    # handful of roles), so state stays O(1) per open session.
    n_roles = (
        F.size(F.collect_set("role")) if streaming else F.count_distinct(F.col("role"))
    )
    return [
        F.count(F.lit(1)).alias("n_turns"),
        F.count(F.when(F.col("role") == user_role, 1)).alias("n_user"),
        F.count(F.when(F.col("role") == assistant_role, 1)).alias("n_assistant"),
        F.count(F.when(F.col("tool") != "", 1)).alias("n_tool_calls"),
        n_roles.alias("n_roles"),
        F.sum(F.length("text")).alias("total_chars"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.min_by("role", "turn_idx").alias("first_role"),
        F.max_by("role", "turn_idx").alias("last_role"),
    ]


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
        .agg(*_agg_exprs(user_role=user_role, assistant_role=assistant_role))
        .withColumn(
            "duration_s",
            (F.unix_timestamp("last_ts") - F.unix_timestamp("first_ts")).cast("bigint"),
        )
    )


def streaming_conversation_stats(
    t: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "10 seconds",
) -> DataFrame:
    """Streaming twin: session-window rollup keyed by conv_id.

    A conversation closes when no turn arrives within ``gap``; the
    watermark then finalizes the session and append mode emits exactly one
    row for it. Columns match :func:`conversation_stats` plus the session
    window bounds. State is bounded: one open session per active
    conversation, evicted at watermark + gap.
    """
    return (
        t.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("session"), "conv_id")
        .agg(*_agg_exprs(streaming=True))
        .select(
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            "conv_id",
            "n_turns",
            "n_user",
            "n_assistant",
            "n_tool_calls",
            "n_roles",
            "total_chars",
            "first_ts",
            "last_ts",
            "first_role",
            "last_role",
            (F.unix_timestamp("last_ts") - F.unix_timestamp("first_ts"))
            .cast("bigint")
            .alias("duration_s"),
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

    The batch twin of the session WINDOW (operators/grouping.py W1 /
    streaming_conversation_stats): the window form aggregates away the
    rows, this form labels them — what a pipeline needs to split one
    over-long conversation into trainable session chunks while keeping the
    turns. Same semantics: identical gap rule, so a downstream
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


def streaming_sessionize(
    turns: DataFrame,
    gap_s: int = 1800,
    key: str = "conv_id",
) -> DataFrame:
    """Streaming twin of :func:`sessionize` — labels each turn with its
    session ordinal (``key#n``), emitted exactly once when the session
    CLOSES (watermark passes last-event + gap, mirroring session_window's
    append semantics; a turn cannot be labeled earlier because a late-but-
    legal event could still merge two open sessions).

    Keyed state per conversation: the un-emitted (turn_idx, ts) pairs plus
    the closed-session count. Each micro-batch re-segments the buffer with
    the SAME strict-> gap rule as batch sessionize, closes every session
    whose ``last + gap`` the watermark has strictly passed (closes happen
    in start order, so ordinals match the batch numbering), and arms an
    event-time timeout at the earliest pending close so idle conversations
    flush on no-data batches. State is O(open-session turns) — text/role
    payloads are NOT buffered (emit (conv_id, turn_idx, ts, session_id);
    re-attach payload with a batch join downstream), the same state-byte
    pushdown rule the grouping job uses.
    """
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    gap_us = gap_s * 1_000_000
    out_schema = StructType(
        [
            StructField(key, StringType()),
            StructField("turn_idx", IntegerType()),
            StructField("ts", TimestampType()),
            StructField("session_id", StringType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("idxs", ArrayType(IntegerType())),
            StructField("ts_us", ArrayType(LongType())),
            StructField("n_closed", LongType()),
        ]
    )

    def labeler(
        k: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            idxs, ts_us, n_closed = state.get
            buf = list(zip((int(i) for i in idxs), (int(t) for t in ts_us)))
            n_closed = int(n_closed)
        else:
            buf, n_closed = [], 0
        wm_us = state.getCurrentWatermarkMs() * 1000

        if not state.hasTimedOut:
            for pdf in pdfs:
                if pdf.empty:
                    continue
                tcol = (pdf["ts"].astype("int64") // 1_000).to_numpy()
                buf.extend(
                    (int(i), int(t)) for i, t in zip(pdf["turn_idx"], tcol)
                )

        # segment the whole un-emitted buffer with the batch gap rule
        buf.sort(key=lambda x: (x[1], x[0]))
        sessions: list[list[tuple[int, int]]] = []
        for row in buf:
            if sessions and row[1] - sessions[-1][-1][1] <= gap_us:
                sessions[-1].append(row)
            else:
                sessions.append([row])

        out = {key: [], "turn_idx": [], "ts": [], "session_id": []}
        kept: list[tuple[int, int]] = []
        n_closed_at_entry = n_closed
        for sess in sessions:  # start order == close order
            if sess[-1][1] + gap_us < wm_us:
                n_closed += 1
                sid = f"{k[0]}#{n_closed}"
                for i, t in sess:
                    out[key].append(k[0])
                    out["turn_idx"].append(i)
                    out["ts"].append(pd.Timestamp(t, unit="us"))
                    out["session_id"].append(sid)
            else:
                kept.extend(sess)

        if kept:
            state.update(
                (
                    [i for i, _ in kept],
                    [t for _, t in kept],
                    n_closed,
                )
            )
            min_close_ms = min(
                t for _, t in kept
            )  # conservative: wake at earliest buffered ts + gap
            state.setTimeoutTimestamp(
                max((min_close_ms + gap_us) // 1000 + 1, wm_us // 1000 + 1)
            )
        elif n_closed and (not state.hasTimedOut or n_closed > n_closed_at_entry):
            # remember the ordinal for future sessions of this conversation
            # for one more timeout period; if the conversation stays silent
            # until then, drop the state (bounded retention — a conversation
            # resuming after that horizon restarts its ordinals, documented).
            # The `n_closed > n_closed_at_entry` arm gives the TIMEOUT close
            # path the SAME retention horizon as the data-batch close path:
            # when the final open session closes on a timeout wake, keep the
            # ordinal counter one more period instead of dropping it
            # immediately (otherwise a conversation resuming right after
            # would restart at session #1 and reuse session_ids). A timeout
            # wake that closed nothing is the retention expiry itself —
            # that one falls through to remove().
            state.update(([], [], n_closed))
            state.setTimeoutTimestamp(wm_us // 1000 + gap_s * 1000 + 1)
        else:
            state.remove()

        if out[key]:
            yield pd.DataFrame(out)

    return (
        turns.select(key, "turn_idx", "ts")
        .groupBy(key)
        .applyInPandasWithState(
            labeler,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
