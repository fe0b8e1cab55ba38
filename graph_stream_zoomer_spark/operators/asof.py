"""As-of (temporal) join: match each left row to the nearest right row in time.

Spark has no ASOF JOIN (DuckDB/Pandas/kdb do); the naive encoding is a range
join (``l.key = r.key AND r.ts <= l.ts`` + max-per-left), which Catalyst
plans as a broadcast-nested-loop or an exploding inner join — quadratic per
key and a guaranteed scale-killer on 100 TB event streams. This module uses
the merge-sort formulation instead:

    union(left-tagged, right-tagged)
      → one shuffle on the equi-keys
      → per-key sort by (ts, side)
      → running ``last(payload, ignorenulls=True)`` window

so each left row picks up the most recent right payload in a single pass.
Cost is ONE exchange (hash partition on the join keys) plus a per-partition
sort — the same budget as a regular shuffle join — regardless of how many
right rows precede each left row. A hot join key lands in one task;
AQE skew-join handling is the mitigation lever.

Semantics match ``pandas.merge_asof`` / DuckDB ``ASOF LEFT JOIN``:
- ``direction="backward"`` (default): latest right row with
  ``r.ts <= l.ts`` (``<`` when ``allow_exact_matches=False``).
- ``direction="forward"``: earliest right row with ``r.ts >= l.ts``.
- unmatched left rows are kept with NULL right columns (left-join shape).
- ``tolerance``: optional interval spec (e.g. ``"1 hour"``) — a match
  further away than this is treated as no match.

Ties: several right rows sharing one (key, ts) would make "the" as-of row
ambiguous; this operator breaks ties deterministically by the right payload
struct (ascending field order → the running ``last`` keeps the greatest),
so re-runs and engine ports agree. Callers wanting different tie semantics
should pre-aggregate the right side to one row per (key, ts).
"""

from __future__ import annotations

import pickle
from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .cep import _interval_us

_L = "__asof_l"
_R = "__asof_r"
_TS = "__asof_ts"
_SIDE = "__asof_side"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    direction: str = "backward",
    allow_exact_matches: bool = True,
    tolerance: str | None = None,
    right_prefix: str = "asof_",
) -> DataFrame:
    """Left as-of join of ``left`` to ``right`` on equi-keys ``on`` plus the
    temporal predicate given by ``direction``/``allow_exact_matches``.

    Output: every ``left`` row and column, plus each non-key right column
    renamed ``{right_prefix}{col}`` (NULL when no right row qualifies).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    keys = [on] if isinstance(on, str) else list(on)
    for k in keys:
        if k not in left.columns or k not in right.columns:
            raise ValueError(f"join key {k!r} missing from one side")
    tol_us = _interval_us(tolerance) if tolerance is not None else None

    right_payload = [c for c in right.columns if c not in keys]
    if not right_payload:
        raise ValueError("right side has no non-key columns to carry")
    if right_ts in keys:
        raise ValueError("right_ts cannot also be a join key")

    l_tag = left.select(
        *[F.col(k) for k in keys],
        F.col(left_ts).alias(_TS),
        F.struct(*[F.col(c) for c in left.columns]).alias(_L),
        F.lit(None).cast(
            "struct<" + ",".join(f"{c}:{right.schema[c].dataType.simpleString()}" for c in right_payload) + ">"
        ).alias(_R),
    )
    r_tag = right.select(
        *[F.col(k) for k in keys],
        F.col(right_ts).alias(_TS),
        F.lit(None).cast(
            "struct<" + ",".join(f"{c}:{left.schema[c].dataType.simpleString()}" for c in left.columns) + ">"
        ).alias(_L),
        F.struct(*[F.col(c) for c in right_payload]).alias(_R),
    )

    # Side ordering at equal ts decides whether an exact-ts right row is
    # visible to a left row: right-first (side 0) ⇔ allow_exact_matches.
    left_side = 1 if allow_exact_matches else 0
    l_tag = l_tag.withColumn(_SIDE, F.lit(left_side))
    r_tag = r_tag.withColumn(_SIDE, F.lit(1 - left_side))

    u = l_tag.unionByName(r_tag)
    # forward = backward over reversed time; at equal ts the side column
    # (right-first ⇔ exact matches visible) orders identically either way.
    ts_order = F.col(_TS).asc() if direction == "backward" else F.col(_TS).desc()
    w = (
        Window.partitionBy(*keys)
        .orderBy(ts_order, F.col(_SIDE).asc(), F.col(_R).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = u.withColumn("__asof_m", F.last(_R, ignorenulls=True).over(w))

    out = matched.where(F.col(_L).isNotNull())
    if tol_us is not None:
        gap = F.unix_micros(F.col(_TS).cast("timestamp")) - F.unix_micros(
            F.col(f"__asof_m.{right_ts}").cast("timestamp")
        )
        if direction == "forward":
            gap = -gap
        out = out.withColumn(
            "__asof_m",
            F.when(gap <= F.lit(tol_us), F.col("__asof_m")),
        )
    cols = [F.col(f"{_L}.{c}").alias(c) for c in left.columns]
    cols += [F.col(f"__asof_m.{c}").alias(f"{right_prefix}{c}") for c in right_payload]
    return out.select(*cols)


def streaming_asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    allow_exact_matches: bool = True,
    tolerance: str | None = None,
    right_prefix: str = "asof_",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Streaming twin of :func:`asof_join` (backward direction): enrich a
    left STREAM with the latest right-stream row at-or-before each left
    row's event time, emitted exactly once per left row.

    Correctness requires a *decision point*: a left row at ``ts_l`` can
    only be finalized once the watermark has passed ``ts_l`` — any right
    row with ``r.ts <= ts_l`` still in flight would by then be late
    beyond the watermark and dropped by the engine anyway. So emission
    trails the watermark delay (the same latency window-close pays);
    until then the left row sits in keyed state.

    State is BOUNDED by the lag horizon, not stream history: per key it
    holds (a) undecided left rows (ts > watermark) and (b) buffered right
    rows pruned to the single latest one at-or-below the watermark plus
    every right row above it — a right row older than a newer
    at-or-below-watermark right can never be the as-of match of any
    still-admissible left row (late lefts below the watermark are
    dropped), so it is discarded.

    Ties (several right rows sharing one (key, ts)): the greatest payload
    tuple wins, None ordering lowest — mirroring the batch operator's
    greatest-struct tie-break. Forward direction is batch-only.

    Both inputs must be streaming DataFrames; watermarks are applied here
    (``watermark_delay``) — pass raw streams.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    if not (left.isStreaming and right.isStreaming):
        raise ValueError("streaming_asof_join expects two streaming frames; "
                         "use asof_join for batch")
    keys = [on] if isinstance(on, str) else list(on)
    for k in keys:
        if k not in left.columns or k not in right.columns:
            raise ValueError(f"join key {k!r} missing from one side")
    if right_ts in keys:
        raise ValueError("right_ts cannot also be a join key")
    tol_us = _interval_us(tolerance) if tolerance is not None else None

    left_cols = list(left.columns)
    right_payload = [c for c in right.columns if c not in keys]
    if not right_payload:
        raise ValueError("right side has no non-key columns to carry")

    out_fields = [StructField(f.name, f.dataType, True) for f in left.schema.fields]
    out_fields += [
        StructField(f"{right_prefix}{c}", right.schema[c].dataType, True)
        for c in right_payload
    ]
    out_schema = StructType(out_fields)
    out_names = [f.name for f in out_fields]

    state_schema = StructType(
        [
            StructField("l_ts", ArrayType(LongType())),
            StructField("l_blob", ArrayType(BinaryType())),
            StructField("r_ts", ArrayType(LongType())),
            StructField("r_blob", ArrayType(BinaryType())),
        ]
    )

    l_tag = left.withWatermark(left_ts, watermark_delay).select(
        *[F.col(k) for k in keys],
        F.col(left_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.struct(*[F.col(c) for c in left_cols]).alias("__l"),
        F.lit(None).cast(
            "struct<" + ",".join(
                f"`{c}`:{right.schema[c].dataType.simpleString()}" for c in right_payload
            ) + ">"
        ).alias("__r"),
    )
    r_tag = right.withWatermark(right_ts, watermark_delay).select(
        *[F.col(k) for k in keys],
        F.col(right_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(
            "struct<" + ",".join(
                f"`{c}`:{left.schema[c].dataType.simpleString()}" for c in left_cols
            ) + ">"
        ).alias("__l"),
        F.struct(*[F.col(c) for c in right_payload]).alias("__r"),
    )
    u = l_tag.unionByName(r_tag)
    exact = allow_exact_matches

    def _tuple_key(t: tuple) -> tuple:
        # None-safe descending-comparable key: None sorts lowest
        return tuple((v is not None, v) for v in t)

    def _vals(row) -> tuple:
        # Arrow hands struct columns to pandas as per-row dicts (field
        # order preserved); Row/tuple also possible depending on version
        return tuple(row.values()) if isinstance(row, dict) else tuple(row)

    def joiner(
        key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        if state.exists:
            l_ts, l_blob, r_ts, r_blob = state.get
            lefts = list(zip([int(t) for t in l_ts], l_blob))
            rights = {int(t): bytes(b) for t, b in zip(r_ts, r_blob)}
        else:
            lefts, rights = [], {}
        wm_us = state.getCurrentWatermarkMs() * 1000

        if not state.hasTimedOut:
            for pdf in pdfs:
                if pdf.empty:
                    continue
                ts_us = (pdf["__ts"].astype("int64") // 1_000).to_numpy()
                for side, t, lrow, rrow in zip(
                    pdf["__side"], ts_us, pdf["__l"], pdf["__r"]
                ):
                    t = int(t)
                    if side == 0:
                        lefts.append((t, pickle.dumps(_vals(lrow))))
                    else:
                        blob = pickle.dumps(_vals(rrow))
                        old = rights.get(t)
                        if old is None or _tuple_key(pickle.loads(blob)) > _tuple_key(
                            pickle.loads(old)
                        ):
                            rights[t] = blob

        # decide every left row the watermark has passed
        decided, pending = [], []
        for t, blob in lefts:
            (decided if t < wm_us else pending).append((t, blob))
        rows = []
        if decided:
            r_sorted = sorted(rights)
            for t, blob in sorted(decided):
                cand = [rt for rt in r_sorted if (rt <= t if exact else rt < t)]
                match_t = cand[-1] if cand else None
                if match_t is not None and tol_us is not None and t - match_t > tol_us:
                    match_t = None
                lvals = pickle.loads(blob)
                rvals = (
                    pickle.loads(rights[match_t])
                    if match_t is not None
                    else tuple(None for _ in right_payload)
                )
                rows.append(lvals + rvals)

        # prune rights: keep the latest <= wm plus everything above it
        if rights:
            below = [t for t in rights if t <= wm_us]
            keep_from = max(below) if below else None
            rights = {
                t: b for t, b in rights.items()
                if t > wm_us or (keep_from is not None and t == keep_from)
            }

        if pending or rights:
            ls = sorted(pending)
            rs = sorted(rights)
            state.update(
                (
                    [t for t, _ in ls],
                    [b for _, b in ls],
                    rs,
                    [rights[t] for t in rs],
                )
            )
            if pending:
                # wake as soon as the earliest pending left can be decided
                wake_ms = min(t for t, _ in ls) // 1000 + 1
            else:
                # wake occasionally to prune rights as the watermark moves
                wake_ms = min(rights) // 1000 + 1
            state.setTimeoutTimestamp(max(wake_ms, wm_us // 1000 + 1))
        else:
            state.remove()

        if rows:
            yield pd.DataFrame(rows, columns=out_names)

    return u.groupBy(*keys).applyInPandasWithState(
        joiner,
        out_schema,
        state_schema,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )
