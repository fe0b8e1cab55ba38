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

from pyspark.sql import DataFrame
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

