"""Key-skew diagnostics: how heavy the heaviest keys of a column set are.

A diagnostic only; it changes no plan. The grouping operator's defence
against hot keys is Spark's own map-side partial aggregation (and AQE
skew-join at run time). The profile is ONE map-side-combined groupBy over
the keys plus a TakeOrdered for the heavy hitters — no global sort, no
driver-side data beyond top_k rows — and every reported figure is integer
arithmetic (ppm fixed-point), so the output is hash-exact cross-engine and
usable as a drift monitor (profile today vs yesterday compares
bit-for-bit).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_PPM = 1_000_000


def skew_profile(df: DataFrame, key_cols: list[str], top_k: int = 10) -> DataFrame:
    """Top-``top_k`` heaviest keys with fixed-point skew figures:

      rank          1 = heaviest (ties broken by key string, deterministic)
      key           the grouping key rendered as ':'-joined string
      cnt           rows carrying this key
      share_ppm     cnt / total_rows, parts-per-million (integer div)
      skew_ppm      cnt / mean_rows_per_key in ppm — 1_000_000 means the
                    key is exactly average; 50_000_000 means a 50× hot key

    Plan: groupBy keys (1 exchange, partial agg), 1-row totals broadcast,
    TakeOrderedAndProject for the top_k — no global sort."""
    if not key_cols:
        raise ValueError("skew_profile needs at least one key column")
    key = F.concat_ws(":", *[F.col(c).cast("string") for c in key_cols]).alias("key")
    counts = df.select(key).groupBy("key").agg(F.count(F.lit(1)).alias("cnt"))
    totals = counts.agg(
        F.count(F.lit(1)).alias("_n_keys"), F.sum("cnt").alias("_n_rows")
    )
    joined = counts.crossJoin(F.broadcast(totals))
    # ppm numerators in DECIMAL(38,0): cnt*n_keys*1e6 exceeds 2^63 once
    # cnt·n_keys passes ~9.2e12 (10M distinct keys × a 1M-row hot key —
    # squarely in the 100 TB regime), and BIGINT would wrap negative under
    # non-ANSI arithmetic. DECIMAL keeps the figure exact (matching the
    # DuckDB oracle's HUGEINT arithmetic) up to 38 digits. Spark decimal
    # division HALF_UP-rounds the quotient at the derived scale, which can
    # misround a floor for n_rows > ~2e6 — so the remainder is subtracted
    # first, making the division exactly integral.
    def _floordiv_ppm(numerator_sql: str) -> F.Column:
        return F.expr(
            f"cast((({numerator_sql}) - pmod({numerator_sql}, _n_rows))"
            " / _n_rows as bigint)"
        )

    ranked = joined.select(
        "key",
        "cnt",
        _floordiv_ppm(f"cast(cnt as decimal(38,0)) * {_PPM}").alias("share_ppm"),
        # cnt / (rows/keys) = cnt*keys/rows, in ppm
        _floordiv_ppm(f"cast(cnt as decimal(38,0)) * _n_keys * {_PPM}").alias(
            "skew_ppm"
        ),
    )
    # TakeOrdered first (no global sort over all keys); the rank window then
    # runs over only top_k already-collected-scale rows
    top = ranked.orderBy(F.desc("cnt"), F.asc("key")).limit(top_k)
    rank = F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("key")))
    return top.select(
        rank.alias("rank"), "key", "cnt", "share_ppm", "skew_ppm"
    )
