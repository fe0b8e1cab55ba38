"""Aggregate function descriptors (A1-A5).

Reference parity: the logical descriptor mirrors
``impl/functions/aggregation/CustomizedAggregationFunction.java:33-60``
(property key in, aggregate property key out); the physical Flink UDAFs
(TableCount/TableMinProperty/TableMaxProperty/TableSumProperty/
TableAvgProperty, each with createAccumulator/accumulate/merge/getValue)
collapse to native Spark aggregate expressions, which already execute as
partial+final hash aggregates (map-side combine before the shuffle).

Deliberate divergences from reference quirks (SURVEY.md §2.3):
  - MaxProperty: reference seeds the accumulator with Double.MIN_VALUE (the
    smallest *positive* double) and is wrong for all-negative inputs
    (``aggregation/TableMaxProperty.java:38-52``). Spark ``max`` is correct.
  - SumProperty: reference returns NULL for a legitimate zero sum
    (``aggregation/TableSumProperty.java:70-80``). We return 0.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions.properties import quote


@dataclass(frozen=True)
class AggregateFunction:
    """One aggregate over a (numeric) property key.

    ``kind`` ∈ {count,min,max,sum,avg}; ``property_key`` is None for count.
    ``output_key`` is the emitted property name (reference: 'count',
    f'min_{k}', ... — aggregation/Count.java:36-66 etc.).
    """

    kind: str
    property_key: str | None = None
    _output_key: str | None = None
    param: float | None = None

    @property
    def output_key(self) -> str:
        if self._output_key:
            return self._output_key
        if self.kind == "count":
            return "count"
        if self.kind in ("percentile", "approx_percentile"):
            tag = f"p{int(round(self.param * 100))}"
            if self.kind == "approx_percentile":
                tag += "approx"
            return f"{tag}_{self.property_key}"
        if self.kind == "collect_set":
            return f"set_{self.property_key}"
        if self.kind == "count_distinct":
            return f"nd_{self.property_key}"
        return f"{self.kind}_{self.property_key}"

    @property
    def input_type(self) -> str:
        """Promotion cast for the aggregate's input column: the numeric
        family aggregates doubles; the set family keeps the raw property
        STRING (property bags are map<string,string>)."""
        return "string" if self.kind in ("collect_set", "count_distinct") else "double"

    # -- direct (single-phase) form -------------------------------------
    def agg_sql(self, x: str) -> str:
        """The aggregate as a SQL expression over the input expression
        ``x`` (the promoted property column, already cast)."""
        if self.kind == "count":
            return "count(1)"
        if self.kind == "stddev":
            return f"stddev_samp({x})"
        if self.kind == "percentile":
            return f"percentile({x}, {float(self.param)!r}D)"
        if self.kind == "approx_percentile":
            # fixed high accuracy: the mergeable-sketch (KLL-style) form for
            # 100 TB — bounded state per group vs percentile's full buffer
            return f"approx_percentile({x}, {float(self.param)!r}D, 10000)"
        if self.kind == "collect_set":
            # sorted comma-joined rendering (engine-portable; deterministic
            # regardless of accumulation order); all-null group → NULL so the
            # null-dropping property fold and SQL string_agg agree
            return f"nullif(array_join(array_sort(collect_set({x})), ','), '')"
        if self.kind == "count_distinct":
            # size(collect_set) rather than countDistinct: same value, but
            # legal in streaming aggregations (countDistinct is not), so the
            # batch and streaming twins share one expression; state per group
            # is bounded by the value cardinality
            return f"CAST(size(collect_set({x})) AS BIGINT)"
        if self.kind not in ("min", "max", "sum", "avg"):
            raise ValueError(f"unknown aggregate {self.kind!r}")
        return f"{self.kind}({x})"

    def agg_expr(self, input_col: str) -> Column:
        """Aggregate over the promoted property column (already double),
        named by ``output_key``."""
        return F.expr(f"{self.agg_sql(quote(input_col))} AS {quote(self.output_key)}")


def Count() -> AggregateFunction:
    return AggregateFunction("count")


def MinProperty(key: str) -> AggregateFunction:
    return AggregateFunction("min", key)


def MaxProperty(key: str) -> AggregateFunction:
    return AggregateFunction("max", key)


def SumProperty(key: str) -> AggregateFunction:
    return AggregateFunction("sum", key)


def AvgProperty(key: str) -> AggregateFunction:
    return AggregateFunction("avg", key)


def StddevProperty(key: str) -> AggregateFunction:
    """Sample standard deviation — beyond-reference aggregate; NULL for
    groups of fewer than two values (``stddev_samp``)."""
    return AggregateFunction("stddev", key)


def CollectSetProperty(key: str) -> AggregateFunction:
    """Distinct property values per group, rendered as the sorted
    comma-joined string (deterministic, engine-portable) — the graph-
    summarization "which values occur in this super-vertex" aggregate the
    reference family lacks. Streaming-legal (collect_set); state per group
    is bounded by the property's value cardinality, so use on low-cardinality
    properties (roles, tools, languages) at 100 TB.

    Encoding caveat: the comma-join renders a set whose only member is
    the empty string identically to the empty set (→ NULL, property
    dropped); CountDistinctProperty still counts it. Pre-filter
    empty-string property values if the distinction matters."""
    return AggregateFunction("collect_set", key)


def CountDistinctProperty(key: str) -> AggregateFunction:
    """Exact distinct-value count per group via size(collect_set) — the
    streaming-legal form (countDistinct raises in streaming aggregations),
    shared verbatim by the batch and streaming twins. For unbounded-
    cardinality keys at 100 TB prefer the HLL sketch
    (approx_count_distinct, see `graph_group_window_users`)."""
    return AggregateFunction("count_distinct", key)


def PercentileProperty(key: str, p: float = 0.5) -> AggregateFunction:
    """Exact interpolated percentile (median by default) — beyond-reference
    aggregate (the reference family stops at avg); matches DuckDB's
    quantile_cont definition for oracle checks. Exact form buffers the
    group's values: fine under windowed grouping (state bounded per
    (window, key)); at 100 TB prefer ApproxPercentileProperty."""
    if not 0.0 <= p <= 1.0:
        raise ValueError(f"percentile must be in [0, 1], got {p}")
    return AggregateFunction("percentile", key, param=p)


def ApproxPercentileProperty(key: str, p: float = 0.5) -> AggregateFunction:
    """approx_percentile sketch twin — bounded state per group, mergeable
    internally by Spark's partial aggregation; the 100 TB form."""
    if not 0.0 <= p <= 1.0:
        raise ValueError(f"percentile must be in [0, 1], got {p}")
    return AggregateFunction("approx_percentile", key, param=p)
