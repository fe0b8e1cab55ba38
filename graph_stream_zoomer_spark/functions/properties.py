"""Scalar property / id helpers — the reference's UDF surface (P1-P6)
re-expressed as native Catalyst expressions.

Reference parity (paths relative to
``/root/reference/src/main/java/edu/dbsleipzig/stream/grouping/``):

  P1 ExtractPropertyValue    impl/functions/utils/ExtractPropertyValue.java:30-59
  P2 EmptyPropertyValueIfNull impl/functions/utils/EmptyPropertyValueIfNull.java:36-47
  P5 CreateSuperElementId     impl/functions/utils/CreateSuperElementId.java:27-47
  P6 ToProperties             impl/functions/utils/ToProperties.java:37-82

The reference routes these through opaque RAW(Properties) UDFs, defeating
Flink's codegen; the Spark rewrite keeps them as built-in expressions so the
whole pipeline stays inside WholeStageCodegen (SURVEY.md §4).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def extract_property(props_col: Column | str, key: str) -> Column:
    """P1: pull one key out of the property bag; NULL when the bag lacks
    it. Pure Catalyst: a ``GetMapValue`` (``col[key]``), which
    SimplifyExtractValueOps folds to the one value read when the bag is a
    ``create_map``, so a bag entry that nothing reads is never computed."""
    c = F.col(props_col) if isinstance(props_col, str) else props_col
    return c[key]


def super_element_id(fields: Sequence[Column], algo: str = "sha1") -> Column:
    """P5: deterministic group id = hex hash of grouping values joined by '.'.

    ``concat_ws`` skips NULLs exactly like the reference's StringJoiner loop
    (CreateSuperElementId.java:38-44 skips null fields entirely).
    ``algo``: 'sha1' (reference parity) or 'sha256' (DuckDB-oracle friendly).
    """
    joined = F.concat_ws(".", *fields)
    if algo == "sha1":
        return F.sha1(joined)
    if algo == "sha256":
        return F.sha2(joined, 256)
    raise ValueError(f"unknown id hash {algo!r}")


def fold_properties(pairs: Sequence[tuple[str, Column]]) -> Column:
    """P6: fold (key, value) pairs back into a map<string,string> bag,
    dropping null-valued entries (ToProperties.java:60-78 skips nulls).

    Values are cast to string — the canonical external property encoding;
    typed access happens by casting at use sites, mirroring how the
    reference's PropertyValue carries a type tag.
    """
    if not pairs:
        return F.create_map().cast("map<string,string>")
    entries = F.array(
        *[
            F.struct(F.lit(k).alias("key"), v.cast("string").alias("value"))
            for k, v in pairs
        ]
    )
    kept = F.filter(entries, lambda e: e["value"].isNotNull())
    return F.map_from_entries(kept)


def canonical_props(props_col: Column | str) -> Column:
    """Order-insensitive, group-by-able encoding of a map column.

    Spark cannot GROUP BY MapType (not orderable); sorted entries are.
    Used by the windowed dedup (A6) and anywhere a property bag is a key.
    """
    c = F.col(props_col) if isinstance(props_col, str) else props_col
    return F.sort_array(F.map_entries(c))
