"""Scalar property / id helpers — the reference's UDF surface (P1-P6)
re-expressed as native Catalyst expressions, written as SQL expression
templates.

Reference parity (paths relative to
``/root/reference/src/main/java/edu/dbsleipzig/stream/grouping/``):

  P1 ExtractPropertyValue    impl/functions/utils/ExtractPropertyValue.java:30-59
  P2 EmptyPropertyValueIfNull impl/functions/utils/EmptyPropertyValueIfNull.java:36-47
  P5 CreateSuperElementId     impl/functions/utils/CreateSuperElementId.java:27-47
  P6 ToProperties             impl/functions/utils/ToProperties.java:37-82

The reference routes these through opaque RAW(Properties) UDFs, defeating
Flink's codegen; the Spark rewrite keeps them as built-in expressions so the
whole pipeline stays inside WholeStageCodegen (SURVEY.md §4).

Why templates: a plan is built from Python through py4j, where every
``Column`` method is several round trips (``F.col`` ~13 commands, a
3-entry ``create_map`` ~60), while a SQL expression string is parsed by the
JVM in one call. The grouping and the transcript binding therefore pass
strings to ``selectExpr``/``where``/``F.expr``. User-supplied text (property
keys, aggregate output keys) enters a template only through ``quote``
(as an identifier) or ``text`` (as a string value); everything else in a
template is a constant of this package.
"""

from __future__ import annotations

from collections.abc import Sequence


def quote(name: str) -> str:
    """``name`` as a back-quoted SQL identifier, whatever it contains."""
    return "`" + name.replace("`", "``") + "`"


def text(value: str) -> str:
    """``value`` as a SQL string expression. Spelled as UTF-8 hex, so no
    character of it, and no string-escaping setting of the session, can
    change how it parses; Catalyst folds it to a plain literal."""
    return f"CAST(X'{value.encode().hex()}' AS STRING)"


def extract_property(bag: str, key: str) -> str:
    """P1: the ``key`` entry of the property bag expression ``bag``; NULL
    when the bag lacks it. A map field access (``GetMapValue``), which
    SimplifyExtractValueOps folds to the one value read when the bag is a
    ``map(...)``, so a bag entry that nothing reads is never computed."""
    return f"{bag}.{quote(key)}"


def super_element_id(fields: Sequence[str]) -> str:
    """P5: deterministic group id = sha1 hex of grouping values joined by
    '.', as the reference hashes them.

    ``concat_ws`` skips NULLs exactly like the reference's StringJoiner loop
    (CreateSuperElementId.java:38-44 skips null fields entirely).
    """
    return f"sha1(concat_ws('.', {', '.join(fields)}))"


def fold_properties(pairs: Sequence[tuple[str, str]]) -> str:
    """P6: fold (key, value expression) pairs back into a map<string,string>
    bag, dropping null-valued entries (ToProperties.java:60-78 skips nulls).

    Values are cast to string — the canonical external property encoding;
    typed access happens by casting at use sites, mirroring how the
    reference's PropertyValue carries a type tag.
    """
    if not pairs:
        return "CAST(map() AS map<string,string>)"
    entries = ", ".join(f"struct({text(k)} AS key, CAST({v} AS STRING) AS value)" for k, v in pairs)
    return f"map_from_entries(filter(array({entries}), e -> e.value IS NOT NULL))"


def canonical_props(bag: str) -> str:
    """Order-insensitive, group-by-able encoding of a map column.

    Spark cannot GROUP BY MapType (not orderable); sorted entries are.
    Used by the windowed dedup (A6) and anywhere a property bag is a key.
    """
    return f"sort_array(map_entries({bag}))"
