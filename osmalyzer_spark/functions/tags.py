"""Tag predicates and projections over the open-schema tags map.

Spark equivalents of the reference's OsmFilter family
(Core/Filters/*.cs — HasKey, HasValue, SplitValuesCheck, type filters)
and tag projections (Core/Primitives/OsmElement.cs:136-169,
Core/Helpers/TagUtils.cs). All native expressions — these sit under every
analyzer's scan, so they must stay inside whole-stage codegen and push
down through Catalyst.

The tags column is map<string,string>; null map == untagged element.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(x) -> Column:
    return x if isinstance(x, Column) else F.col(x)


# --- key predicates (HasKey.cs, HasAnyKey.cs, HasKeyPrefixed.cs) ----------

def has_key(tags, key: str) -> Column:
    return F.coalesce(F.map_contains_key(_c(tags), F.lit(key)), F.lit(False))


def has_key_prefixed(tags, prefix: str) -> Column:
    return F.exists(F.map_keys(_c(tags)), lambda k: k.startswith(prefix))


def doesnt_have_key(tags, key: str) -> Column:
    return ~has_key(tags, key)


# --- value predicates (HasValue.cs, HasAnyValue.cs) ------------------------

def has_value(tags, key: str, value: str, case_sensitive: bool = True) -> Column:
    v = F.element_at(_c(tags), F.lit(key))
    if case_sensitive:
        return F.coalesce(v == value, F.lit(False))
    return F.coalesce(F.lower(v) == value.lower(), F.lit(False))


def has_any_value(tags, key: str, values: list[str], case_sensitive: bool = True) -> Column:
    v = F.element_at(_c(tags), F.lit(key))
    if case_sensitive:
        return F.coalesce(v.isin(values), F.lit(False))
    return F.coalesce(F.lower(v).isin([x.lower() for x in values]), F.lit(False))


def doesnt_have_value(tags, key: str, value: str) -> Column:
    return ~has_value(tags, key, value)


def _split_value(v) -> Column:
    """TagUtils.SplitValue (TagUtils.cs:8-15): split on ';', drop
    pre-trim-empty entries, trim the rest (duplicates preserved)."""
    return F.transform(
        F.filter(F.split(_c(v), ";"), lambda t: t != ""), lambda t: F.trim(t)
    )


def split_values_check(tags, key: str, pred) -> Column:
    """SplitValuesCheck (Core/Filters/SplitValuesCheck.cs:24-44): split the
    `;`-delimited value (TagUtils.SplitValue semantics); the token list
    must be non-empty and ALL tokens must pass `pred`."""
    toks = _split_value(F.element_at(_c(tags), F.lit(key)))
    return F.coalesce((F.size(toks) > 0) & F.forall(toks, pred), F.lit(False))


# --- type predicates (IsNode.cs etc., IsClosedWay via node_ids) ------------

def is_node(type_col="type") -> Column:
    return _c(type_col) == "node"


def is_way(type_col="type") -> Column:
    return _c(type_col) == "way"


def is_relation(type_col="type") -> Column:
    return _c(type_col) == "relation"


def is_closed_way(type_col="type", node_ids="node_ids") -> Column:
    """Closed way: first node == last node and >= 3 nodes
    (Core/Primitives/OsmWay.cs:19)."""
    ids = _c(node_ids)
    return (
        is_way(type_col)
        & (F.size(ids) >= 3)
        & (ids[0] == F.element_at(ids, -1))
    )


# --- projections (OsmElement.cs:136-169, TagUtils.cs) -----------------------

def get_value(tags, key: str) -> Column:
    return F.element_at(_c(tags), F.lit(key))


def get_delimited_values(tags, key: str) -> Column:
    """`;`-split, pre-trim empties dropped, tokens trimmed
    (TagUtils.SplitValue, TagUtils.cs:8-15)."""
    return _split_value(get_value(tags, key))


def get_prefixed_values(tags, prefix: str) -> Column:
    """Sub-map of keys starting with prefix (OsmElement.cs GetPrefixedValues)."""
    return F.map_filter(_c(tags), lambda k, v: k.startswith(prefix))


def values_equal_unordered(a, b) -> Column:
    """TagUtils.ValuesMatch (TagUtils.cs:21-47): trimmed exact equality,
    or — only when BOTH values carry ';' — set equality of the trimmed
    non-empty distinct tokens (repeats and whitespace-only tokens
    ignored; tokens case-sensitive)."""
    ta, tb = F.trim(_c(a)), F.trim(_c(b))

    def norm(c: Column) -> Column:
        toks = F.transform(F.split(c, ";"), lambda t: F.trim(t))
        return F.array_sort(F.array_distinct(F.filter(toks, lambda t: t != "")))

    both = ta.contains(";") & tb.contains(";")
    return (ta == tb) | (both & (norm(ta) == norm(tb)))


def values_equal_ordered(a, b) -> Column:
    """TagUtils.ValuesMatchOrderSensitive (TagUtils.cs:52-78): trimmed
    exact equality, or — only when BOTH carry ';' — elementwise equality
    of trimmed tokens with empties PRESERVED ('hi;;bye' != 'hi;bye')."""
    ta, tb = F.trim(_c(a)), F.trim(_c(b))
    norm = lambda c: F.transform(F.split(c, ";"), lambda t: F.trim(t))  # noqa: E731
    both = ta.contains(";") & tb.contains(";")
    return (ta == tb) | (both & (norm(ta) == norm(tb)))
