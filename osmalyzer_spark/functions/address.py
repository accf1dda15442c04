"""Fuzzy address matching — native expressions.

Spark equivalent of FuzzyAddressMatcher
(Osmalyzer/Helpers/FuzzyAddressMatcher.cs:5-112): Latvian street-suffix
table, suffix-tolerant street comparison, `\\d+[a-z]?` housenumber
extraction, optional `N-U` unit check. Faithful to the reference's
semantics, including its lenient suffixed-branch street check (when the
fuzzy address carries a street suffix the reference compares only the
suffixes, FuzzyAddressMatcher.cs:66-76).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# FuzzyAddressMatcher.cs:7-23
STREET_SUFFIXES = [
    "iela", "bulvāris", "ceļš", "gatve", "šoseja", "tilts", "dambis",
    "aleja", "apvedceļš", "laukums", "prospekts", "pārvads", "līnija",
    "šķērslīnija", "krastmala",
]

_HOUSENUM_RE = r"(\d+[a-z]?)"
_UNIT_RE = r"\b\d+[a-z]?\s*-\s*(\d+)\b"


def _c(x) -> Column:
    return x if isinstance(x, Column) else F.col(x)


def _suffix_of(street: Column) -> Column:
    """First suffix the street name ends with, else null."""
    hits = F.filter(
        F.array(*[F.lit(s) for s in STREET_SUFFIXES]),
        lambda s: street.endswith(s),
    )
    return F.when(F.size(hits) > 0, hits[0])


def _contained_suffix(addr: Column) -> Column:
    hits = F.filter(
        F.array(*[F.lit(s) for s in STREET_SUFFIXES]),
        lambda s: addr.contains(s),
    )
    return F.when(F.size(hits) > 0, hits[0])


def fuzzy_address_match(tag_street, tag_housenumber, fuzzy_address, tag_unit=None) -> Column:
    """Boolean: does the freeform address match the addr:street /
    addr:housenumber (/addr:unit) tags."""
    addr = F.lower(F.trim(_c(fuzzy_address)))
    street = F.lower(_c(tag_street))
    housenum = F.lower(_c(tag_housenumber))

    tag_suffix = _suffix_of(street)
    street_base = F.trim(
        F.when(tag_suffix.isNotNull(), F.replace(street, tag_suffix, F.lit(""))).otherwise(street)
    )
    fuzzy_suffix = _contained_suffix(addr)
    street_ok = F.when(
        fuzzy_suffix.isNull(), addr.contains(street_base)
    ).otherwise(
        # reference compares only the suffixes in this branch
        F.coalesce(fuzzy_suffix == tag_suffix, F.lit(False))
    )

    nums = F.regexp_extract_all(addr, F.lit(_HOUSENUM_RE))
    num_ok = F.exists(nums, lambda n: n == housenum)

    ok = (
        (addr != "")
        & _c(tag_street).isNotNull()
        & _c(tag_housenumber).isNotNull()
        & street_ok
        & (F.size(nums) > 0)
        & num_ok
    )
    if tag_unit is not None:
        unit = F.regexp_extract(addr, _UNIT_RE, 1)
        unit_ok = F.when(
            _c(tag_unit).isNotNull() & (unit != ""),
            F.lower(unit) == F.lower(_c(tag_unit)),
        ).otherwise(F.lit(True))
        ok = ok & unit_ok
    return F.coalesce(ok, F.lit(False))

