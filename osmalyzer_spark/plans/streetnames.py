"""StreetNameAnalyzer (reference Analyzers/Roads/StreetNameAnalyzer.cs):
classify every named road's name through the recognition cascade.

Cascade per distinct way name (:95-210, first hit wins):
1. known suffix — lowercased name ENDS WITH a suffix from the public
   `street name suffixes.tsv` list AND is strictly longer than it
   (:291-303; the file's order decides ties, and its duplicate entries
   mean the later copy can never match — both preserved here via the
   suffix index). Per-suffix stats rows (variant + segment counts) are
   emitted for EVERY suffix, zeros included (:215-227).
2. known name — exact member of the `known street names.tsv` list.
3. OSM road-route relation whose name matches under IsNameMatch
   (:346-384): exact equality is a clean (full) match; equality after
   CleanName (strip (...) groups, collapse double spaces once,
   normalize m/n-dashes and spaced dashes, trim) is a partial match.
   The reference takes the FIRST matching route in element order; this
   engine takes the lowest route id (deterministic equivalent).
4. road-law entry (Name/Code), same matcher, only when no OSM route
   matched (:324-336).
5. LVM — at least one way in the group carries
   operator="Latvijas valsts meži" (:387-391); all of them = full,
   some = partial with both counts.
6. Kuldiga road-name list, matched with the dash-only CleanName
   variant (:394-440; the reference's cleanMatch recheck there compares
   the way name against itself, so Yes/Partial collapse — both land in
   the same report group anyway, mirrored as one `kuldiga` kind).
7. unknown — reported for manual review.

The caller scopes `ways` (named + the 12 routable highway classes +
inside the boundary polygon — the fuzzy-loose relation containment is
the shared A10 operator).

Spark shape: one groupBy over way names (distinct names ≪ ways), then
a when-chain for the suffix index and broadcast joins against the tiny
route/law tables on the cleaned name. Output:
(kind, name, ref, n1, n2) — see each branch for the count semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osmalyzer_spark.functions.tags import get_value
from osmalyzer_spark.lineage import truncate

# data/street name suffixes.tsv, order and duplicates preserved
KNOWN_SUFFIXES = [
    "iela", "gatve", "bulvāris", "prospekts", "ceļš", "dambis", "tilts",
    "krastmala", "taka", "trase", "laukums", "aleja", "līnija", "šoseja",
    "aplis", "celiņš", "līnija", "šķērslīnija", "krastmala",
]
LVM_OPERATOR = "Latvijas valsts meži"  # StreetNameAnalyzer.cs:389
HIGHWAY_CLASSES = [
    "trunk", "primary", "secondary", "tertiary", "unclassified",
    "residential", "living_street", "service", "track", "trunk_link",
    "primary_link", "secondary_link",
]  # :28


def clean_name_osm(c: Column) -> Column:
    """CleanName of the route matcher (StreetNameAnalyzer.cs:362-382)."""
    c = F.regexp_replace(c, r"\([^\)]+\)", "")
    c = F.regexp_replace(c, "  ", " ")
    for a, b in (("—", "-"), ("–", "-"), (" - ", "-"), ("- ", "-"), (" -", "-")):
        c = F.regexp_replace(c, a, b)
    return F.trim(c)


def clean_name_kuldiga(c: Column) -> Column:
    """CleanName of the Kuldiga matcher (:425-437) — dash handling only."""
    for a, b in (("—", "-"), ("–", "-"), (" - ", "-"), ("- ", "-"), (" -", "-")):
        c = F.regexp_replace(c, a, b)
    return F.trim(c)


def _suffix_idx(name: Column) -> Column:
    low = F.lower(name)
    expr = F.lit(None).cast("int")
    # build the when-chain back-to-front so the FIRST list entry wins
    for i in range(len(KNOWN_SUFFIXES) - 1, -1, -1):
        s = KNOWN_SUFFIXES[i]
        cond = (F.length(name) > len(s)) & low.endswith(s)
        expr = F.when(cond, F.lit(i)).otherwise(expr)
    return expr


def street_name_check(
    spark,
    ways: DataFrame,
    routes: DataFrame,
    law_roads: DataFrame,
    known_names: list[str],
    kuldiga_names: list[str],
) -> DataFrame:
    """ways: (id, tags) pre-scoped; routes: (route_id, route_name,
    route_ref); law_roads: (law_code, law_name)."""
    name = get_value("tags", "name")
    w = ways.filter(
        name.isNotNull() & get_value("tags", "highway").isin(HIGHWAY_CLASSES)
    ).select(
        name.alias("name"),
        (get_value("tags", "operator") == LVM_OPERATOR).cast("int").alias("__lvm"),
    )
    groups = w.groupBy("name").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.coalesce(F.col("__lvm"), F.lit(0))).alias("n_lvm"),
    )
    # truncate, not cache: 7 cascade branches re-plan the grouped
    # name table (and the caller's way construction under it) on every
    # reference; a truncated LogicalRDD keeps each branch's plan short
    groups = truncate(groups.withColumn("__sfx", _suffix_idx(F.col("name"))))

    null_s = F.lit(None).cast("string")
    null_l = F.lit(None).cast("long")

    def rows(kind, name_c, ref_c, n1_c, n2_c):
        return [
            F.lit(kind).alias("kind"),
            name_c.alias("name"),
            ref_c.alias("ref"),
            n1_c.cast("long").alias("n1"),
            n2_c.cast("long").alias("n2"),
        ]

    # 1. per-suffix stats over ALL suffixes, zeros included
    sfx_df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(KNOWN_SUFFIXES)], "idx int, sfx string"
    )
    sfx_stats = (
        sfx_df.join(
            groups.filter(F.col("__sfx").isNotNull())
            .groupBy("__sfx")
            .agg(
                F.count(F.lit(1)).alias("variants"), F.sum("n").alias("total")
            ),
            sfx_df["idx"] == F.col("__sfx"),
            "left",
        )
        .select(
            *rows(
                "suffix",
                F.concat(F.col("idx").cast("string"), F.lit(":"), F.col("sfx")),
                null_s,
                F.coalesce(F.col("variants"), F.lit(0)),
                F.coalesce(F.col("total"), F.lit(0)),
            )
        )
    )

    rest = groups.filter(F.col("__sfx").isNull()).drop("__sfx")

    # 2. known names
    known = rest.filter(F.col("name").isin(known_names))
    known_rows = known.select(
        *rows("known_name", F.col("name"), null_s, F.col("n"), null_l)
    )
    rest = rest.filter(~F.col("name").isin(known_names))

    # 3. OSM routes on the cleaned name, lowest route id wins
    r = routes.select(
        "route_id",
        "route_name",
        "route_ref",
        clean_name_osm(F.col("route_name")).alias("__clean"),
    )
    cand = (
        rest.withColumn("__clean", clean_name_osm(F.col("name")))
        .join(F.broadcast(r), "__clean", "left")
    )
    best = truncate(  # matched branch + rest of cascade
        cand.groupBy("name", "n", "n_lvm", "__clean").agg(
            F.min(
                F.when(
                    F.col("route_id").isNotNull(),
                    F.struct("route_id", "route_name", "route_ref"),
                )
            ).alias("__r")
        )
    )
    osm_matched = best.filter(F.col("__r").isNotNull())
    osm_rows = osm_matched.select(
        F.when(F.col("__r.route_name") == F.col("name"), F.lit("route_full_osm"))
        .otherwise(F.lit("route_partial_osm"))
        .alias("kind"),
        F.col("name"),
        F.col("__r.route_ref").alias("ref"),
        F.col("n").cast("long").alias("n1"),
        null_l.alias("n2"),
    )
    rest = best.filter(F.col("__r").isNull()).drop("__r")

    # 4. law roads, only when no OSM route matched
    lw = law_roads.select(
        "law_code", "law_name", clean_name_osm(F.col("law_name")).alias("__clean")
    )
    lcand = rest.join(F.broadcast(lw), "__clean", "left")
    lbest = truncate(  # law branch + lvm/kuldiga/unknown tail
        lcand.groupBy("name", "n", "n_lvm", "__clean").agg(
            F.min(
                F.when(
                    F.col("law_code").isNotNull(), F.struct("law_code", "law_name")
                )
            ).alias("__r")
        )
    )
    law_matched = lbest.filter(F.col("__r").isNotNull())
    law_rows = law_matched.select(
        F.when(F.col("__r.law_name") == F.col("name"), F.lit("route_full_law"))
        .otherwise(F.lit("route_partial_law"))
        .alias("kind"),
        F.col("name"),
        F.col("__r.law_code").alias("ref"),
        F.col("n").cast("long").alias("n1"),
        null_l.alias("n2"),
    )
    rest = lbest.filter(F.col("__r").isNull()).drop("__r", "__clean")

    # 5. LVM-operated groups
    lvm = rest.filter(F.col("n_lvm") >= 1)
    lvm_rows = lvm.select(
        F.when(F.col("n_lvm") == F.col("n"), F.lit("lvm_full"))
        .otherwise(F.lit("lvm_partial"))
        .alias("kind"),
        F.col("name"),
        null_s.alias("ref"),
        F.col("n_lvm").cast("long").alias("n1"),
        F.when(F.col("n_lvm") < F.col("n"), F.col("n")).cast("long").alias("n2"),
    )
    rest = rest.filter(F.col("n_lvm") < 1)

    # 6. Kuldiga list (dash-only cleaning on BOTH sides)
    def _py_clean_kuldiga(s: str) -> str:
        for a, b in (("—", "-"), ("–", "-"), (" - ", "-"), ("- ", "-"), (" -", "-")):
            s = s.replace(a, b)
        return s.strip()

    kuldiga_clean = [_py_clean_kuldiga(s) for s in kuldiga_names]
    kcol = clean_name_kuldiga(F.col("name"))
    kuldiga_rows = rest.filter(kcol.isin(kuldiga_clean)).select(
        F.lit("kuldiga").alias("kind"),
        F.col("name"),
        null_s.alias("ref"),
        F.col("n").cast("long").alias("n1"),
        null_l.alias("n2"),
    )

    # 7. unknown
    unknown_rows = rest.filter(~kcol.isin(kuldiga_clean)).select(
        F.lit("unknown").alias("kind"),
        F.col("name"),
        null_s.alias("ref"),
        F.col("n").cast("long").alias("n1"),
        null_l.alias("n2"),
    )

    return (
        sfx_stats.unionByName(known_rows)
        .unionByName(osm_rows)
        .unionByName(law_rows)
        .unionByName(lvm_rows)
        .unionByName(kuldiga_rows)
        .unionByName(unknown_rows)
    )
