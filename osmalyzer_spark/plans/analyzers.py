"""Reference analyzers re-expressed as correlator configurations.

Each analyzer is a thin config: a tag filter over the element table, a
vectorized strength expression, and CorrelatorParams with the reference's
exact distances. Pattern and parameters per analyzer:

- shops (ShopAnalyzer.cs:77-99): filter shop in {yes, supermarket,
  grocery, convenience} + brand substring on name/operator/brand;
  distances 100/300, Strong extra 700; exact fuzzy-address match => Strong
  else Good.
- street-name grouping (StreetNameAnalyzer.cs): GroupByValues over
  addr:street (A1/A2 pattern).

All run on any DataFrame with the osm_elements/data_items view shape
(datagen.views provides synthetic ones; a real deployment points them at
the Iceberg tables).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osmalyzer_spark.functions.address import fuzzy_address_match
from osmalyzer_spark.functions.strings import brand_name_match
from osmalyzer_spark.functions.tags import get_value, has_any_value, has_key
from osmalyzer_spark.lineage import truncate
from osmalyzer_spark.operators.correlator import (
    GOOD,
    STRONG,
    CorrelationResult,
    CorrelatorParams,
    correlate,
)

SHOP_VALUES = ["yes", "supermarket", "grocery", "convenience"]


def _slim_elements(elements: DataFrame, keep_tags: list[str]) -> DataFrame:
    """Project the payload-free columns the correlator needs, materializing
    the tag values the strength expression will read (so the candidate
    join shuffles strings, not the whole map)."""
    cols = [F.col("elem_id"), F.col("elem_lat"), F.col("elem_lon")]
    for t in keep_tags:
        cols.append(get_value("tags", t).alias(f"elem_{t.replace(':', '_')}"))
    return elements.select(*cols)


def shop_analyzer(
    spark: SparkSession,
    elements: DataFrame,
    items: DataFrame,
    brand_variants: list[str],
) -> CorrelationResult:
    """Brand shop correlation (ShopAnalyzer.cs:31-110)."""
    shops = elements.filter(has_any_value("tags", "shop", SHOP_VALUES))
    brand_hit = (
        brand_name_match(get_value("tags", "name"), brand_variants)
        | brand_name_match(get_value("tags", "operator"), brand_variants)
        | brand_name_match(get_value("tags", "brand"), brand_variants)
    )
    shops = shops.filter(brand_hit)
    slim = _slim_elements(shops, ["addr:street", "addr:housenumber"])
    params = CorrelatorParams(
        match_distance=100.0,
        unmatch_distance=300.0,
        strong_extra_distance=700.0,
        strength_expr=lambda df: F.when(
            fuzzy_address_match(
                F.col("elem_addr_street"),
                F.col("elem_addr_housenumber"),
                F.col("item_address"),
            ),
            F.lit(STRONG),
        ).otherwise(F.lit(GOOD)),
    )
    return correlate(spark, slim, items, params)


def mail_box_analyzer(
    spark: SparkSession,
    elements: DataFrame,
    items: DataFrame,
) -> CorrelationResult:
    """Latvijas Pasts mail boxes (LatviaPostMailBoxAnalyzer.cs:22-74, the
    'post boxes' analyzer the north star names): OSM candidates are
    amenity=post_box; a listed box whose freeform address fuzzy-matches
    the element's addr tags is Strong, otherwise Good (every in-range
    pair scores — the company listing has positional errors, so address
    agreement upgrades but proximity alone still matches).

    items: (item_id, item_lat, item_lon, item_address nullable).
    Parameters mirror the reference: match 100 m / far 200 m /
    Strong extra 500 m.
    """
    boxes = elements.filter(has_any_value("tags", "amenity", ["post_box"]))
    slim = _slim_elements(boxes, ["addr:street", "addr:housenumber", "name"])

    def strength(df: DataFrame):
        addr_match = fuzzy_address_match(
            F.col("elem_addr_street"),
            F.col("elem_addr_housenumber"),
            F.col("item_address"),
        )
        return F.when(
            F.col("item_address").isNotNull()
            & F.coalesce(addr_match, F.lit(False)),
            F.lit(STRONG),
        ).otherwise(F.lit(GOOD))

    params = CorrelatorParams(
        match_distance=100.0,
        unmatch_distance=200.0,
        strong_extra_distance=500.0,
        strength_expr=strength,
    )
    return correlate(spark, slim, items, params)


def bank_location_analyzer(
    spark: SparkSession,
    elements: DataFrame,
    atm_items: DataFrame,
    branch_items: DataFrame,
    bank_name: str,
    polygon=None,
) -> tuple[CorrelationResult, CorrelationResult]:
    """Bank POI correlation (Analyzers/Banks/BankLocationAnalyzer.cs:19-110):
    elements with amenity in {atm, bank} whose FIRST non-null of
    operator/brand/name contains the bank name (case-insensitive —
    exactly the reference's ??-coalesce then Contains); ATMs and branches
    correlate separately at 100/300 m with Strong extra 700; a fuzzy
    address match upgrades to Strong, else Good. Optional boundary
    polygon prefilter without outside reporting (reference passes
    false)."""
    first_name = F.coalesce(
        get_value("tags", "operator"),
        get_value("tags", "brand"),
        get_value("tags", "name"),
    )
    related = elements.filter(
        has_any_value("tags", "amenity", ["atm", "bank"])
        & F.lower(first_name).contains(bank_name.lower())
    )

    def run(amenity: str, items: DataFrame) -> CorrelationResult:
        pts = related.filter(has_any_value("tags", "amenity", [amenity]))
        slim = _slim_elements(pts, ["addr:street", "addr:housenumber"])
        params = CorrelatorParams(
            match_distance=100.0,
            unmatch_distance=300.0,
            strong_extra_distance=700.0,
            strength_expr=lambda df: F.when(
                fuzzy_address_match(
                    F.col("elem_addr_street"),
                    F.col("elem_addr_housenumber"),
                    F.col("item_address"),
                ),
                F.lit(STRONG),
            ).otherwise(F.lit(GOOD)),
            polygon=polygon,
            report_outside_polygon=False,
        )
        return correlate(spark, slim, items, params)

    return run("atm", atm_items), run("bank", branch_items)


def micro_reserve_analyzer(
    spark: SparkSession,
    elements: DataFrame,
    reserve_shapefile: str | list[str],
    search_distance_m: float = 300.0,
) -> DataFrame:
    """Micro-reserves report (MicroReservesAnalyzer.cs:15-126) over a
    shapefile-sourced reserve table — the S7 source wired into a real
    analyzer: read_shapefile parses the government GIS_OZOLS export
    (.shp polygons -> WGS84 centroids + planar areas, .dbf attributes;
    MicroReserveAnalysisData.cs:72-146), OSM candidates are ways tagged
    leisure=nature_reserve or ways/relations tagged
    boundary=protected_area, and each reserve takes its closest OSM
    element within search_distance (GetClosestElementTo; ties by elem_id
    — the reference breaks by iteration order).

    elements: (elem_id, elem_lat, elem_lon, tags map [, kind]).
    Returns one row per reserve — (kind: matched|unmatched_reserve,
    reserve_fid, area_m2, osm_id, distance_m) — plus one
    multi_match row per OSM element claimed by more than one reserve
    (n stored in reserve_fid's place as NULL, count in n_reserves).
    """
    from osmalyzer_spark.functions.tags import has_value
    from osmalyzer_spark.operators.knn import radius_join
    from osmalyzer_spark.sources.shapefile import read_shapefile

    reserves = read_shapefile(spark, reserve_shapefile).select(
        F.col("fid").alias("item_id"),
        F.col("cy").alias("item_lat"),
        F.col("cx").alias("item_lon"),
        F.col("area").alias("area_m2"),
    )
    is_way = (
        F.col("kind") == "way" if "kind" in elements.columns else F.lit(True)
    )
    is_way_or_rel = (
        F.col("kind").isin("way", "relation")
        if "kind" in elements.columns
        else F.lit(True)
    )
    osm = elements.filter(
        (has_value("tags", "leisure", "nature_reserve") & is_way)
        | (has_value("tags", "boundary", "protected_area") & is_way_or_rel)
    ).select("elem_id", "elem_lat", "elem_lon")

    cand = radius_join(
        reserves,
        osm,
        search_distance_m,
        probe_coords=("item_lat", "item_lon"),
        build_coords=("elem_lat", "elem_lon"),
        dist_col="dist_m",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("item_id").orderBy("dist_m", "elem_id")
    best = truncate(
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("item_id", "area_m2", "elem_id", "dist_m")
    )
    matched = best.select(
        F.lit("matched").alias("kind"),
        F.col("item_id").alias("reserve_fid"),
        "area_m2",
        F.col("elem_id").alias("osm_id"),
        F.round("dist_m", 2).alias("distance_m"),
        F.lit(1).cast("long").alias("n_reserves"),
    )
    unmatched = reserves.join(best.select("item_id"), "item_id", "left_anti").select(
        F.lit("unmatched_reserve").alias("kind"),
        F.col("item_id").alias("reserve_fid"),
        "area_m2",
        F.lit(None).cast("long").alias("osm_id"),
        F.lit(None).cast("double").alias("distance_m"),
        F.lit(1).cast("long").alias("n_reserves"),
    )
    multi = (
        best.groupBy("elem_id")
        .agg(F.count(F.lit(1)).alias("n_reserves"))
        .filter(F.col("n_reserves") > 1)
        .select(
            F.lit("multi_match").alias("kind"),
            F.lit(None).cast("long").alias("reserve_fid"),
            F.lit(None).cast("double").alias("area_m2"),
            F.col("elem_id").alias("osm_id"),
            F.lit(None).cast("double").alias("distance_m"),
            "n_reserves",
        )
    )
    return matched.unionByName(unmatched).unionByName(multi)


def addressables_from_elements(elements: DataFrame) -> DataFrame:
    """OSM elements -> the finder's addressables table
    (FuzzyAddressFinder.cs:227-330: filter HasKey('ref:LV:addr'), project
    the addr:*/old_addr:* tag values)."""
    tag_map = {
        "house_name": "addr:housename",
        "street": "addr:street",
        "number": "addr:housenumber",
        "unit": "addr:unit",
        "city": "addr:city",
        "parish": "addr:subdistrict",
        "municipality": "addr:district",
        "postcode": "addr:postcode",
        "old_house_name": "old_addr:housename",
        "old_street": "old_addr:street",
        "old_number": "old_addr:housenumber",
        "old_unit": "old_addr:unit",
    }
    return elements.filter(has_key("tags", "ref:LV:addr")).select(
        F.col("elem_id"),
        F.col("elem_lat").alias("lat"),
        F.col("elem_lon").alias("lon"),
        *[get_value("tags", t).alias(name) for name, t in tag_map.items()],
    )


def address_geocode_analyzer(
    spark: SparkSession,
    elements: DataFrame,
    items: DataFrame,
    id_col: str = "item_id",
    addr_col: str = "item_address",
) -> DataFrame:
    """The reference's address-bearing analyzer flow (banks, parcel
    lockers, shop validation): freeform item addresses are parsed by the
    fuzzy lattice and geocoded against the OSM addressables — items that
    geocode get a coordinate (+ match score); the rest are reported
    ungeocodable. Output: (item_id, kind, lat, lon, score)."""
    from osmalyzer_spark.functions.fuzzy_address import fuzzy_geocode, parse_addresses

    addressables = addressables_from_elements(elements)
    parsed = parse_addresses(items, id_col, addr_col)
    hits = fuzzy_geocode(parsed, addressables).select(
        F.col("addr_id").alias(id_col),
        F.lit("geocoded").alias("kind"),
        "lat",
        "lon",
        F.col("score").cast("int").alias("score"),
    )
    misses = items.join(hits.select(id_col), id_col, "left_anti").select(
        F.col(id_col),
        F.lit("ungeocodable").alias("kind"),
        F.lit(None).cast("double").alias("lat"),
        F.lit(None).cast("double").alias("lon"),
        F.lit(None).cast("int").alias("score"),
    )
    return hits.unionByName(misses)


def street_name_groups(elements: DataFrame) -> DataFrame:
    """StreetNameAnalyzer's grouping (A1): elements grouped by addr:street
    value with counts and member ids, ordered by size."""
    street = get_value("tags", "addr:street")
    return (
        elements.filter(street.isNotNull())
        .groupBy(street.alias("street"))
        .agg(
            F.count(F.lit(1)).alias("n_elements"),
            F.sort_array(F.collect_list("elem_id")).alias("members"),
        )
        .orderBy(F.col("n_elements").desc(), F.col("street"))
    )


def validator_pass(
    matched_with_tags: DataFrame,
    expected: dict[str, str],
) -> DataFrame:
    """Validator (Osmalyzer/Validator/Validator.cs:17-140) as a projection:
    for each matched pair, check expected tag values; emit issue rows
    (rule, elem_id, item_id, found, expected) for mismatches."""
    # one pass over the matched pairs: each row emits its failing rules
    # as an exploded array instead of one filtered scan per rule
    checks = F.array(
        *[
            F.when(
                F.coalesce(get_value("tags", key) != want, F.lit(True)),
                F.struct(
                    F.lit(f"tag:{key}").alias("rule"),
                    get_value("tags", key).alias("found"),
                    F.lit(want).alias("expected"),
                ),
            )
            for key, want in expected.items()
        ]
    )
    return (
        matched_with_tags.select(
            "elem_id",
            "item_id",
            F.explode(F.filter(checks, lambda s: s.isNotNull())).alias("i"),
        )
        .select("i.rule", "elem_id", "item_id", "i.found", "i.expected")
    )


def spawner_pass(unmatched_items: DataFrame, base_tags: dict[str, str]) -> DataFrame:
    """Spawner (Osmalyzer/Spawner/Spawner.cs:17-60): suggested create-node
    rows for unmatched items."""
    tags = F.map_from_arrays(
        F.array(*[F.lit(k) for k in base_tags]),
        F.array(*[F.lit(v) for v in base_tags.values()]),
    )
    return unmatched_items.select(
        F.lit("create_node").alias("action"),
        "item_id",
        F.col("item_lat").alias("lat"),
        F.col("item_lon").alias("lon"),
        tags.alias("suggested_tags"),
    )


def _trolley_route_ways(routes: DataFrame, ways: DataFrame) -> DataFrame:
    """Way members of trolleybus route relations with their trolley_wire
    tag triplet attached.

    Mirrors the member walk of TrolleybusWireAnalyzer.Run
    (Osmalyzer/Analyzers/Public Transport/TrolleybusWireAnalyzer.cs:38-60):
    skip unresolved members (`member.Element == null`), non-way members,
    and role='platform' members; one row per remaining member OCCURRENCE
    (a way on two routes — or listed twice in one relation — is checked
    each time, as the reference's per-member loop does)."""
    from osmalyzer_spark.operators.osm import resolve_relation_members

    members = resolve_relation_members(
        routes.select("id", "members"),
        ways.select(F.lit("way").alias("type"), "id"),
    ).filter(
        (F.col("member_type") == "way")
        & (F.col("role") != "platform")
        & F.col("resolved")
    )
    names = routes.select(
        F.col("id").alias("relation_id"),
        get_value("tags", "name").alias("route_name"),
    )
    wire_tags = ways.select(
        F.col("id").alias("member_ref"),
        get_value("tags", "trolley_wire").alias("tw"),
        get_value("tags", "trolley_wire:forward").alias("twf"),
        get_value("tags", "trolley_wire:backward").alias("twb"),
    )
    return members.join(wire_tags, "member_ref").join(names, "relation_id")


def trolleybus_wire_check(routes: DataFrame, ways: DataFrame) -> DataFrame:
    """Trolleybus wire validator: per-way trolley_wire tagging issues.

    Classification is the reference's exclusive if-chain
    (TrolleybusWireAnalyzer.cs:74-140): main value conflicting with any
    directional subvalue > unknown main value > unknown directional
    value(s) — forward and backward can BOTH fire on one way > missing
    entirely. Ways with trolley_wire in {yes, no} (or valid directional
    values) produce no row. Output: (relation_id, route_name, way_id,
    issue), one row per issue per member occurrence."""
    t = _trolley_route_ways(routes, ways)
    main = F.col("tw").isNotNull()
    sub = F.col("twf").isNotNull() | F.col("twb").isNotNull()
    valid = lambda c: c.isin("yes", "no")  # noqa: E731
    issues = F.array(
        F.when(main & sub, F.lit("conflicting_subvalues")),
        F.when(main & ~sub & ~valid(F.col("tw")), F.lit("unknown_value")),
        F.when(
            ~main & F.col("twf").isNotNull() & ~valid(F.col("twf")),
            F.lit("unknown_forward_value"),
        ),
        F.when(
            ~main & F.col("twb").isNotNull() & ~valid(F.col("twb")),
            F.lit("unknown_backward_value"),
        ),
        F.when(~main & ~sub, F.lit("missing")),
    )
    return t.select(
        "relation_id",
        "route_name",
        F.col("member_ref").alias("way_id"),
        F.explode(F.filter(issues, lambda x: x.isNotNull())).alias("issue"),
    )


def trolleybus_wire_stats(routes: DataFrame, ways: DataFrame) -> DataFrame:
    """The reference's Stats group (TrolleybusWireAnalyzer.cs:157-180):
    distinct routed ways, and how many carry trolley_wire=yes / =no."""
    t = _trolley_route_ways(routes, ways)
    return t.agg(
        F.countDistinct("member_ref").alias("n_routed_ways"),
        F.countDistinct(F.when(F.col("tw") == "yes", F.col("member_ref"))).alias(
            "n_wire_yes"
        ),
        F.countDistinct(F.when(F.col("tw") == "no", F.col("member_ref"))).alias(
            "n_wire_no"
        ),
    )
