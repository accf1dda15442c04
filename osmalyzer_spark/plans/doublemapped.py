"""DoubleMappedFeaturesAnalyzer (reference Analyzers/Validation/
DoubleMappedFeaturesAnalyzer.cs): POI nodes mapped on top of a
same-class area feature.

Semantics preserved from the reference:
- area features classify by OsmKnowledge.GetAreaFeature
  (OsmKnowledge.cs:276-348): amenity {parking fuel kindergarten school
  college university} first, then leisure (fitness_station only when
  the element is not a node carrying a `fitness_station` key — a
  station vs a single equipment piece — plus {pitch park playground
  marina}), then the 31-value place list. First matching key wins.
- candidate areas are closed ways with any key that classify
  (DoubleMappedFeaturesAnalyzer.cs:25-30); IncludeArea (:110-122)
  drops areas over 0.3 km2 (OsmGeoTools.GetAreaSize, the
  lat-weighted segment-sum formula at OsmGeoTools.cs:93-111, R =
  6378137 — NOTE the formula sums lon deltas in DEGREES, inflating
  true area by 180/pi; reproduced as-is because the reference's 0.3
  cap compares against this value) and place=isolated_dwelling areas.
- a node pairs with an area when it is within 1 km cheap distance of
  the area's average coord (DistanceBetweenCheap, sqrt(dlat^2 +
  dlon^2) * 111139, :32-39), classifies to the SAME (key, value)
  (AreSameAreaFeatures, :351-360), and the area ring contains it
  (:66-74). One output row per area with all its nodes (:76-79).

Spark shape: classification and area size are pure native expressions
(no UDF); the candidate join is cell-bucketed on the area average
coord (areas are capped at 0.3 km2, far under the cell size); the
exact ray cast is the shared native ray-cast expression
(geo/polygon.inside_ring_expr — no Python boundary). Output:
(area_id, feature_key, feature_value, area_km2 rounded to 3 like the
reference's F3 display, n_nodes, node_ids numerically-sorted
comma-joined).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmalyzer_spark.functions.tags import get_value, has_key
from osmalyzer_spark.geo.cells import cell_id_expr, neighbor_cells_expr
from osmalyzer_spark.geo.polygon import inside_ring_expr
from osmalyzer_spark.lineage import truncate

AREA_AMENITIES = ["parking", "fuel", "kindergarten", "school", "college", "university"]
AREA_LEISURE = ["pitch", "park", "playground", "marina"]
AREA_PLACES = [
    "isolated_dwelling", "country", "state", "region", "province",
    "district", "county", "subdistrict", "municipality", "city",
    "borough", "suburb", "quarter", "neighbourhood", "city_block",
    "plot", "town", "village", "hamlet", "farm", "allotments",
    "continent", "archipelago", "island", "islet", "square",
    "locality", "polder", "sea", "ocean",
]
MAX_AREA_KM2 = 0.3  # DoubleMappedFeaturesAnalyzer.cs:113
NEAR_M = 1000.0  # :63
CHEAP_M_PER_DEG = 111139.0  # OsmGeoTools.cs:38


def area_feature_exprs(tags: str, is_node: F.Column) -> tuple[F.Column, F.Column]:
    """(key, value) columns of OsmKnowledge.GetAreaFeature, null when the
    element is not an area feature."""
    amenity = get_value(tags, "amenity")
    leisure = get_value(tags, "leisure")
    place = get_value(tags, "place")
    amen_ok = amenity.isin(AREA_AMENITIES)
    fs_ok = (leisure == "fitness_station") & (
        ~has_key(tags, "fitness_station") | ~is_node
    )
    leis_ok = F.coalesce(fs_ok, F.lit(False)) | leisure.isin(AREA_LEISURE)
    place_ok = place.isin(AREA_PLACES)
    key = (
        F.when(amen_ok, F.lit("amenity"))
        .when(leis_ok, F.lit("leisure"))
        .when(place_ok, F.lit("place"))
    )
    value = (
        F.when(amen_ok, amenity).when(leis_ok, leisure).when(place_ok, place)
    )
    return key, value


def area_size_km2(ring: str) -> F.Column:
    """OsmGeoTools.GetAreaSize over a stored ring (closing vertex
    included, like OsmWay.Nodes): lat-weighted lon-delta segment sum."""
    n = F.size(ring)
    rad = 3.141592653589793 / 180.0
    seg = F.aggregate(
        F.sequence(F.lit(1), n - 1),
        F.lit(0.0),
        lambda acc, i: acc
        + (F.element_at(F.col(ring), i + 1)["lon"] - F.element_at(F.col(ring), i)["lon"])
        * (
            F.lit(2.0)
            + F.sin(F.element_at(F.col(ring), i)["lat"] * rad)
            + F.sin(F.element_at(F.col(ring), i + 1)["lat"] * rad)
        ),
    )
    return F.when(
        n >= 3, F.abs(seg * 6378137.0 * 6378137.0 / 2.0 / 1000000.0)
    ).otherwise(F.lit(0.0))


def double_mapped_check(
    ways: DataFrame, nodes: DataFrame, cell_deg: float = 0.02
) -> DataFrame:
    """Nodes-over-areas report.

    ways: (id, tags, ring array<struct<lat,lon>>) — closed ways only,
    ring stored with the closing vertex (OSM convention). nodes:
    (id, tags, lat, lon). Both sides must have at least one tag
    (HasAnyKey is the caller's scan filter in the reference; elements
    without tags classify to null here anyway).
    """
    wkey, wval = area_feature_exprs("tags", F.lit(False))
    # truncate: the candidate join broadcasts this (exploded) side —
    # building the broadcast from materialized blocks instead of
    # re-evaluating the classify/area/centroid pipeline measured
    # 4.4 -> 0.8 s at sf0.1 (guide §3.1 broadcast-build cost)
    areas = truncate(
        ways.withColumn("__fkey", wkey)
        .withColumn("__fval", wval)
        .filter(F.col("__fkey").isNotNull())
        .withColumn("__km2", area_size_km2("ring"))
        .filter(F.col("__km2") <= MAX_AREA_KM2)
        .filter(
            ~((F.col("__fkey") == "place") & (F.col("__fval") == "isolated_dwelling"))
        )
        .select(
            F.col("id").alias("area_id"),
            F.col("__fkey").alias("feature_key"),
            F.col("__fval").alias("feature_value"),
            F.round("__km2", 3).alias("area_km2"),
            "ring",
            (
                F.aggregate("ring", F.lit(0.0), lambda acc, p: acc + p["lat"])
                / F.size("ring")
            ).alias("__alat"),
            (
                F.aggregate("ring", F.lit(0.0), lambda acc, p: acc + p["lon"])
                / F.size("ring")
            ).alias("__alon"),
        )
    )
    nkey, nval = area_feature_exprs("tags", F.lit(True))
    pois = (
        nodes.withColumn("__fkey", nkey)
        .withColumn("__fval", nval)
        .filter(F.col("__fkey").isNotNull())
        .select(
            F.col("id").alias("node_id"),
            F.col("__fkey").alias("nkey"),
            F.col("__fval").alias("nval"),
            "lat",
            "lon",
        )
    )

    a = areas.withColumn(
        "__cell",
        F.explode(neighbor_cells_expr(cell_id_expr("__alat", "__alon", cell_deg))),
    )
    p = pois.withColumn("__cell", cell_id_expr("lat", "lon", cell_deg))
    cheap = (
        F.sqrt(
            (F.col("lat") - F.col("__alat")) * (F.col("lat") - F.col("__alat"))
            + (F.col("lon") - F.col("__alon")) * (F.col("lon") - F.col("__alon"))
        )
        * CHEAP_M_PER_DEG
    )
    pairs = (
        p.join(a, "__cell")
        .filter((F.col("nkey") == F.col("feature_key")) & (F.col("nval") == F.col("feature_value")))
        .filter(cheap <= NEAR_M)
        .withColumn("inside", inside_ring_expr("lat", "lon", "ring"))
        .filter(F.col("inside"))
        .select("area_id", "feature_key", "feature_value", "area_km2", "node_id")
    )
    # collect_set == dropDuplicates(area, node) + collect_list here (the
    # other grouping columns are constant per area), folding the dedup
    # shuffle into the one aggregation (guide §2.4)
    return pairs.groupBy("area_id", "feature_key", "feature_value", "area_km2").agg(
        F.size(F.collect_set("node_id")).alias("n_nodes"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_set("node_id")), lambda x: x.cast("string")
            ),
            ",",
        ).alias("node_ids"),
    )
