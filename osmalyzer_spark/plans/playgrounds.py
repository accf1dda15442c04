"""PlaygroundAnalyzer (reference Analyzers/Validation/
PlaygroundAnalyzer.cs): playground equipment vs playground features.

Playgrounds are leisure=playground elements: nodes act as 30 m
proximity discs, closed ways / multipolygon relations as real polygons,
and non-node playgrounds whose polygon could not be built (open way,
broken relation — PlaygroundArea.MultiPolygon == null, :213-231) fall
back to centroid proximity and are themselves reported.

Equipment (any element with a `playground` key that is not itself
leisure=playground, :45-50) classifies as (:86-150):
- contained (no row): inside any playground polygon, or within 30 m of
  a node playground (FindContainingPlayground, :237-257);
- otherwise the nearest playground centroid within 100 m
  (FindNearestPlayground, :261-280) decides: none -> `orphan`; a node
  playground -> `outside_near_node` (its distance is necessarily
  > 30 m, or containment would have caught it); anything else ->
  `outside_near_area`.
- non-node playgrounds without a polygon -> one `broken_polygon` row
  each (:155-172).

Spark shape: polygon containment is the double_mapped_features
discipline (cell-bucket on ring centroid, grouped vectorized ray cast
per Arrow batch — assumes areas smaller than `cell_deg`, true for
playground-sized features); both proximity rules are cell-ring
`radius_join`s; the nearest pick is one row_number window. No
all-pairs stage anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from osmalyzer_spark.functions.tags import get_value
from osmalyzer_spark.geo.cells import cell_id_expr, neighbor_cells_expr
from osmalyzer_spark.geo.polygon import inside_ring_expr
from osmalyzer_spark.lineage import truncate

NODE_PROXIMITY_M = 30.0  # PlaygroundAnalyzer.cs:24
SEARCH_DISTANCE_M = 100.0  # PlaygroundAnalyzer.cs:29


def playground_check(
    elements: DataFrame,
    playgrounds: DataFrame,
    node_proximity_m: float = NODE_PROXIMITY_M,
    search_m: float = SEARCH_DISTANCE_M,
    cell_deg: float = 0.02,
) -> DataFrame:
    """Classify playground equipment against playground features.

    elements: (id, tags, lat, lon) — equipment = has `playground` key
    and not leisure=playground. playgrounds: (id, ptype node|way|
    relation, lat, lon, ring array<struct<lat,lon>> nullable) with
    lat/lon the element's average coord and ring its outer polygon
    when one could be built.

    Output: (eq_id, eq_type, kind, pg_id, dist_m) — kind in {orphan,
    outside_near_node, outside_near_area, broken_polygon}; dist_m
    (rounded to cm) only for the outside_* kinds, pg_id null for
    orphans, eq columns null for broken_polygon rows.
    """
    from osmalyzer_spark.operators.knn import radius_join

    leisure = get_value("tags", "leisure")
    eq = elements.filter(
        get_value("tags", "playground").isNotNull()
        & ((leisure != "playground") | leisure.isNull())
    ).select(
        F.col("id").alias("eq_id"),
        get_value("tags", "playground").alias("eq_type"),
        F.col("lat").alias("eq_lat"),
        F.col("lon").alias("eq_lon"),
    )

    # --- containment: inside any polygon ...
    areas = playgrounds.filter(F.col("ring").isNotNull()).select(
        F.col("id").alias("pg_id"), "ring"
    )
    a = areas.withColumn(
        "__clat",
        F.aggregate("ring", F.lit(0.0), lambda acc, p: acc + p["lat"])
        / F.size("ring"),
    ).withColumn(
        "__clon",
        F.aggregate("ring", F.lit(0.0), lambda acc, p: acc + p["lon"])
        / F.size("ring"),
    )
    a = truncate(a)  # broadcast-built join side
    a = a.withColumn(
        "__cell",
        F.explode(neighbor_cells_expr(cell_id_expr("__clat", "__clon", cell_deg))),
    )
    e_cells = eq.withColumn("__cell", cell_id_expr("eq_lat", "eq_lon", cell_deg))
    in_poly = (
        e_cells.join(a, "__cell")
        .withColumn("inside", inside_ring_expr("eq_lat", "eq_lon", "ring"))
        .filter(F.col("inside"))
        .select("eq_id")
    )

    # ... or within 30 m of a node playground
    node_pgs = playgrounds.filter(F.col("ptype") == "node").select(
        F.col("id").alias("pg_id"),
        F.col("lat").alias("pg_lat"),
        F.col("lon").alias("pg_lon"),
    )
    near_node = radius_join(
        eq.select("eq_id", "eq_lat", "eq_lon"),
        node_pgs,
        node_proximity_m,
        probe_coords=("eq_lat", "eq_lon"),
        build_coords=("pg_lat", "pg_lon"),
    ).select("eq_id")

    contained = in_poly.union(near_node).distinct()
    rest = eq.join(contained, "eq_id", "left_anti")

    # --- nearest playground centroid within the search distance
    all_pgs = playgrounds.select(
        F.col("id").alias("pg_id"),
        F.col("ptype").alias("pg_type"),
        F.col("lat").alias("pg_lat"),
        F.col("lon").alias("pg_lon"),
    )
    cand = radius_join(
        rest,
        all_pgs,
        search_m,
        probe_coords=("eq_lat", "eq_lon"),
        build_coords=("pg_lat", "pg_lon"),
    )
    w = Window.partitionBy("eq_id").orderBy(
        F.col("dist_m").asc(), F.col("pg_id").asc()
    )
    nearest = cand.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    )
    outside = nearest.select(
        "eq_id",
        "eq_type",
        F.when(F.col("pg_type") == "node", F.lit("outside_near_node"))
        .otherwise(F.lit("outside_near_area"))
        .alias("kind"),
        "pg_id",
        F.round("dist_m", 2).alias("dist_m"),
    )

    orphans = rest.join(nearest.select("eq_id"), "eq_id", "left_anti").select(
        "eq_id",
        "eq_type",
        F.lit("orphan").alias("kind"),
        F.lit(None).cast("long").alias("pg_id"),
        F.lit(None).cast("double").alias("dist_m"),
    )

    broken = playgrounds.filter(
        (F.col("ptype") != "node") & F.col("ring").isNull()
    ).select(
        F.lit(None).cast("long").alias("eq_id"),
        F.lit(None).cast("string").alias("eq_type"),
        F.lit("broken_polygon").alias("kind"),
        F.col("id").alias("pg_id"),
        F.lit(None).cast("double").alias("dist_m"),
    )

    return outside.unionByName(orphans).unionByName(broken)
