"""OSM element-graph operators: way/relation resolution and validation
joins over the (id, type, tags, node_ids, members) element table.

Distributed re-expression of the reference's pointer-linking pass
(Core/OsmData.cs:162-230) and the validation analyzers built on it:

- resolve_way_geometries (J1): explode node_ids ⋈ nodes, re-assemble the
  ordered coordinate array per way, centroid materialized
  (OsmWay.cs:26 caching -> a column).
- node_backlinks (J1/J11): node -> list of referencing ways; junctions =
  backlink rows with >1 way (SharpAngleRoadAnalyzer.cs:54-77).
- resolve_relation_members / unresolved_relations (F11): member refs
  anti-joined against element ids
  (Core/Filters/RelationMustHaveAllMembersDownloaded.cs).
- double_mapped_features (J12): tagged node PIP-inside a same-class
  closed-way area (DoubleMappedFeaturesAnalyzer.cs:24-60) via the cell
  join + vectorized ray cast.
- fuzzy_relation_containment (A10): fraction of member nodes inside a
  polygon vs the 0.3 loose / 0.8 strict thresholds (OsmPolygon.cs:62-94).
- sharp_angles (W3): interior angle at interior way nodes <= threshold
  (SharpAngleRoadAnalyzer.cs:14-16,120+), lag/lead over node position.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from osmalyzer_spark.geo.cells import cell_id_expr
from osmalyzer_spark.geo.distance import angle_between_segments_deg
from osmalyzer_spark.geo.polygon import LOOSE_CONTAINMENT, STRICT_CONTAINMENT, Polygon, contains_expr
from osmalyzer_spark.lineage import truncate


def resolve_way_geometries(ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """ways(id, node_ids) ⋈ nodes(id, lat, lon) -> per-way ordered geometry
    array + centroid. One shuffle on node id, one on way id."""
    exploded = ways.select(
        F.col("id").alias("way_id"), F.posexplode("node_ids").alias("pos", "node_id")
    )
    joined = exploded.join(
        nodes.select(F.col("id").alias("node_id"), "lat", "lon"), "node_id", "left"
    )
    geom = (
        joined.groupBy("way_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "lat", "lon", "node_id"))),
                lambda s: F.struct(
                    s["node_id"].alias("node_id"), s["lat"].alias("lat"), s["lon"].alias("lon")
                ),
            ).alias("geometry"),
            F.count(F.lit(1)).alias("n_refs"),
            F.count("lat").alias("n_resolved"),
        )
        .withColumn("fully_resolved", F.col("n_refs") == F.col("n_resolved"))
        .withColumn(
            "centroid_lat",
            F.aggregate("geometry", F.lit(0.0), lambda a, p: a + F.coalesce(p["lat"], F.lit(0.0)))
            / F.col("n_resolved"),
        )
        .withColumn(
            "centroid_lon",
            F.aggregate("geometry", F.lit(0.0), lambda a, p: a + F.coalesce(p["lon"], F.lit(0.0)))
            / F.col("n_resolved"),
        )
    )
    return geom


def node_backlinks(ways: DataFrame) -> DataFrame:
    """node_id -> sorted list of ways referencing it (backlink table,
    computed on demand instead of the reference's materialized pointers)."""
    return (
        ways.select(F.col("id").alias("way_id"), F.explode("node_ids").alias("node_id"))
        .groupBy("node_id")
        .agg(F.sort_array(F.collect_set("way_id")).alias("way_ids"))
    )


def junctions(ways: DataFrame) -> DataFrame:
    """Nodes shared by >1 way (J11)."""
    return node_backlinks(ways).filter(F.size("way_ids") > 1)


def resolve_relation_members(relations: DataFrame, elements: DataFrame) -> DataFrame:
    """Explode relation members, mark which resolve against the element
    table. members: array<struct<type string, ref long, role string>>."""
    m = relations.select(
        F.col("id").alias("relation_id"), F.posexplode("members").alias("pos", "m")
    ).select(
        "relation_id", "pos",
        F.col("m.type").alias("member_type"),
        F.col("m.ref").alias("member_ref"),
        F.col("m.role").alias("role"),
    )
    e = elements.select(
        F.col("type").alias("member_type"), F.col("id").alias("member_ref"), F.lit(True).alias("resolved")
    ).distinct()
    return m.join(e, ["member_type", "member_ref"], "left").withColumn(
        "resolved", F.coalesce("resolved", F.lit(False))
    )


def unresolved_relations(relations: DataFrame, elements: DataFrame) -> DataFrame:
    """Relations with any unresolved member (F11 complement: filter these
    OUT to get RelationMustHaveAllMembersDownloaded)."""
    resolved = resolve_relation_members(relations, elements)
    return (
        resolved.groupBy("relation_id")
        .agg(F.sum(F.when(~F.col("resolved"), 1).otherwise(0)).alias("n_unresolved"))
        .filter(F.col("n_unresolved") > 0)
    )


def double_mapped_features(
    tagged_nodes: DataFrame,
    areas: DataFrame,
    class_col: str = "feature_class",
    cell_deg: float = 0.02,
) -> DataFrame:
    """J12: a tagged node lying inside a closed-way area of the same
    feature class. tagged_nodes: (node_id, lat, lon, feature_class);
    areas: (area_id, area_class, ring array<struct<lat,lon>>). Cell-bucket
    prefilter on the area centroid, exact ray cast per candidate pair."""
    n = tagged_nodes.withColumn("__cell", cell_id_expr("lat", "lon", cell_deg))
    a = areas.withColumn(
        "__clat",
        F.aggregate("ring", F.lit(0.0), lambda acc, p: acc + p["lat"]) / F.size("ring"),
    ).withColumn(
        "__clon",
        F.aggregate("ring", F.lit(0.0), lambda acc, p: acc + p["lon"]) / F.size("ring"),
    )
    from osmalyzer_spark.geo.cells import neighbor_cells_expr

    a = truncate(a)  # broadcast-built join side
    a = a.withColumn(
        "__cell", F.explode(neighbor_cells_expr(cell_id_expr("__clat", "__clon", cell_deg)))
    )
    pairs = n.join(a, ["__cell"]).filter(F.col(class_col) == F.col("area_class"))

    from osmalyzer_spark.geo.polygon import inside_ring_expr

    return (
        pairs.withColumn("inside", inside_ring_expr("lat", "lon", "ring"))
        .filter(F.col("inside"))
        .select("node_id", "area_id", class_col)
        .dropDuplicates(["node_id", "area_id"])
    )


def fuzzy_relation_containment(member_nodes: DataFrame, polygon: Polygon) -> DataFrame:
    """A10: per relation, the fraction of member nodes inside `polygon`
    and the loose (>0.3) / strict (>0.8) verdicts.
    member_nodes: (relation_id, lat, lon)."""
    flagged = member_nodes.withColumn(
        "inside", contains_expr(polygon, "lat", "lon").cast("int")
    )
    return (
        flagged.groupBy("relation_id")
        .agg(F.avg("inside").alias("containment"))
        .withColumn("loose_inside", F.col("containment") > LOOSE_CONTAINMENT)
        .withColumn("strict_inside", F.col("containment") > STRICT_CONTAINMENT)
    )


def sharp_angles(way_geometries: DataFrame, max_angle_deg: float = 30.0) -> DataFrame:
    """W3: interior angles at each way's interior nodes; rows whose angle
    is <= max_angle_deg (SharpAngleRoadAnalyzer). Input: resolve_way_
    geometries output (way_id, geometry)."""
    pts = way_geometries.select(
        "way_id", F.posexplode("geometry").alias("pos", "p")
    ).select("way_id", "pos", F.col("p.node_id").alias("node_id"), F.col("p.lat").alias("lat"), F.col("p.lon").alias("lon"))
    w = Window.partitionBy("way_id").orderBy("pos")
    with_nbrs = (
        pts.withColumn("prev_lat", F.lag("lat").over(w))
        .withColumn("prev_lon", F.lag("lon").over(w))
        .withColumn("next_lat", F.lead("lat").over(w))
        .withColumn("next_lon", F.lead("lon").over(w))
        .filter(F.col("prev_lat").isNotNull() & F.col("next_lat").isNotNull())
    )
    angle = angle_between_segments_deg(
        "prev_lat", "prev_lon", "lat", "lon", "next_lat", "next_lon"
    )
    return (
        with_nbrs.withColumn("angle_deg", F.round(angle, 3))
        .filter(F.col("angle_deg") <= max_angle_deg)
        .select("way_id", "node_id", "pos", "angle_deg")
    )
