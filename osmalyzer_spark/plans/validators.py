"""Topology / tag-consistency validators over the element graph
(the reference's Validation analyzer group).

Each validator is a shared-node membership join with tag-rule filters,
expressed natively (no UDFs) so Catalyst prunes the payload columns and
the only shuffle is the node-id equi-join:

- barrier_connections (BarrierConnectionAnalyzer.cs:40-105): barrier
  ways (minus the passable-value list) whose nodes also belong to a
  routable highway way without a gate-like node tag.
- bridge_water_connections (BridgeAndWaterConnectionAnalyzer.cs:43-99):
  bridge ways sharing nodes with non-dam waterway ways, grouped per
  (bridge, waterway) with the connection-point count and average coord
  (OsmGeoTools.GetAverageCoord).
- crossing_consistency (CrossingConsistencyAnalyzer.cs:62-132):
  footway-crossing ways with EXACTLY one highway=crossing node; per-tag
  value comparison under TagUtils.ValuesMatch with the tactile_paving
  allowance and the marked-vs-traffic_signals "common" severity.
- terminating_ways (TerminatingWaysAnalyzer.cs:52-135): routable ways
  that dead-end on the edge ring of a parking / square / pedestrian
  area instead of routing through it.

All take the (id, tags, node_ids) way table and the (id, tags[, lat,
lon]) node table; `datagen.views` / the driver queries synthesize these
shapes, a real deployment points them at the Iceberg element tables.

Scale notes: way↔node explode joins shuffle on node_id only after tag
filters cut both sides (predicate pushdown to the scan); the area table
in terminating_ways is a filtered dim (closed ways with three specific
tags) and is broadcast with its ring array.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmalyzer_spark.functions.tags import get_value, has_key, values_equal_unordered
from osmalyzer_spark.lineage import truncate

# BarrierConnectionAnalyzer.cs:49-61 — barrier values assumed passable.
PASSABLE_BARRIERS = [
    "gate",
    "wicket_gate",
    "lift_gate",
    "swing_gate",
    "sliding_gate",
    "kissing_gate",
    "entrance",
    "cattle_grid",
    "chain",
    "sally_port",
]

# OsmKnowledge.cs:8-39 IsRoutableHighwayValue.
ROUTABLE_HIGHWAY_VALUES = [
    "motorway",
    "trunk",
    "primary",
    "secondary",
    "tertiary",
    "unclassified",
    "residential",
    "motorway_link",
    "trunk_link",
    "primary_link",
    "secondary_link",
    "tertiary_link",
    "living_street",
    "service",
    "pedestrian",
    "track",
    "footway",
    "bridleway",
    "steps",
    "path",
    "cycleway",
    "crossing",
    "bus_stop",
    "platform",
]

# CrossingConsistencyAnalyzer.cs:70-82 — compared per crossing pair.
# "button_operated" genuinely appears TWICE in the reference list; the
# duplicate is preserved (a mismatch on it yields two issue rows there
# and two rows here).
CROSSING_TAGS = [
    "crossing",
    "crossing:markings",
    "crossing:island",
    "tactile_paving",
    "lit",
    "button_operated",
    "traffic_signals:sound",
    "traffic_signals:vibration",
    "button_operated",
    "traffic_calming",
]


# LifecycleLeftoversAnalyzer.cs:34-42 — suspicious lifecycle prefixes.
LIFECYCLE_PREFIXES = [
    "proposed",
    "construction",
    "planned",
    "abandoned",
    "disused",
    "razed",
]

# StreetTaggingContinuityAnalyzer.cs:26-28 — street-forming highway values.
STREET_HIGHWAY_VALUES = [
    "trunk",
    "primary",
    "secondary",
    "tertiary",
    "unclassified",
    "residential",
    "living_street",
    "service",
    "track",
    "trunk_link",
    "primary_link",
    "secondary_link",
]

# StreetTaggingContinuityAnalyzer.cs:55-63 — tags that must be uniform
# along a street.
STREET_CONSISTENT_TAGS = [
    "name",
    "name:etymology",
    "name:etymology:wikipedia",
    "name:etymology:wikidata",
    "wikidata",
    "wikipedia",
]


def _way_nodes(ways: DataFrame, way_col: str = "way_id") -> DataFrame:
    """Distinct (way, node) membership pairs. The reference walks
    way.Nodes occurrence-by-occurrence; set semantics match it exactly
    for non-self-intersecting ways (the synthetic fixtures and the vast
    majority of real ways), and collapse the duplicate report rows a
    repeated node would emit.

    Dedup is MAP-SIDE (array_distinct before the explode): way ids are
    unique in the element table, so (way, node) duplicates can only
    come from repeats inside one way's own array — no shuffle needed."""
    return ways.select(
        F.col("id").alias(way_col),
        F.explode(F.array_distinct("node_ids")).alias("node_id"),
    )


def _closed(ways: DataFrame) -> F.Column:
    n = F.size("node_ids")
    return (n > 1) & (
        F.element_at("node_ids", 1) == F.element_at("node_ids", n)
    )


def barrier_connections(ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """Barrier ways misconnected to routable highways
    (BarrierConnectionAnalyzer.cs:40-105).

    A node shared between a non-passable barrier way and a highway way
    is a routing problem unless the node itself is gate-like (has a
    `barrier` tag), the highway is an explicit area, or a closed
    platform. Output: one row per (node, barrier way, highway way).
    """
    # tag values ride the explode (no self-join to re-attach them) and
    # membership dedup is map-side array_distinct (way ids are unique,
    # so duplicates only arise within one way's array) — the only
    # shuffles left are the node-id equi-join and the anti-join.
    # truncate: the barrier and highway branches would otherwise
    # each recompute the caller's way-construction subplan (guide §2.4)
    ways = truncate(ways)
    bn = ways.filter(
        has_key("tags", "barrier")
        & ~get_value("tags", "barrier").isin(PASSABLE_BARRIERS)
    ).select(
        F.col("id").alias("barrier_id"),
        get_value("tags", "barrier").alias("barrier_value"),
        F.explode(F.array_distinct("node_ids")).alias("node_id"),
    )
    # gate-or-something nodes are fine (BarrierConnectionAnalyzer.cs:65-66)
    gate_nodes = nodes.filter(has_key("tags", "barrier")).select(
        F.col("id").alias("node_id")
    )
    bn = bn.join(gate_nodes, "node_id", "left_anti")

    hn = ways.filter(
        has_key("tags", "highway")
        # explicit areas connect to tons of things legitimately (:81-84)
        & (F.coalesce(get_value("tags", "area"), F.lit("")) != "yes")
        # closed platforms are implicit areas (:88-89)
        & ~((get_value("tags", "highway") == "platform") & _closed(ways))
    ).select(
        F.col("id").alias("highway_id"),
        get_value("tags", "highway").alias("highway_value"),
        F.explode(F.array_distinct("node_ids")).alias("node_id"),
    )
    return (
        bn.join(hn, "node_id")
        .filter(F.col("barrier_id") != F.col("highway_id"))
        .select("node_id", "barrier_id", "barrier_value", "highway_id", "highway_value")
    )


def bridge_water_connections(ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """Bridge ways sharing nodes with waterway ways
    (BridgeAndWaterConnectionAnalyzer.cs:43-99).

    Bridges cross water; a shared node means the bridge deck touches the
    waterway geometry (dams excepted — highways legitimately cross dams,
    :58-59). Grouped per (bridge, waterway) with the shared-node count
    and the average coordinate of the connection points
    (OsmGeoTools.GetAverageCoord over the node list).
    """
    ways = truncate(ways)  # bridge + waterway branches
    bridges = ways.filter(has_key("tags", "bridge")).select(
        F.col("id").alias("bridge_id"),
        F.explode(F.array_distinct("node_ids")).alias("node_id"),
    )
    waterways = ways.filter(
        has_key("tags", "waterway") & (get_value("tags", "waterway") != "dam")
    ).select(
        F.col("id").alias("waterway_id"),
        F.explode(F.array_distinct("node_ids")).alias("node_id"),
    )
    pairs = bridges.join(waterways, "node_id").filter(
        F.col("bridge_id") != F.col("waterway_id")
    )
    return (
        pairs.join(nodes.select(F.col("id").alias("node_id"), "lat", "lon"), "node_id")
        .groupBy("bridge_id", "waterway_id")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.avg("lat").alias("avg_lat"),
            F.avg("lon").alias("avg_lon"),
        )
    )


def crossing_consistency(ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """Crossing way-node tag consistency
    (CrossingConsistencyAnalyzer.cs:62-132).

    A footway-crossing way (highway in {path, footway} + footway =
    crossing) containing EXACTLY one highway=crossing node forms a
    crossing pair (GatherCrossings, :171-196); for each tag in
    CROSSING_TAGS both values present but not ValuesMatch-equal is an
    issue, except tactile_paving way=no vs node=yes/incorrect (kerb
    paving, :105-115). Severity: >1 issues => bad; a lone
    crossing=marked-vs-traffic_signals mismatch is the known legacy
    variation => common; any other lone issue => bad (:118-131).

    Output: one row per issue — (way_id, node_id, tag, way_value,
    node_value, severity).
    """
    cways = truncate(  # matched walk + pairs re-join
        ways.filter(
            get_value("tags", "highway").isin("path", "footway")
            & (get_value("tags", "footway") == "crossing")
        ).select(F.col("id").alias("way_id"), F.col("tags").alias("way_tags"), "node_ids")
    )
    cnodes = nodes.filter(get_value("tags", "highway") == "crossing").select(
        F.col("id").alias("node_id"), F.col("tags").alias("node_tags")
    )
    matched = _way_nodes(cways.withColumnRenamed("way_id", "id"), "way_id").join(
        cnodes, "node_id"
    )
    # exactly one crossing node per way (:190-192)
    singles = (
        matched.groupBy("way_id")
        .agg(F.count(F.lit(1)).alias("n"), F.first("node_id").alias("node_id"))
        .filter(F.col("n") == 1)
        .select("way_id", "node_id")
    )
    pairs = (
        singles.join(cways, "way_id")
        .join(cnodes, "node_id")
        .select("way_id", "node_id", "way_tags", "node_tags")
    )

    def tag_issue(tag: str) -> F.Column:
        wv = get_value("way_tags", tag)
        nv = get_value("node_tags", tag)
        allowed = (
            (F.lit(tag) == "tactile_paving")
            & (wv == "no")
            & nv.isin("yes", "incorrect")
        )
        bad = wv.isNotNull() & nv.isNotNull() & ~values_equal_unordered(wv, nv) & ~allowed
        return F.when(
            bad,
            F.struct(
                F.lit(tag).alias("tag"), wv.alias("way_value"), nv.alias("node_value")
            ),
        )

    issues = F.filter(
        F.array(*[tag_issue(t) for t in CROSSING_TAGS]), lambda x: x.isNotNull()
    )
    lone_common = (F.size("issues") == 1) & (
        (F.element_at("issues", 1)["tag"] == "crossing")
        & (F.element_at("issues", 1)["way_value"] == "marked")
        & (F.element_at("issues", 1)["node_value"] == "traffic_signals")
    )
    return (
        pairs.withColumn("issues", issues)
        .filter(F.size("issues") > 0)
        .withColumn(
            "severity", F.when(lone_common, F.lit("common")).otherwise(F.lit("bad"))
        )
        .select(
            "way_id",
            "node_id",
            F.explode("issues").alias("issue"),
            "severity",
        )
        .select(
            "way_id",
            "node_id",
            F.col("issue.tag").alias("tag"),
            F.col("issue.way_value").alias("way_value"),
            F.col("issue.node_value").alias("node_value"),
            "severity",
        )
    )


def terminating_ways(ways: DataFrame) -> DataFrame:
    """Routable ways dead-ending on area edge rings
    (TerminatingWaysAnalyzer.cs:52-135).

    Areas are closed ways tagged amenity=parking, place=square, or
    highway=pedestrian + area=yes (:25-34). For each ring node, a
    routable way (OsmKnowledge routable highway values) TERMINATES there
    when the node is the way's endpoint and no other way node lies on
    the ring (WayTerminatesAtEdge, :106-121); otherwise any candidate
    way with >=2 nodes PASSES THROUGH (its shared node is on the ring,
    WayPassesThroughEdge :123-131). A ring node is reported exactly when
    one way terminates and none pass through (:80-88) — note the area
    way itself counts as passing when its highway value is routable
    (pedestrian areas therefore never report, as in the reference).

    Output: one row per termination point — (area_id, node_id, way_id).
    """
    ways = truncate(ways)  # area + routable branches
    areas = ways.filter(
        _closed(ways)
        & (
            (get_value("tags", "amenity") == "parking")
            | (get_value("tags", "place") == "square")
            | (
                (get_value("tags", "highway") == "pedestrian")
                & (get_value("tags", "area") == "yes")
            )
        )
    ).select(
        F.col("id").alias("area_id"),
        # drop the closing duplicate; ring node set for membership tests
        F.array_distinct("node_ids").alias("ring"),
    )
    # ring edge nodes — areas are a filtered dim, broadcast with the array
    edges = F.broadcast(
        areas.select("area_id", "ring", F.explode("ring").alias("node_id"))
    )

    routable = ways.filter(
        get_value("tags", "highway").isin(ROUTABLE_HIGHWAY_VALUES)
    ).select(
        F.col("id").alias("way_id"),
        "node_ids",
        F.element_at("node_ids", 1).alias("first_node"),
        F.element_at("node_ids", -1).alias("last_node"),
    )
    # NOTE: no way_id != area_id exclusion — the reference iterates ALL
    # routable ways at the edge node, including the area way itself,
    # which then counts as passing through (TerminatingWaysAnalyzer.cs:73).
    cand = routable.select(
        "way_id", "node_ids", "first_node", "last_node",
        F.explode(F.array_distinct("node_ids")).alias("node_id"),
    ).join(edges, "node_id")
    on_ring = F.size(F.array_intersect("node_ids", "ring"))
    is_endpoint = (F.col("node_id") == F.col("first_node")) | (
        F.col("node_id") == F.col("last_node")
    )
    # a CLOSED way can never terminate: its closing duplicate node is an
    # area-ring node whenever its endpoint is, so both endpoint rules'
    # "no other node on the ring" checks fail (WayTerminatesAtEdge,
    # TerminatingWaysAnalyzer.cs:111-119 over Nodes incl. the duplicate)
    closed = (F.size("node_ids") > 1) & (
        F.element_at("node_ids", 1) == F.element_at("node_ids", F.size("node_ids"))
    )
    degenerate = F.size(F.array_distinct("node_ids")) < 2
    classified = cand.select(
        "area_id",
        "node_id",
        "way_id",
        F.when(degenerate, F.lit(None))
        .when(is_endpoint & (on_ring == 1) & ~closed, F.lit("term"))
        .otherwise(F.lit("pass"))
        .alias("cls"),
    )
    per_node = classified.groupBy("area_id", "node_id").agg(
        F.count(F.when(F.col("cls") == "term", 1)).alias("n_term"),
        F.count(F.when(F.col("cls") == "pass", 1)).alias("n_pass"),
        F.min(F.when(F.col("cls") == "term", F.col("way_id"))).alias("way_id"),
    )
    return per_node.filter((F.col("n_term") == 1) & (F.col("n_pass") == 0)).select(
        "area_id", "node_id", "way_id"
    )


def lifecycle_leftovers(ways: DataFrame) -> DataFrame:
    """Ways with leftover life-cycle tags
    (LifecycleLeftoversAnalyzer.cs:45-110).

    Over ways carrying highway XOR railway (both -> skipped, :53-57),
    probe each lifecycle prefix p != main value as the plain tag `p` and
    the compound tag `p:<main value>` (:66-72 — the compound key is a
    runtime-computed map lookup). Plain-tag exceptions: construction=
    minor is valid (:79-80); disused=yes / abandoned=yes are common on
    a NON-lifecycle main value (:82-84) — neither exception applies to
    compound tags (the reference compares the exact tag string).

    Output: one row per leftover tag —
    (way_id, main_tag, main_value, tag, value). Fully native: 12 map
    probes, no shuffle at all (embarrassingly parallel scan).
    """
    hv = get_value("tags", "highway")
    rv = get_value("tags", "railway")
    w = ways.filter(hv.isNotNull() != rv.isNotNull())  # exactly one
    main_tag = F.when(hv.isNotNull(), F.lit("highway")).otherwise(F.lit("railway"))
    main_value = F.coalesce(hv, rv)
    arms = []
    for p in LIFECYCLE_PREFIXES:
        for compound in (False, True):
            if compound:
                key = F.concat(F.lit(p + ":"), main_value)
            else:
                key = F.lit(p)
            val = F.element_at(F.col("tags"), key)
            cond = (main_value != p) & val.isNotNull()
            if not compound:
                if p == "construction":
                    cond = cond & (val != "minor")
                if p in ("disused", "abandoned"):
                    cond = cond & ~(
                        (val == "yes") & ~main_value.isin(LIFECYCLE_PREFIXES)
                    )
            arms.append(
                F.when(cond, F.struct(key.alias("tag"), val.alias("value")))
            )
    leftovers = F.filter(F.array(*arms), lambda x: x.isNotNull())
    return (
        w.select(
            F.col("id").alias("way_id"),
            main_tag.alias("main_tag"),
            main_value.alias("main_value"),
            F.explode(leftovers).alias("lo"),
        )
        .select(
            "way_id",
            "main_tag",
            "main_value",
            F.col("lo.tag").alias("tag"),
            F.col("lo.value").alias("value"),
        )
    )


def street_tagging_continuity(ways: DataFrame, routes: DataFrame) -> DataFrame:
    """Streets (road-route relations) whose whole-street tags vary
    across segments (StreetTaggingContinuityAnalyzer.cs:50-80,120-204).

    Streets come from type=route + route=road relations WITHOUT a
    network tag (:30-35; the reference also applies a fuzzy-loose
    Latvia-polygon containment — compose geo.polygon /
    osm.fuzzy_relation_containment upstream for that). Segments are the
    relation's way members whose highway value forms a street
    (STREET_HIGHWAY_VALUES). A way claimed by MORE THAN ONE route
    contributes no values (CollectValues :186-190 skips multi-route
    segments — they always mismatch). Per street and consistent tag,
    the distinct value set INCLUDING the missing-value null (:192-196)
    must be a singleton; otherwise one issue row:
    (route_id, tag, n_values, values) with nulls rendered '<empty>'.
    """
    r = routes.filter(
        (get_value("tags", "type") == "route")
        & (get_value("tags", "route") == "road")
        & ~has_key("tags", "network")
    )
    members = r.select(
        F.col("id").alias("route_id"), F.explode("members").alias("m")
    ).filter(F.col("m.type") == "way")
    street_ways = ways.filter(
        get_value("tags", "highway").isin(STREET_HIGHWAY_VALUES)
    ).select(F.col("id").alias("way_id"), "tags")
    segments = (
        members.select("route_id", F.col("m.ref").alias("way_id"))
        .distinct()
        .join(street_ways, "way_id")
    )
    # ways in >1 route contribute no values anywhere
    route_counts = segments.groupBy("way_id").agg(
        F.countDistinct("route_id").alias("n_routes")
    )
    single = segments.join(route_counts, "way_id").filter(F.col("n_routes") == 1)
    per_tag = [
        single.select(
            "route_id",
            F.lit(tag).alias("tag"),
            F.coalesce(get_value("tags", tag), F.lit("<empty>")).alias("value"),
        )
        for tag in STREET_CONSISTENT_TAGS
    ]
    allv = per_tag[0]
    for t in per_tag[1:]:
        allv = allv.unionByName(t)
    agg = allv.groupBy("route_id", "tag").agg(
        F.size(F.collect_set("value")).alias("n_values"),
        F.concat_ws(",", F.array_sort(F.collect_set("value"))).alias("values"),
    )
    return agg.filter(F.col("n_values") > 1)


# HighwaySpeedLimitAnalyzer.cs:25-30 — roads whose 80/90 limits are checked.
SPEED_ROAD_VALUES = [
    "trunk",
    "primary",
    "secondary",
    "tertiary",
    "unclassified",
    "residential",
    "trunk_link",
    "primary_link",
    "secondary_link",
]
# HighwaySpeedLimitAnalyzer.cs:46-48 / :78-80 — surface classes.
UNPAVED_SURFACES = [
    "unpaved", "ground", "gravel", "dirt", "grass", "compacted",
    "sand", "fine_gravel", "earth", "pebblestone",
]
PAVED_SURFACES = ["asphalt", "paved", "concrete", "chipseal"]

# LoneCrossingAnalyzer.cs:64-76 — way classes a crossing node may sit on.
# NOTE: "pedestrian" appears in BOTH lists (a pedestrian way is a road
# AND a footway there).
CROSSING_ROAD_VALUES = [
    "motorway", "trunk", "primary", "secondary", "tertiary",
    "unclassified", "residential", "motorway_link", "trunk_link",
    "primary_link", "secondary_link", "tertiary_link", "living_street",
    "pedestrian", "service", "track",
]
CROSSING_FOOTWAY_VALUES = ["footway", "path", "pedestrian"]


def highway_speed_check(ways: DataFrame) -> DataFrame:
    """Suspect 80/90 speed limits vs surface
    (HighwaySpeedLimitAnalyzer.cs:23-116).

    Over ways with maxspeed 80/90, a checked highway class, and a
    surface tag (the reference also applies a fuzzy-loose Latvia-polygon
    containment — compose upstream): unpaved surfaces with maxspeed=90
    (the unpaved default is 80, :44-49) and paved surfaces with
    maxspeed=80 (:77-82), both minus explicitly signed/zoned roads
    (maxspeed:type). Issues are grouped GroupByValues-style by the first
    present of ref/name (OsmData.cs:376-398; elements with neither are
    dropped) with the group's distinct surfaces/refs/names and average
    coordinate (OsmGroup.CollectValues / GetAverageElementCoord).

    Input: (id, tags, lat, lon) with per-way average coords. Output:
    (category, group_value, n_segments, surfaces, refs, names,
    avg_lat, avg_lon).
    """
    ms = get_value("tags", "maxspeed")
    hv = get_value("tags", "highway")
    surface = get_value("tags", "surface")
    mtype = F.coalesce(get_value("tags", "maxspeed:type"), F.lit(""))
    base = ways.filter(
        ms.isin("80", "90") & hv.isin(SPEED_ROAD_VALUES) & has_key("tags", "surface")
    )
    u90 = base.filter(
        (ms == "90") & surface.isin(UNPAVED_SURFACES) & ~mtype.isin("sign", "LV:zone90")
    ).withColumn("category", F.lit("unpaved90"))
    p80 = base.filter(
        (ms == "80") & surface.isin(PAVED_SURFACES) & ~mtype.isin("sign", "LV:zone80")
    ).withColumn("category", F.lit("paved80"))
    both = u90.unionByName(p80)
    group_value = F.when(has_key("tags", "ref"), get_value("tags", "ref")).when(
        has_key("tags", "name"), get_value("tags", "name")
    )
    joined = lambda c: F.concat_ws(",", F.array_sort(F.collect_set(c)))  # noqa: E731
    return (
        both.withColumn("group_value", group_value)
        .filter(F.col("group_value").isNotNull())
        .groupBy("category", "group_value")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            joined(surface).alias("surfaces"),
            joined(get_value("tags", "ref")).alias("refs"),
            joined(get_value("tags", "name")).alias("names"),
            F.avg("lat").alias("avg_lat"),
            F.avg("lon").alias("avg_lon"),
        )
    )


def lone_crossings(ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """Crossing nodes missing an expected parent way
    (LoneCrossingAnalyzer.cs:25-93).

    Per highway=crossing node, OR-fold its parent ways into four flags —
    road (incl. pedestrian/service/track), footway (footway/path/
    pedestrian), cycleway, and railway=tram (tram crossings mapped as
    regular crossings are allowed, :73-74). The reference's exclusive
    chain (:78-93): road-or-rail without any person way => road_only;
    person way without road/rail => footway_only UNLESS a cycleway is
    present (footway-crossing-cycleway is valid); neither road nor
    person => stray. Valid crossings (road AND person) emit nothing.

    Output: (node_id, category).
    """
    cn = nodes.filter(get_value("tags", "highway") == "crossing").select(
        F.col("id").alias("node_id")
    )
    hv = get_value("tags", "highway")
    wf = ways.select(
        F.col("id").alias("way_id"),
        hv.isin(CROSSING_ROAD_VALUES).alias("is_road"),
        hv.isin(CROSSING_FOOTWAY_VALUES).alias("is_footway"),
        (hv == "cycleway").alias("is_cycleway"),
        (get_value("tags", "railway") == "tram").alias("is_rail"),
        "node_ids",
    )
    wn = wf.select(
        "way_id", "is_road", "is_footway", "is_cycleway", "is_rail",
        F.explode(F.array_distinct("node_ids")).alias("node_id"),
    )
    flags = (
        cn.join(wn, "node_id", "left")
        .groupBy("node_id")
        .agg(
            F.coalesce(F.bool_or("is_road"), F.lit(False)).alias("road"),
            F.coalesce(F.bool_or("is_footway"), F.lit(False)).alias("foot"),
            F.coalesce(F.bool_or("is_cycleway"), F.lit(False)).alias("cyc"),
            F.coalesce(F.bool_or("is_rail"), F.lit(False)).alias("rail"),
        )
    )
    person = F.col("foot") | F.col("cyc")
    category = (
        F.when((F.col("road") | F.col("rail")) & ~person, F.lit("road_only"))
        .when(
            ~F.col("road") & ~F.col("rail") & person,
            # footway crossing a cycleway is a valid crossing (:86-87)
            F.when(~F.col("cyc"), F.lit("footway_only")),
        )
        .when(~F.col("road") & ~person, F.lit("stray"))
    )
    return (
        flags.withColumn("category", category)
        .filter(F.col("category").isNotNull())
        .select("node_id", "category")
    )


# The reference's feature-defining-keys taxonomy
# (data/feature defining keys.tsv, loaded by
# NonDefiningTaggingAnalyzer.cs:33-45): (key, strength, method, targets)
# in FILE ORDER — matching is first-row-wins per element key. targets is
# a subset of "nwr" (node/way/relation).
DEFINING_KEYS: list[tuple[str, str, str, str]] = [
    ("source", "poor", "exact", "nwr"),
    ("note", "editorial", "exact", "nwr"),
    ("fixme", "editorial", "exact", "nwr"),
    ("building", "good", "exact", "nwr"),
    ("highway", "good", "exact", "nwr"),
    ("addr:", "strippable", "prefix", "nwr"),
    ("old_addr:", "strippable", "prefix", "nwr"),
    ("ref:LV:addr", "strippable", "exact", "nwr"),
    ("type", "good", "exact", "r"),
    ("landuse", "good", "exact", "nwr"),
    ("natural", "good", "exact", "nwr"),
    ("power", "good", "exact", "nwr"),
    ("waterway", "good", "exact", "nwr"),
    ("amenity", "good", "exact", "nwr"),
    ("barrier", "good", "exact", "nwr"),
    ("leisure", "good", "exact", "nwr"),
    ("crossing", "good", "exact", "nwr"),
    ("railway", "good", "exact", "nwr"),
    ("railway:historic", "good", "exact", "nwr"),
    ("man_made", "good", "exact", "nwr"),
    ("shop", "good", "exact", "nwr"),
    ("water", "good", "exact", "nwr"),
    ("entrance", "good", "exact", "nwr"),
    ("tourism", "good", "exact", "nwr"),
    ("boundary", "good", "exact", "nwr"),
    ("building:part", "good", "exact", "nwr"),
    ("place", "good", "exact", "nwr"),
    ("public_transport", "good", "exact", "nwr"),
    ("traffic_calming", "good", "exact", "nwr"),
    ("historic", "good", "exact", "nwr"),
    ("disused:", "good", "prefix", "nwr"),
    ("proposed:", "good", "prefix", "nwr"),
    ("planned:", "good", "prefix", "nwr"),
    ("construction:", "good", "prefix", "nwr"),
    ("abandoned:", "good", "prefix", "nwr"),
    ("ruins:", "good", "prefix", "nwr"),
    ("demolished:", "good", "prefix", "nwr"),
    ("removed:", "good", "prefix", "nwr"),
    ("destroyed:", "good", "prefix", "nwr"),
    ("historic:", "good", "prefix", "nwr"),
    ("was:", "good", "prefix", "nwr"),
    ("razed:", "good", "prefix", "nwr"),
    ("kerb", "good", "exact", "nwr"),
    ("emergency", "good", "exact", "nwr"),
    ("seamark:type", "good", "exact", "nwr"),
    ("aeroway", "good", "exact", "nwr"),
    ("aerialway", "good", "exact", "nwr"),
    ("noexit", "good", "exact", "nwr"),
    ("traffic_sign", "good", "exact", "nwr"),
    ("military", "good", "exact", "nwr"),
    ("playground", "good", "exact", "nwr"),
    ("area:", "good", "prefix", "nwr"),
    ("piste:type", "good", "exact", "nwr"),
    ("bridge:support", "good", "exact", "nwr"),
    ("ford", "good", "exact", "nwr"),
    ("road_marking", "good", "exact", "nwr"),
    ("attraction", "good", "exact", "nwr"),
    ("advertising", "good", "exact", "nwr"),
    ("marker", "good", "exact", "nwr"),
    ("defensive_works", "good", "exact", "nwr"),
    ("fitness_station", "good", "exact", "nwr"),
    ("hazard", "good", "exact", "nwr"),
    ("route", "good", "exact", "nwr"),
    ("indoor", "good", "exact", "nwr"),
    ("government", "good", "exact", "nwr"),
    ("generator:type", "good", "exact", "nwr"),
    ("office", "good", "exact", "nwr"),
    ("cemetery", "good", "exact", "nwr"),
    ("airmark", "good", "exact", "nwr"),
    ("craft", "good", "exact", "nwr"),
    ("golf", "good", "exact", "nwr"),
    ("disc_golf", "good", "exact", "nwr"),
    ("club", "good", "exact", "nwr"),
    ("telecom", "good", "exact", "nwr"),
    ("xmas:feature", "good", "exact", "nwr"),
    ("allotments", "good", "exact", "nwr"),
    ("healthcare", "good", "exact", "nwr"),
    ("pipeline", "good", "exact", "nwr"),
    ("cycleway", "good", "exact", "n"),
    ("junction", "good", "exact", "nwr"),
    ("maxspeed", "good", "exact", "n"),
    ("whitewater", "good", "exact", "nwr"),
    ("canoe", "good", "exact", "nwr"),
    ("raceway", "good", "exact", "n"),
    ("geological", "good", "exact", "nwr"),
    ("maritime", "good", "exact", "w"),
    ("roller_coaster", "good", "exact", "w"),
    ("window", "good", "exact", "n"),
]


def non_defining_tagging(elements: DataFrame, taxonomy=None) -> DataFrame:
    """Elements whose tags do not define a feature
    (NonDefiningTaggingAnalyzer.cs:16-280).

    Every element key is matched against the defining-keys taxonomy —
    first row wins, method exact/prefix/suffix (prefix/suffix require
    the key to be strictly LONGER than the pattern, :215-221), and the
    row must target the element's type. Classification (:231-280):
    any good match => a feature, skip; else any poor match =>
    'poorly_defining'; else if every key matched (editorial/strippable
    only) => skip; else 'non_defining'. (The reference then applies the
    fuzzy-loose Latvia polygon before reporting — compose upstream.)

    elements: (id, type, tags). Output: (elem_id, type, category,
    detail) — detail is the lexicographically-first poor-matched key
    for 'poorly_defining' (the reference takes the first in tag order,
    which is source-file order and not relationally reproducible), or
    the sorted comma-joined key list for 'non_defining'.

    Scale: the taxonomy (<100 rows) broadcasts into a nested-loop match
    per exploded key; everything else is one groupBy on element id.
    """
    spark = elements.sparkSession
    tax_rows = taxonomy if taxonomy is not None else DEFINING_KEYS
    tax = F.broadcast(
        spark.createDataFrame(
            [(i, k, s, m, t) for i, (k, s, m, t) in enumerate(tax_rows)],
            "idx int, tkey string, strength string, method string, targets string",
        )
    )
    keys = elements.select(
        F.col("id").alias("elem_id"),
        F.col("type"),
        F.explode(F.map_keys("tags")).alias("key"),
    )
    type_ok = F.col("targets").contains(F.substring(F.col("type"), 1, 1))
    strictly_longer = F.length("key") > F.length("tkey")
    method_ok = (
        ((F.col("method") == "exact") & (F.col("key") == F.col("tkey")))
        | (
            (F.col("method") == "prefix")
            & strictly_longer
            & F.col("key").startswith(F.col("tkey"))
        )
        | (
            (F.col("method") == "suffix")
            & strictly_longer
            & F.col("key").endswith(F.col("tkey"))
        )
    )
    matched = keys.join(tax, type_ok & method_ok, "left").groupBy(
        "elem_id", "type", "key"
    ).agg(F.min_by("strength", "idx").alias("strength"))
    per_elem = matched.groupBy("elem_id", "type").agg(
        F.count(F.when(F.col("strength") == "good", 1)).alias("n_good"),
        F.count(F.when(F.col("strength") == "poor", 1)).alias("n_poor"),
        F.count(F.when(F.col("strength").isNull(), 1)).alias("n_unmatched"),
        F.min(F.when(F.col("strength") == "poor", F.col("key"))).alias("first_poor"),
        F.concat_ws(",", F.array_sort(F.collect_list("key"))).alias("all_keys"),
    )
    category = F.when(F.col("n_good") > 0, F.lit(None)).when(
        F.col("n_poor") > 0, F.lit("poorly_defining")
    ).when(F.col("n_unmatched") == 0, F.lit(None)).otherwise(F.lit("non_defining"))
    return (
        per_elem.withColumn("category", category)
        .filter(F.col("category").isNotNull())
        .select(
            "elem_id",
            "type",
            "category",
            F.when(F.col("category") == "poorly_defining", F.col("first_poor"))
            .otherwise(F.col("all_keys"))
            .alias("detail"),
        )
    )


# SpellingAnalyzer.cs:66-80 — '/' uses that are NOT language separators,
# protected (case-insensitively) before splitting.
SPELLING_KNOWN_SLASH_USES = [
    r"(A)/(S)", r"(T)/(C)", r"(T)/(P)", r"(B)/(C)", r"(a)/(c)",
    r"(Z)/(S)", r"(K)/(S)", r"(D)/(B)", r"(I)/(U)", r"(\d+\.?)/(\d+)",
]

# ImproperTranslationAnalyzer.cs:454-480 ExtractLanguage — name: subkeys
# that are NOT language codes.
NAME_NON_LANGUAGE_KEYS = [
    "name:left", "name:right", "name:wikipedia", "name:pronunciation",
    "name:prefix", "name:suffix", "name:postfix", "name:full",
    "name:etymology", "name:carnaval", "name:language", "name:source",
]

_SPELL_TEMP = "�"


def _name_language(key) -> F.Column:
    """ISO code from a name:xx key, null for non-language subkeys
    (ExtractLanguage, ImproperTranslationAnalyzer.cs:454-480)."""
    k = key if isinstance(key, F.Column) else F.col(key)
    bad = (
        k.isin(NAME_NON_LANGUAGE_KEYS)
        | (F.size(F.split(k, ":")) > 2)  # sub-sub keys
        | k.rlike(r"^name:\d+-(\d+)?$")  # date-ranged names
        | (F.length(k) < 6)
    )
    return F.when(~bad & k.startswith("name:"), F.substring(k, 6, 2147483647))


def spelling_check(elements: DataFrame, dictionary: DataFrame) -> DataFrame:
    """Misspelled name parts (SpellingAnalyzer.cs:21-233 +
    Misc/Spellchecker.cs).

    Names split into parts on ';' and '/' after protecting known '/'
    uses (A/S, 24/7, ... — platform names keep ALL slashes, :58-62);
    for multi-part names, a part equal to a non-lv `name:<lang>` value
    is a foreign-language alternative and skipped (:95-125). Each part
    tokenizes on whitespace with end punctuation stripped
    (Spellchecker.cs:16-19 trims the text's own punctuation set, which
    over its own words equals stripping all punctuation ends); a word
    is misspelled when no provider accepts it — providers are modeled
    as ONE broadcast word table (dictionary: a `word` column; the
    reference's Hunspell morphology is out of sandbox scope, its
    dictionary-lookup shape is what scales).

    Output: one row per problematic (name value, part) — (value, part,
    n_elements, words), words in token order. Scale: distinct parts are
    spellchecked once (the reference's okValues/problems caching) and
    occurrences join back; the dictionary is broadcast.
    """
    name = get_value("tags", "name")
    els = elements.filter(name.isNotNull())
    protected_chain = name
    for pat in SPELLING_KNOWN_SLASH_USES:
        protected_chain = F.regexp_replace(
            protected_chain, "(?i)" + pat, "$1" + _SPELL_TEMP + "$2"
        )
    protected = F.when(
        get_value("tags", "public_transport") == "platform",
        F.translate(name, "/", _SPELL_TEMP),
    ).otherwise(protected_chain)
    parts = F.filter(
        F.transform(
            F.split(protected, "[;/]"),
            lambda p: F.translate(F.trim(p), _SPELL_TEMP, "/"),
        ),
        lambda p: p != "",
    )
    # non-lv language alternatives among name:xx values
    lang_names = F.map_values(
        F.map_filter(
            F.col("tags"),
            lambda k, v: _name_language(k).isNotNull() & (_name_language(k) != "lv"),
        )
    )
    # consumed twice (distinct-part spellcheck + occurrence join-back):
    # truncate so the slash-protection regex chain and the name:xx
    # map_filter tree are planned and evaluated once
    occ = truncate(
        els.select(
            F.col("id").alias("elem_id"),
            name.alias("value"),
            parts.alias("parts"),
            lang_names.alias("foreign"),
        )
        .select(
            "elem_id", "value", F.size("parts").alias("n_parts"), "foreign",
            F.explode("parts").alias("part"),
        )
        .filter(~((F.col("n_parts") > 1) & F.array_contains("foreign", F.col("part"))))
        .select("elem_id", "value", "part")
    )
    # spellcheck each DISTINCT part once (okValues discipline)
    words = F.filter(
        F.transform(
            F.split(F.col("part"), r"\s+"),
            lambda w: F.regexp_replace(w, r"^\p{P}+|\p{P}+$", ""),
        ),
        lambda w: w != "",
    )
    part_words = (
        occ.select("part").distinct()
        .select("part", F.posexplode(words).alias("pos", "word"))
    )
    bad_words = part_words.join(
        F.broadcast(dictionary.select(F.col("word"))), "word", "left_anti"
    )
    bad_parts = bad_words.groupBy("part").agg(
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "word"))),
                lambda s: s["word"],
            ),
        ).alias("words")
    )
    return (
        occ.join(bad_parts, "part")
        .groupBy("value", "part")
        .agg(F.count(F.lit(1)).alias("n_elements"), F.max("words").alias("words"))
        .select("value", "part", "n_elements", "words")
    )
