"""GTFS relational source (S4/S5) + public-transport operators (J7/J8/A8).

Source semantics per the reference's GTFS loaders
(Osmalyzer/Data/GTFS/GTFSNetwork.cs:22-35, GTFSStops.cs:14-72,
GTFSPoints.cs:14-54): quoted fields, duplicate stop ids keep the first
occurrence (TryAdd), rows with unparseable lat/lon dropped, degenerate
1-stop trips ignored downstream. Spark's multiLine CSV reader replaces
the hand-rolled parser (Osmalyzer/Data/CsvParser.cs:8-117).

Operators:
- route_variants (A8, PublicTransportAnalyzer.cs:465-483): trips grouped
  by their exact ordered stop-id sequence, with trip counts.
- stop_gap_pairs (J8, PublicTransportAnalyzer.cs:333-404): lag/lead over
  the route stop sequence to pair an unmatched OSM stop with the GTFS
  neighbor of its matched predecessor when within 70 m.
- score_route_match (J7, PublicTransportAnalyzer.cs:532-669): bipartite
  variant<->relation scoring — centroid distance prefilter (50 km), score
  = sum of positional proximity of name-matched stops / max(stop counts),
  acceptance > 0.4, iterative takeover via the shared deferred-acceptance
  machinery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from osmalyzer_spark.geo.distance import haversine_m


def read_gtfs_stops(spark: SparkSession, path: str) -> DataFrame:
    """stops.txt -> (stop_id, name, lat, lon); first occurrence wins on
    duplicate ids; bad coordinates dropped."""
    raw = spark.read.csv(path, header=True, multiLine=True, quote='"', escape='"')
    w = Window.partitionBy("stop_id").orderBy(F.monotonically_increasing_id())
    return (
        raw.select(
            "stop_id",
            F.col("stop_name").alias("name"),
            F.col("stop_lat").cast("double").alias("lat"),
            F.col("stop_lon").cast("double").alias("lon"),
        )
        .filter(F.col("lat").isNotNull() & F.col("lon").isNotNull())
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def read_gtfs_routes(spark: SparkSession, path: str) -> DataFrame:
    """routes.txt -> (route_id, name, number, vehicle_type).

    Mirrors GTFSRoutes.cs:14-107: first occurrence wins on duplicate ids;
    the vehicle type comes from the id's second underscore segment
    ("riga_bus_60" -> bus), defaulting to bus when the id has no
    segments; unknown raw types map to NULL (the reference throws — a
    filterable NULL is the distributed-friendly equivalent).
    """
    raw = spark.read.csv(path, header=True, multiLine=True, quote='"', escape='"')
    seg = F.split(F.col("route_id"), "_")
    vtype = F.when(F.size(seg) == 1, F.lit("bus")).otherwise(
        F.element_at(
            F.create_map(
                F.lit("bus"), F.lit("bus"),
                F.lit("nightbus"), F.lit("nightbus"),
                F.lit("trol"), F.lit("trolleybus"),
                F.lit("tram"), F.lit("tram"),
                F.lit("minibus"), F.lit("minibus"),
            ),
            F.element_at(seg, 2),
        )
    )
    w = Window.partitionBy("route_id").orderBy(F.monotonically_increasing_id())
    return (
        raw.select(
            "route_id",
            F.col("route_long_name").alias("name"),
            F.col("route_short_name").alias("number"),
            vtype.alias("vehicle_type"),
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def read_gtfs_services(spark: SparkSession, path: str) -> DataFrame:
    """calendar.txt -> (service_id, monday..sunday booleans, start_date,
    end_date). The reference keeps only the id (GTFSServices.cs:15-48);
    the weekday/date columns ride along since the CSV carries them and
    route-day filtering needs them. First occurrence wins on dup ids."""
    raw = spark.read.csv(path, header=True, multiLine=True, quote='"', escape='"')
    days = ["monday", "tuesday", "wednesday", "thursday", "friday", "saturday", "sunday"]
    w = Window.partitionBy("service_id").orderBy(F.monotonically_increasing_id())
    return (
        raw.select(
            "service_id",
            *[(F.col(d) == "1").alias(d) for d in days],
            F.to_date("start_date", "yyyyMMdd").alias("start_date"),
            F.to_date("end_date", "yyyyMMdd").alias("end_date"),
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def read_gtfs_stop_times(spark: SparkSession, path: str) -> DataFrame:
    raw = spark.read.csv(path, header=True, multiLine=True, quote='"', escape='"')
    return raw.select(
        "trip_id",
        F.col("arrival_time").alias("arrival"),
        F.col("departure_time").alias("departure"),
        "stop_id",
        F.col("stop_sequence").cast("int").alias("stop_seq"),
    ).filter(F.col("stop_seq").isNotNull())


def clean_stop_name(col) -> F.Column:
    """The reference's stop-name canonicalization (CleanName,
    PublicTransportAnalyzer.cs:791-824): lowercase, collapse repeated
    whitespace, strip one trailing " (...)" (OSM) and " [...]" (GTFS)
    qualifier, drop quote characters, and space-pad . / - characters.

    Padding is expressed as pad-both-sides + re-collapse (RE2-compatible,
    so the DuckDB oracle can replay it verbatim) — equivalent to the
    reference's lookaround form on space-collapsed input; the final
    collapse also canonicalizes doubles left by quote removal (a strict
    normalization the reference skips).
    """
    c = F.lower(col)
    c = F.regexp_replace(c, r"\s{2,}", " ")
    c = F.regexp_replace(c, r" \([^()]+\)$", "")
    c = F.regexp_replace(c, r" \[[^\[\]]+\]$", "")
    c = F.regexp_replace(c, '"', "")
    c = F.regexp_replace(c, r"([./-])", r" $1 ")
    return F.regexp_replace(c, r"\s{2,}", " ")


def route_variants(stop_times: DataFrame, min_stops: int = 2) -> DataFrame:
    """Group trips by exact ordered stop sequence (A8). Output:
    (stop_seq_key, stops array, n_trips, example_trip). Degenerate
    (<min_stops) trips dropped like the reference."""
    per_trip = stop_times.groupBy("trip_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("stop_seq", "stop_id"))),
            lambda s: s["stop_id"],
        ).alias("stops")
    )
    per_trip = per_trip.filter(F.size("stops") >= min_stops)
    return (
        per_trip.groupBy(F.col("stops"))
        .agg(F.count(F.lit(1)).alias("n_trips"), F.min("trip_id").alias("example_trip"))
        .withColumn("stop_seq_key", F.md5(F.concat_ws("|", F.col("stops"))))
        .select("stop_seq_key", "stops", "n_trips", "example_trip")
    )


def stop_gap_pairs(
    route_stops: DataFrame,
    max_gap_m: float = 70.0,
) -> DataFrame:
    """J8 stop-sequence gap repair. Input: one row per (route_id, seq) with
    columns (route_id, seq, osm_stop_id, osm_lat, osm_lon, gtfs_stop_id,
    gtfs_lat, gtfs_lon, matched:boolean). For each unmatched OSM stop,
    take the GTFS successor of the previous matched stop along the route
    and pair them when within max_gap_m."""
    w = Window.partitionBy("route_id").orderBy("seq")
    prev_matched_gtfs = F.last(
        F.when(F.col("matched"), F.struct("gtfs_stop_id", "gtfs_lat", "gtfs_lon", "seq")),
        ignorenulls=True,
    ).over(w.rowsBetween(Window.unboundedPreceding, -1))
    cand = (
        route_stops.withColumn("prev", prev_matched_gtfs)  # before the filter!
        .filter(~F.col("matched"))
        .filter(F.col("prev").isNotNull())
    )
    # the GTFS twin that FOLLOWS the previous matched stop
    nxt = route_stops.select(
        F.col("route_id").alias("r2"),
        F.col("seq").alias("seq2"),
        F.col("gtfs_stop_id").alias("next_gtfs_id"),
        F.col("gtfs_lat").alias("next_gtfs_lat"),
        F.col("gtfs_lon").alias("next_gtfs_lon"),
    )
    paired = cand.join(
        nxt,
        (F.col("route_id") == F.col("r2")) & (F.col("prev.seq") + 1 == F.col("seq2")),
    )
    dist = haversine_m("osm_lat", "osm_lon", "next_gtfs_lat", "next_gtfs_lon")
    return (
        paired.withColumn("gap_dist_m", dist)
        .filter(F.col("gap_dist_m") <= max_gap_m)
        .select(
            "route_id",
            "seq",
            "osm_stop_id",
            F.col("next_gtfs_id").alias("paired_gtfs_stop_id"),
            F.round("gap_dist_m", 2).alias("gap_dist_m"),
        )
    )


def score_route_matches(
    spark: SparkSession,
    variants: DataFrame,
    osm_routes: DataFrame,
    accept_score: float = 0.4,
    centroid_prefilter_m: float = 50_000.0,
) -> DataFrame:
    """J7 route-variant <-> OSM-relation assignment.

    variants: (variant_id, centroid_lat, centroid_lon, stops
    array<struct<name string, lat double, lon double>>).
    osm_routes: (route_rel_id, centroid_lat2, centroid_lon2, stops2 same).
    Score = sum over variant stops of positional proximity when a
    name-equal OSM stop exists nearby / max(len(stops), len(stops2)); the
    takeover loop (a better variant steals a relation) is the same
    deferred-acceptance skeleton as the correlator.
    """
    from osmalyzer_spark.operators.correlator import deferred_acceptance
    from osmalyzer_spark.operators.knn import radius_join

    # cell-bucketed centroid prefilter: equi-join, never a crossJoin —
    # the 50 km gate stays semantically identical (radius_join is an
    # exact <=-radius filter after the cell-ring candidate join)
    pairs = radius_join(
        variants,
        osm_routes,
        centroid_prefilter_m,
        probe_coords=("centroid_lat", "centroid_lon"),
        build_coords=("centroid_lat2", "centroid_lon2"),
        dist_col="__centroid_dist_m",
    ).drop("__centroid_dist_m")
    # positional score, all native: for each variant stop i, the best
    # name-matched osm stop j contributes 1 - |i - j| / n; the total is
    # computed as an EXACT integer numerator S = sum_i max_j (n - |i-j|)
    # followed by ONE double division S / n^2 — algebraically identical,
    # and deterministic across engines (an order-dependent double
    # summation is not; a single IEEE division of exact integers is),
    # which is what lets the q33 oracle replay scores bit-for-bit
    n = F.greatest(F.size("stops"), F.size("stops2"))
    i_idx = F.sequence(F.lit(0), F.size("stops") - 1)
    per_stop = F.transform(
        i_idx,
        lambda i: F.coalesce(
            F.array_max(
                F.zip_with(
                    F.col("stops2"),
                    F.sequence(F.lit(0), F.size("stops2") - 1),
                    lambda s2, j: F.when(
                        s2["name"] == F.element_at(F.col("stops"), i + 1)["name"],
                        n - F.abs(i - j),
                    ).otherwise(F.lit(None).cast("int")),
                )
            ),
            F.lit(0),
        ),
    )
    score = (
        F.aggregate(per_stop, F.lit(0), lambda a, x: a + x).cast("double") / (n * n)
    )
    scored = (
        pairs.withColumn("score", score)
        .filter(F.col("score") > accept_score)
        .select("variant_id", "route_rel_id", "score")
    )
    holds, _ = deferred_acceptance(
        spark,
        scored.withColumn("neg_score", -F.col("score")),
        proposer="variant_id",
        acceptor="route_rel_id",
        proposer_order=[F.col("neg_score"), F.col("route_rel_id")],
        acceptor_order=[F.col("neg_score"), F.col("variant_id")],
    )
    return holds.select("variant_id", "route_rel_id", F.round("score", 4).alias("score"))
