"""Driver-contract queries: one entry per implemented operator family
(SURVEY.md §2), each with a DuckDB-runnable ANSI-SQL oracle.

The driver runs ``queries()[name](spark, sf_dir)`` against
``oracle_sql()[name]`` on the same parquet tables at sf=0.01 and compares
row count + schema + order-insensitive value hash. Doubles are therefore
rounded on BOTH sides and every computed column is aliased identically.

Spatial operators don't have native coordinates in the TPC-H-ish driver
tables, so both sides derive deterministic synthetic lat/lon from integer
keys with IDENTICAL arithmetic (shared SQL text; the Spark side applies it
via F.expr). A third of the points land in a dense "Riga" hotspot so the
cell join sees skew even here.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from osmalyzer_spark.geo.cells import cell_id_sql
from osmalyzer_spark.geo.distance import haversine_sql
from osmalyzer_spark.lineage import truncate
from osmalyzer_spark.operators.knn import closest_join, radius_join

# --------------------------------------------------------------------------
# shared synthetic-coordinate derivation (identical SQL text both engines)
# --------------------------------------------------------------------------


def synth_lat_sql(key: str) -> str:
    """Deterministic Latvia-extent latitude from an integer key; ~30% of
    keys cluster into the Riga hotspot (skew fixture)."""
    # e0-suffixed literals parse as DOUBLE in both Spark SQL and DuckDB
    # (bare 56.90 is DECIMAL in Spark SQL, which would poison downstream
    # aggregates into decimal arithmetic)
    return (
        f"(CASE WHEN ({key}) % 10 < 3 "
        f"THEN 56.90e0 + ((({key}) * 2654435761) % 100003) / 100003.0e0 * 0.10e0 "
        f"ELSE 55.60e0 + ((({key}) * 2654435761) % 1000003) / 1000003.0e0 * 2.50e0 END)"
    )


def synth_lon_sql(key: str) -> str:
    return (
        f"(CASE WHEN ({key}) % 10 < 3 "
        f"THEN 24.00e0 + ((({key}) * 40503) % 100019) / 100019.0e0 * 0.20e0 "
        f"ELSE 20.90e0 + ((({key}) * 40503) % 999983) / 999983.0e0 * 7.40e0 END)"
    )


def _geo_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return c.select(
        F.col("c_custkey").alias("elem_id"),
        F.expr(synth_lat_sql("c_custkey")).alias("elem_lat"),
        F.expr(synth_lon_sql("c_custkey")).alias("elem_lon"),
    )


def _geo_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    return s.select(
        F.col("s_suppkey").alias("item_id"),
        F.expr(synth_lat_sql("s_suppkey")).alias("item_lat"),
        F.expr(synth_lon_sql("s_suppkey")).alias("item_lon"),
    )


_GEO_CUST_SQL = (
    "SELECT c_custkey AS elem_id, {lat} AS elem_lat, {lon} AS elem_lon FROM customer"
).format(lat=synth_lat_sql("c_custkey"), lon=synth_lon_sql("c_custkey"))
_GEO_SUPP_SQL = (
    "SELECT s_suppkey AS item_id, {lat} AS item_lat, {lon} AS item_lon FROM supplier"
).format(lat=synth_lat_sql("s_suppkey"), lon=synth_lon_sql("s_suppkey"))

_PAIR_DIST_SQL = haversine_sql("i.item_lat", "i.item_lon", "c.elem_lat", "c.elem_lon")

# concave test polygon (lat, lon) — Latvia extent, non-convex (notch)
PIP_RING = [
    (56.2, 22.0),
    (56.2, 27.5),
    (57.8, 27.5),
    (57.8, 25.5),
    (56.8, 25.5),
    (56.8, 24.5),
    (57.8, 24.5),
    (57.8, 22.0),
]


def _pip_crossings_sql(lat: str, lon: str) -> str:
    """Hand-expanded ray-cast parity test for PIP_RING — the exact boundary
    conventions of the engine's ring_contains (OsmPolygon.cs:112-128)."""
    terms = []
    n = len(PIP_RING)
    for a in range(n):
        la, ga = PIP_RING[a]
        lb, gb = PIP_RING[a - 1]  # b = previous vertex, wrapping
        straddle = f"(({ga!r} < {lon} AND {gb!r} >= {lon}) OR ({gb!r} < {lon} AND {ga!r} >= {lon}))"
        cross_lat = f"({la!r} + ({lon} - {ga!r}) / ({gb!r} - {ga!r}) * ({lb!r} - {la!r}))"
        terms.append(f"(CASE WHEN {straddle} AND {cross_lat} < {lat} THEN 1 ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "it"]
_STOP_IN = ", ".join(f"'{w}'" for w in STOPWORDS)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _spread(df: DataFrame) -> DataFrame:
    """Spread an under-partitioned scan across the cluster BEFORE an
    expensive projection (per-ring geometry math runs serially when the
    source parquet is one small file — a single-task stage, the guide §2
    straggler shape). Only acts when the scan has fewer partitions than
    the cluster's cores: at scale the scan is already parallel and this
    is a no-op, so no extra shuffle is ever added there. The explicit
    partition count keeps AQE from coalescing the tiny exchange back to
    one task (results are row-local — partitioning cannot change them).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# --------------------------------------------------------------------------
# queries — Spark implementations
# --------------------------------------------------------------------------


def q01_pricing_summary(spark, sf_dir):
    """A9/§2.4 aggregations: partial-agg friendly groupBy (TPC-H Q1 shape)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def q02_json_filter(spark, sf_dir):
    """S8/§2.8 JSON + F5 predicates: extract props.k, filter, tally."""
    ev = _t(spark, sf_dir, "events")
    k = F.regexp_extract(F.col("props"), r'"k": (\d+)', 1).cast("long")
    return (
        ev.withColumn("k", k)
        .filter(F.col("k") >= 50)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("sum_k"))
    )


def q03_unique_values(spark, sf_dir):
    """A3 GetUniqueValues: distinct tag values."""
    return _t(spark, sf_dir, "customer").select(F.col("c_mktsegment").alias("segment")).distinct()


def q04_group_split_explode(spark, sf_dir):
    """A1 GroupByValues(split=True): ;/space-delimited value explode + group."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 50)
    )


def q05_topk_per_group(spark, sf_dir):
    """W5/O4 best-per-group ranking."""
    s = _t(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(F.col("s_acctbal").desc(), F.col("s_suppkey").asc())
    return (
        s.withColumn("rank_in_nation", F.row_number().over(w))
        .filter(F.col("rank_in_nation") <= 3)
        .select(
            F.col("s_nationkey").cast("long").alias("nationkey"),
            F.col("s_suppkey").alias("suppkey"),
            F.round("s_acctbal", 2).alias("acctbal"),
            "rank_in_nation",
        )
    )


def q06_anti_join(spark, sf_dir):
    """J5/SO1 subtract: customers with no order since 2003."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= F.lit("2003-01-01"))
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        F.col("c_custkey").alias("custkey")
    )


def q07_semi_join(spark, sf_dir):
    """Semi join: parts shipped after a date."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") >= F.lit("2001-06-01"))
    return p.join(li, p.p_partkey == li.l_partkey, "left_semi").select(
        F.col("p_partkey").alias("partkey"), F.col("p_brand").alias("brand")
    )


def _us(col: str):
    # events.ts is TIMESTAMP_NTZ; session TZ is UTC so the cast is lossless
    return F.unix_micros(F.col(col).cast("timestamp"))


def q08_lag_gap(spark, sf_dir):
    """W1 lag/lead: microsecond gap to the user's previous event."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return (
        ev.withColumn("prev_us", F.lag(_us("ts")).over(w))
        .filter(F.col("prev_us").isNotNull())
        .select(
            "event_id",
            "user_id",
            (_us("ts") - F.col("prev_us")).alias("gap_us"),
        )
    )


def q09_sessionize(spark, sf_dir):
    """W4 gaps-and-islands sessionization (30-min gap)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap = _us("ts") - F.lag(_us("ts")).over(w)
    new_sess = F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0)
    sess = F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        ev.withColumn("sess", sess)
        .groupBy("user_id")
        .agg(F.max("sess").alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
    )


def q10_knn_radius(spark, sf_dir):
    """J2 cell-bucketed kNN: nearest customer within 5 km per supplier."""
    items = _geo_suppliers(spark, sf_dir)
    elems = _geo_customers(spark, sf_dir)
    top1 = closest_join(
        items,
        elems,
        5000.0,
        probe_id="item_id",
        build_id="elem_id",
        probe_coords=("item_lat", "item_lon"),
        build_coords=("elem_lat", "elem_lon"),
        broadcast_probe=True,
    )
    return top1.select(
        F.col("item_id").alias("suppkey"),
        F.col("elem_id").alias("custkey"),
        F.round("dist_m", 3).alias("dist_m"),
    )


def q11_mutual_best(spark, sf_dir):
    """J4-lite: mutually-nearest supplier<->customer pairs within 5 km."""
    items = _geo_suppliers(spark, sf_dir)
    elems = _geo_customers(spark, sf_dir)
    pairs = radius_join(
        items,
        elems,
        5000.0,
        probe_coords=("item_lat", "item_lon"),
        build_coords=("elem_lat", "elem_lon"),
        broadcast_probe=True,
    )
    wi = Window.partitionBy("item_id").orderBy(F.col("dist_m").asc(), F.col("elem_id").asc())
    we = Window.partitionBy("elem_id").orderBy(F.col("dist_m").asc(), F.col("item_id").asc())
    return (
        pairs.withColumn("ri", F.row_number().over(wi))
        .withColumn("re", F.row_number().over(we))
        .filter((F.col("ri") == 1) & (F.col("re") == 1))
        .select(
            F.col("item_id").alias("suppkey"),
            F.col("elem_id").alias("custkey"),
            F.round("dist_m", 3).alias("dist_m"),
        )
    )


def q12_point_in_polygon(spark, sf_dir):
    """J3 PIP: customers inside the concave PIP_RING (vectorized ray cast)."""
    import numpy as np

    from osmalyzer_spark.geo.polygon import Polygon, contains_expr

    poly = Polygon(outers=[np.array(PIP_RING, dtype=float)], polygon_id="test")
    elems = _geo_customers(spark, sf_dir)
    return (
        elems.withColumn("inside", contains_expr(poly, "elem_lat", "elem_lon"))
        .filter(F.col("inside"))
        .select(F.col("elem_id").alias("custkey"))
    )


def q13_tile_assignment(spark, sf_dir):
    """Tiles: slippy-map tile ids at zoom 12 + per-tile counts."""
    z = 12
    n = 1 << z
    elems = _geo_customers(spark, sf_dir)
    lat_r = F.radians("elem_lat")
    xtile = F.floor((F.col("elem_lon") + 180.0) / 360.0 * n).cast("long")
    ytile = F.floor(
        (1.0 - F.log(F.tan(lat_r) + 1.0 / F.cos(lat_r)) / F.lit(3.141592653589793)) / 2.0 * n
    ).cast("long")
    return (
        elems.withColumn("tile_x", xtile)
        .withColumn("tile_y", ytile)
        .groupBy("tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


def q14_centroid(spark, sf_dir):
    """A4 average coordinate per group."""
    c = _t(spark, sf_dir, "customer")
    geo = c.select(
        F.col("c_nationkey").cast("long").alias("nationkey"),
        F.expr(synth_lat_sql("c_custkey")).alias("lat"),
        F.expr(synth_lon_sql("c_custkey")).alias("lon"),
    )
    # round(4): avg() is float-summation-order dependent; 1e-4 deg (~10 m)
    # leaves ample margin over the ~1e-12 partial-agg ordering noise
    return geo.groupBy("nationkey").agg(
        F.round(F.avg("lat"), 4).alias("centroid_lat"),
        F.round(F.avg("lon"), 4).alias("centroid_lon"),
        F.count(F.lit(1)).alias("n"),
    )


def q15_dedup_tokenset(spark, sf_dir):
    """Dedup (exact, normalized): md5 fingerprint over the sorted distinct
    token set; groups sharing a fingerprint are duplicates."""
    docs = _t(spark, sf_dir, "documents")
    fp = F.md5(
        F.concat_ws(
            "\x1f", F.array_sort(F.array_distinct(F.split(F.col("text"), " ")))
        )
    )
    return (
        docs.withColumn("fingerprint", fp)
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


def q16_ngram_jaccard(spark, sf_dir):
    """Near-dup: exact token-set Jaccard >= 0.6 pairs via the
    inverted-index operator (size-band prefilter preserves semantics)."""
    from osmalyzer_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.6)


def q17_cosine_topk(spark, sf_dir):
    """Similarity search: brute-force cosine top-3 neighbors for probe
    vectors (vec_id < 20), JVM-side fold (no UDF)."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    probes = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("probe_id"), F.col("v").alias("pv")
    )
    cand = emb.select(F.col("vec_id").alias("cand_id"), F.col("v").alias("cv"))
    dot = F.aggregate(
        F.zip_with("pv", "cv", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    norm = lambda c: F.sqrt(F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))  # noqa: E731
    pairs = (
        cand.join(F.broadcast(probes), F.col("probe_id") != F.col("cand_id"))
        .withColumn("cosine", dot / (norm(F.col("pv")) * norm(F.col("cv"))))
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cosine").desc(), F.col("cand_id").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("probe_id", "cand_id", F.round("cosine", 6).alias("cosine"), "rank")
    )


def q18_text_quality(spark, sf_dir):
    """Text quality scoring: token counts + stopword ratio per document."""
    docs = _t(spark, sf_dir, "documents")
    words = F.filter(F.split("text", " "), lambda w: w != "")
    n_tok = F.size(words)
    n_stop = F.size(F.filter(words, lambda w: w.isin(STOPWORDS)))
    return docs.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        n_stop.cast("long").alias("n_stop"),
        F.round(n_stop / n_tok, 4).alias("stop_ratio"),
        F.length("text").cast("long").alias("n_chars_real"),
    )


def q19_lang_guess(spark, sf_dir):
    """Language-ID heuristic: stopword-hit threshold."""
    docs = _t(spark, sf_dir, "documents")
    words = F.filter(F.split("text", " "), lambda w: w != "")
    n_stop = F.size(F.filter(words, lambda w: w.isin(STOPWORDS)))
    return docs.select(
        "doc_id",
        F.when(n_stop >= 3, F.lit("en")).otherwise(F.lit("other")).alias("guess"),
        "lang",
    )


def q21_minhash_lsh(spark, sf_dir):
    """Dedup scale path: MinHash(128)+LSH(32 bands) near-dup candidate
    pairs with signature-estimated jaccard >= 0.5. Oracle: SQL replay of
    the identical md5-shingle + multiply-shift family, band-collision +
    estimate filter over the brute-force pair join; pytest additionally
    verifies estimates against exact shingle jaccard."""
    from osmalyzer_spark.operators.dedup import minhash_dedup

    docs = _t(spark, sf_dir, "documents")
    return minhash_dedup(docs, "doc_id", "text", threshold=0.5, num_hashes=128, bands=32)


def q22_simhash(spark, sf_dir):
    """Dedup: 64-bit SimHash fingerprints (md5-lower-64 token hash), the
    COMPLETE near-pair set at hamming <= 3 via 4x16-bit band buckets
    (pigeonhole: bands >= max_hamming+1, enforced) + native bit_count
    verify. hamming<=3 on 64 bits is the scale-sane operating point: 16-bit
    bands have 65536 bucket values, so collision counts stay linear; wider
    hamming thresholds need narrower bands whose bucket collisions grow
    quadratically (the operator supports them, callers pay knowingly).
    Oracle: brute-force O(n^2) bit_count(xor) over SQL-recomputed
    fingerprints."""
    from osmalyzer_spark.operators.dedup import simhash_fingerprints, simhash_near_pairs

    docs = _t(spark, sf_dir, "documents")
    return simhash_near_pairs(
        simhash_fingerprints(docs, "doc_id", "text"), max_hamming=3, bands=4
    ).withColumnRenamed("id_a", "doc_a").withColumnRenamed("id_b", "doc_b")


def q23_embedding_near_dup(spark, sf_dir):
    """Dedup tier 4: embedding-cosine near-dup pairs via hyperplane LSH
    buckets + exact verify. Threshold 0.4 because the synthetic embeddings
    have no true dups (max pairwise cosine ~0.51) — the operator still
    exercises bucket-join + rerank end to end. Oracle: SQL replay of the
    integer-quantized plane signatures + bucket join + exact cosine."""
    from osmalyzer_spark.operators.similarity import embedding_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, threshold=0.4)


def q24_cosine_lsh(spark, sf_dir):
    """ANN scale path: LSH-bucketed cosine top-3 for probes vec_id < 20
    (recall checked against q17's exact answer in pytest). Oracle: SQL
    replay of the quantized signatures + multi-table bucket join."""
    from osmalyzer_spark.operators.similarity import cosine_topk_lsh

    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 20)
    return cosine_topk_lsh(emb, probes, k=3, n_planes=10, n_tables=4)


def q25_tile_region(spark, sf_dir):
    """Raster-tile<->vector assignment (north_star): zoom-12 tile id +
    inside/outside the concave PIP_RING region, per-tile-region counts."""
    import numpy as np

    from osmalyzer_spark.geo.polygon import Polygon, contains_expr
    from osmalyzer_spark.operators.tiles import assign_tiles

    poly = Polygon(outers=[np.array(PIP_RING, dtype=float)], polygon_id="region")
    elems = _geo_customers(spark, sf_dir)
    assigned = assign_tiles(elems, zoom=12, lat="elem_lat", lon="elem_lon")
    return (
        assigned.withColumn("in_region", contains_expr(poly, "elem_lat", "elem_lon"))
        .groupBy("tile_x", "tile_y", "in_region")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


def q26_sharp_angles(spark, sf_dir):
    """W3 consecutive-segment angles: treat each user's event sequence as a
    polyline over synthetic coords; flag interior angles < 60 deg."""
    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        "user_id",
        "event_id",
        F.expr(synth_lat_sql("event_id")).alias("lat"),
        F.expr(synth_lon_sql("event_id")).alias("lon"),
    )
    w = Window.partitionBy("user_id").orderBy("event_id")
    t = (
        pts.withColumn("plat", F.lag("lat").over(w))
        .withColumn("plon", F.lag("lon").over(w))
        .withColumn("nlat", F.lead("lat").over(w))
        .withColumn("nlon", F.lead("lon").over(w))
        .filter(F.col("plat").isNotNull() & F.col("nlat").isNotNull())
    )
    from osmalyzer_spark.geo.distance import angle_between_segments_deg

    angle = angle_between_segments_deg("plat", "plon", "lat", "lon", "nlat", "nlon")
    return (
        t.withColumn("angle_deg", F.round(angle, 3))
        .filter(F.col("angle_deg") < 60.0)
        .select("user_id", "event_id", "angle_deg")
    )


def q27_correlator(spark, sf_dir):
    """J4 flagship: full correlator over synthetic geo views (suppliers as
    items, customers as elements). Fully hash-verified: the oracle replays
    synchronous Gale-Shapley as a recursive CTE (valid because the DA
    fixed point is order-independent); pytest additionally checks the
    sequential oracle on randomized fixtures (tests/test_correlator.py)."""
    from osmalyzer_spark.operators.correlator import CorrelatorParams, correlate

    elements = _geo_customers(spark, sf_dir).withColumn(
        "elem_tag", (F.col("elem_id") % 7).cast("string")
    )
    items = _geo_suppliers(spark, sf_dir).withColumn(
        "item_tag", (F.col("item_id") % 7).cast("string")
    )
    params = CorrelatorParams(
        match_distance=150.0,
        unmatch_distance=1500.0,
        strong_extra_distance=3000.0,
        strength_expr=lambda df: F.when(
            F.col("item_tag") == F.col("elem_tag"), F.lit(3)
        ).otherwise(F.lit(1)),
        lone_allowance_expr=lambda df: F.col("elem_id") % 11 == 0,
    )
    res = correlate(spark, elements, items, params)
    # typed sentinels instead of NULLs: the driver's value hasher stringifies
    # None/NaN differently between the Spark and DuckDB pandas frames
    return res.correlations.select(
        "kind",
        F.coalesce("osm_id", F.lit(-1)).alias("osm_id"),
        F.coalesce(F.col("item_id").cast("long"), F.lit(-1)).alias("item_id"),
        F.round(F.coalesce("distance", F.lit(-1.0)), 3).alias("distance"),
        F.coalesce("strength", F.lit(0)).alias("strength"),
        F.coalesce("far", F.lit(False)).alias("far"),
    )


def q28_clean_corpus(spark, sf_dir):
    """Training-data composite: quality gate -> exact dedup -> MinHash
    near-dup collapse, reported as per-stage row counts. Fully
    hash-verified: the oracle replays every stage in SQL, including the
    md5/multiply-shift hash family and the reachability-closure connected
    components."""
    from osmalyzer_spark.plans.pipeline import clean_corpus

    docs = _t(spark, sf_dir, "documents")
    _, report = clean_corpus(spark, docs, min_quality=0.4, neardup_threshold=0.6)
    return spark.createDataFrame(report.as_rows(), "stage string, n_docs long")


# shared synthetic-address derivation for q29 (identical SQL text in both
# engines): 5 template variants exercise street+number parsing, locative
# suffix fixing, quoted house names, the house/street ambiguity fallback,
# known-vocabulary city/parish hits, and postcode cleaning.
_ADDR_STEM_SQL = (
    "(CASE (c_custkey) % 7 WHEN 0 THEN 'Ozolu' WHEN 1 THEN 'Liepu' "
    "WHEN 2 THEN 'Skolas' WHEN 3 THEN 'Dzirnavu' WHEN 4 THEN 'Upes' "
    "WHEN 5 THEN 'Kalna' ELSE 'Vidus' END)"
)
_ADDR_N_SQL = "CAST((c_custkey) % 89 + 1 AS STRING)"
_ADDR_U_SQL = "CAST((c_custkey) % 9 + 1 AS STRING)"
_ADDR_P_SQL = "CAST(1000 + (c_custkey) % 9000 AS STRING)"
_ADDR_SQL = f"""(CASE (c_custkey) % 5
    WHEN 0 THEN {_ADDR_STEM_SQL} || ' iela ' || {_ADDR_N_SQL} || ', Rīga, LV-' || {_ADDR_P_SQL}
    WHEN 1 THEN {_ADDR_STEM_SQL} || ' ielā ' || {_ADDR_N_SQL} || 'A, Valmiera'
    WHEN 2 THEN '"' || {_ADDR_STEM_SQL} || 'muiža", Brenguļu pagasts'
    WHEN 3 THEN {_ADDR_STEM_SQL} || ' ' || {_ADDR_N_SQL} || ', Ludza'
    ELSE {_ADDR_STEM_SQL} || ' iela ' || {_ADDR_N_SQL} || '-' || {_ADDR_U_SQL}
         || ', Ornitoloģijas novads, ' || {_ADDR_P_SQL}
    END)"""


def q29_fuzzy_parse(spark, sf_dir):
    """J9 fuzzy-address parser over synthetic template addresses: the REAL
    confidence-lattice parser runs in Spark; the oracle predicts its
    output per template in SQL — a differential test of parsing, suffix
    fixing, ambiguity fallbacks, vocabulary hits, and postcode cleaning
    (reference: FuzzyAddressParser.cs)."""
    from osmalyzer_spark.functions.fuzzy_address import parse_addresses

    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("addr_id"), F.expr(_ADDR_SQL).alias("addr")
    )
    parts = parse_addresses(c, "addr_id", "addr")
    return parts.select(
        F.col("addr_id").alias("custkey"),
        "part_type",
        "part_index",
        "confidence",
        F.coalesce("value", F.lit("")).alias("value"),
        F.coalesce("street", F.lit("")).alias("street"),
        F.coalesce("number", F.lit("")).alias("number"),
        F.coalesce("unit", F.lit("")).alias("unit"),
        "is_fallback",
    )


# synthetic addressables for q30 (from supplier; identical SQL in both
# engines — same stem vocabulary as _ADDR_SQL so joins actually hit)
_A_STEM_SQL = _ADDR_STEM_SQL.replace("c_custkey", "s_suppkey")
_A_N_SQL = _ADDR_N_SQL.replace("c_custkey", "s_suppkey")
_A_U_SQL = _ADDR_U_SQL.replace("c_custkey", "s_suppkey")
_A_P_SQL = _ADDR_P_SQL.replace("c_custkey", "s_suppkey")
_ADDRESSABLE_COLS_SQL = {
    "house_name": f"(CASE WHEN (s_suppkey) % 4 = 0 THEN {_A_STEM_SQL} || 'muiža' ELSE NULL END)",
    "street": f"(CASE WHEN (s_suppkey) % 4 <> 0 THEN {_A_STEM_SQL} || ' iela' ELSE NULL END)",
    "number": f"(CASE WHEN (s_suppkey) % 4 <> 0 THEN {_A_N_SQL} ELSE NULL END)",
    "unit": f"(CASE WHEN (s_suppkey) % 4 <> 0 THEN {_A_U_SQL} ELSE NULL END)",
    "city": "(CASE (s_suppkey) % 3 WHEN 0 THEN 'Rīga' WHEN 1 THEN 'Valmiera' ELSE 'Ludza' END)",
    "parish": "(CASE WHEN (s_suppkey) % 5 = 2 THEN 'Brenguļu pagasts' ELSE NULL END)",
    "municipality": "(CASE WHEN (s_suppkey) % 6 = 1 THEN 'Ornitoloģijas novads' ELSE NULL END)",
    "postcode": f"('LV-' || {_A_P_SQL})",
}


def q30_fuzzy_geocode(spark, sf_dir):
    """J9 complete: freeform addresses (real parser) geocoded against a
    synthetic addressables table via the distributed equi-join finder
    (reference: FuzzyAddressFinder.cs). Oracle re-implements candidate
    scoring + region-tier preference + tied-winner averaging in SQL."""
    from osmalyzer_spark.functions.fuzzy_address import fuzzy_geocode, parse_addresses

    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("addr_id"), F.expr(_ADDR_SQL).alias("addr")
    )
    parsed = parse_addresses(c, "addr_id", "addr")
    s = _t(spark, sf_dir, "supplier")
    addressables = s.select(
        F.col("s_suppkey").alias("elem_id"),
        F.expr(synth_lat_sql("s_suppkey")).alias("lat"),
        F.expr(synth_lon_sql("s_suppkey")).alias("lon"),
        *[F.expr(sql).alias(name) for name, sql in _ADDRESSABLE_COLS_SQL.items()],
        F.lit(None).cast("string").alias("old_house_name"),
        F.lit(None).cast("string").alias("old_street"),
        F.lit(None).cast("string").alias("old_number"),
        F.lit(None).cast("string").alias("old_unit"),
    )
    out = fuzzy_geocode(parsed, addressables)
    return out.select(
        F.col("addr_id").alias("custkey"),
        F.round("lat", 4).alias("lat"),
        F.round("lon", 4).alias("lon"),
        F.col("score").cast("int").alias("score"),
        "n_tied",
    )


def q33_pt_pipeline(spark, sf_dir):
    """End-to-end PublicTransportAnalyzer composite (J7 + J8 + W2 + stop
    name cleaning; PublicTransportAnalyzer.cs:333-669): synthetic GTFS
    route variants and OSM route relations derive deterministically from
    customer (25 routes of up-to-10 stops each); OSM stop names carry the
    reference's real-world decorations (quotes, case changes, trailing
    "(...)" qualifiers, plus every 3rd stop renamed entirely) which
    clean_stop_name canonicalizes; score_route_matches assigns variants
    to relations (cell-bucketed centroid prefilter + exact-integer
    positional score + the shared deferred-acceptance takeover loop), and
    stop_gap_pairs repairs each unmatched OSM stop against the GTFS
    successor of its previous matched stop. One row per matched relation:
    (route_rel_id, variant_id, score, n_gap_repairs)."""
    from pyspark.sql import Window

    from osmalyzer_spark.sources.gtfs import (
        clean_stop_name,
        score_route_matches,
        stop_gap_pairs,
    )

    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("grp").orderBy("c_custkey")
    # four consumers (variant/relation sides, gtfs/osm position tables):
    # plan and evaluate the windowed base once
    base = truncate(
        cust.select("c_custkey", (F.col("c_custkey") % 25).alias("grp"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .withColumn("i", (F.col("rn") - 1).cast("int"))
        .withColumn("gname", F.concat(F.lit("Stop "), F.col("c_custkey") % 40))
        .withColumn("glat", F.lit(56.5) + (F.col("c_custkey") * 7 % 1000) / F.lit(1e4))
        .withColumn("glon", F.lit(24.0) + (F.col("c_custkey") * 13 % 1000) / F.lit(1e4))
        .withColumn(
            "oname",
            F.when(
                F.col("i") % 3 == 1, F.concat(F.lit("X-"), F.col("c_custkey"))
            ).otherwise(
                F.concat(F.lit('"'), F.upper("gname"), F.lit('" (centrs)'))
            ),
        )
        .withColumn("olat", F.col("glat") + F.lit(1.5e-4))
        .withColumn("olon", F.col("glon"))
    )

    def side(name_col, lat_col, lon_col, id_off, prefix):
        stops = F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("i"),
                        clean_stop_name(F.col(name_col)).alias("name"),
                        F.col(lat_col).alias("lat"),
                        F.col(lon_col).alias("lon"),
                    )
                )
            ),
            lambda s: F.struct(
                s["name"].alias("name"), s["lat"].alias("lat"), s["lon"].alias("lon")
            ),
        )
        return base.groupBy("grp").agg(
            stops.alias(f"{prefix}stops"),
            F.avg(lat_col).alias(f"{prefix}clat"),
            F.avg(lon_col).alias(f"{prefix}clon"),
        ).select(
            (F.col("grp") + id_off).alias(f"{prefix}id"),
            f"{prefix}clat", f"{prefix}clon", f"{prefix}stops",
        )

    variants = side("gname", "glat", "glon", 0, "v_").selectExpr(
        "v_id as variant_id", "v_clat as centroid_lat",
        "v_clon as centroid_lon", "v_stops as stops",
    )
    relations = side("oname", "olat", "olon", 1000, "r_").selectExpr(
        "r_id as route_rel_id", "r_clat as centroid_lat2",
        "r_clon as centroid_lon2", "r_stops as stops2",
    )
    # route_stops join + final output join
    matched = truncate(score_route_matches(spark, variants, relations, accept_score=0.4))

    gtfs_pos = base.select(
        F.col("grp").alias("variant_id"), "i",
        clean_stop_name("gname").alias("gcname"),
        F.col("glat").alias("gtfs_lat"), F.col("glon").alias("gtfs_lon"),
        F.col("c_custkey").alias("gtfs_stop_id"),
    )
    osm_pos = base.select(
        (F.col("grp") + 1000).alias("route_rel_id"), F.col("i").alias("oi"),
        clean_stop_name("oname").alias("ocname"),
        F.col("olat").alias("osm_lat"), F.col("olon").alias("osm_lon"),
        (F.col("c_custkey") + 500000).alias("osm_stop_id"),
    )
    route_stops = (
        matched.join(osm_pos, "route_rel_id")
        .join(
            gtfs_pos.withColumnRenamed("i", "oi"),
            ["variant_id", "oi"],
        )
        .select(
            F.col("route_rel_id").alias("route_id"),
            F.col("oi").alias("seq"),
            "osm_stop_id", "osm_lat", "osm_lon",
            "gtfs_stop_id", "gtfs_lat", "gtfs_lon",
            (F.col("ocname") == F.col("gcname")).alias("matched"),
        )
    )
    gaps = stop_gap_pairs(route_stops, max_gap_m=70.0)
    gap_counts = gaps.groupBy("route_id").agg(
        F.count(F.lit(1)).alias("n_gap_repairs")
    )
    return (
        matched.join(
            gap_counts, matched["route_rel_id"] == gap_counts["route_id"], "left"
        )
        .select(
            "route_rel_id", "variant_id",
            F.round("score", 4).alias("score"),
            F.coalesce("n_gap_repairs", F.lit(0)).cast("long").alias("n_gap_repairs"),
        )
    )


def q32_ivf_ann(spark, sf_dir):
    """ANN scale path 2 (IVF): deterministic coarse-quantizer buckets
    (exact integer-quantized L2 assignment) + nprobe list search + exact
    cosine rerank; oracle replays the assignment and search in SQL."""
    from osmalyzer_spark.operators.similarity import cosine_topk_ivf

    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 20)
    return cosine_topk_ivf(emb, probes, k=3, n_centroids=16, nprobe=3)


def q31_opening_hours(spark, sf_dir):
    """W4 real semantics: merge sequential same-time weekday lines into
    day ranges (OsmOpeningHoursHelper.cs) — native F.aggregate fold over
    template-derived line arrays; oracle enumerates the expected merge
    per template."""
    from osmalyzer_spark.functions.opening_hours import merge_weekday_lines

    c = _t(spark, sf_dir, "customer")
    h = F.concat(
        F.lit("08:00-"), ((F.col("c_custkey") % 8) + 10).cast("string"), F.lit(":00")
    )
    t = F.col("c_custkey") % 6
    lines = (
        F.when(t == 0, F.array(
            F.concat(F.lit("Mo "), h), F.concat(F.lit("Tu "), h), F.concat(F.lit("We "), h)
        ))
        .when(t == 1, F.array(
            F.lit("Tu 08:00-12:00"), F.lit("We 09:00-13:00"), F.lit("Th 09:00-13:00")
        ))
        .when(t == 2, F.array(F.lit("Sa Off"), F.lit("Su Off")))
        .when(t == 3, F.array(
            F.lit("Sep-May Mo 08:00-12:00"), F.lit("Sep-May Tu 08:00-12:00")
        ))
        .when(t == 4, F.array(
            F.concat(F.lit("Mo-Tu "), h), F.concat(F.lit("We "), h), F.concat(F.lit("Fr "), h)
        ))
        .otherwise(F.array(F.lit("Tu 08:00-12:00"), F.lit("Th 08:00-12:00")))
    )
    merged = c.select(
        F.col("c_custkey").alias("custkey"), merge_weekday_lines(lines).alias("m")
    )
    return merged.select("custkey", F.posexplode("m").alias("pos", "line"))


def q20_route_variants(spark, sf_dir):
    """A8 route-variant extraction: group identical ordered event-type
    sequences (events as GTFS stop_times analog)."""
    ev = _t(spark, sf_dir, "events")
    seq = (
        ev.groupBy("user_id")
        .agg(
            F.concat_ws(
                "|",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
            ).alias("type_seq")
        )
    )
    return seq.groupBy("type_seq").agg(F.count(F.lit(1)).alias("n_users"))


# --------------------------------------------------------------------------
# DuckDB oracle SQL
# --------------------------------------------------------------------------


def _minhash_oracle_sql(
    num_hashes: int = 128,
    bands: int = 32,
    shingle_k: int = 3,
    threshold: float = 0.5,
    seed: int = 7,
    src: str = "documents",
) -> str:
    """Replays minhash_dedup exactly in SQL: md5-lower-64 shingle hashes,
    the identical multiply-shift (A,B) family (embedded as literals;
    wrap-around uint64 multiply done as split hi/lo HUGEINT arithmetic),
    band collision (a fully-equal signature slice) + estimated-jaccard
    filter over the brute-force pair join."""
    from osmalyzer_spark.operators.dedup import minhash_params

    A, B = minhash_params(num_hashes, seed)
    vals = ", ".join(
        f"({i}, {int(a) >> 32}::HUGEINT, {int(a) & 0xFFFFFFFF}::HUGEINT, {int(b)}::HUGEINT)"
        for i, (a, b) in enumerate(zip(A, B))
    )
    r = num_hashes // bands
    pads = ", ".join(f"coalesce(words[{j + 1}], '')" for j in range(shingle_k))
    return f"""
        WITH perms(pi, pa_hi, pa_lo, pb) AS (VALUES {vals}),
        w AS (
          SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS words
          FROM {src}
        ),
        sh AS (
          SELECT DISTINCT doc_id, CAST(md5_number_lower(
            CASE WHEN len(words) >= {shingle_k}
                 THEN list_aggregate(words[si:si+{shingle_k - 1}], 'string_agg', ' ')
                 ELSE concat_ws(' ', {pads}) END) AS HUGEINT) AS h
          FROM w, (SELECT unnest(range(1, 1000000)) AS si) g
          WHERE si <= greatest(len(words) - {shingle_k - 1}, 1)
        ),
        sigs AS MATERIALIZED (
          SELECT doc_id, pi,
                 min(CAST((((pa_hi * h) % 4294967296 * 4294967296 + pa_lo * h + pb)
                           % 18446744073709551616) // 2 AS BIGINT)) AS v
          FROM sh, perms GROUP BY doc_id, pi
        ),
        bandvals AS MATERIALIZED (
          SELECT doc_id, pi // {r} AS band, list(v ORDER BY pi) AS bv
          FROM sigs GROUP BY doc_id, pi // {r}
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bandvals a JOIN bandvals b
            ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
        ),
        eq AS (
          SELECT c.id_a, c.id_b,
                 sum(CASE WHEN sa.v = sb.v THEN 1 ELSE 0 END) AS n_eq
          FROM cand c
          JOIN sigs sa ON sa.doc_id = c.id_a
          JOIN sigs sb ON sb.doc_id = c.id_b AND sb.pi = sa.pi
          GROUP BY 1, 2
        )
        SELECT id_a, id_b, round(n_eq / {float(num_hashes)!r}, 4) AS est_jaccard
        FROM eq
        WHERE n_eq / {float(num_hashes)!r} >= {threshold!r}
    """


_EMB_DIM = 64  # driver testdata embeddings dimension


def _hyperplane_keys_sql(
    qvec: str, n_planes: int, dim: int, seed: int, n_tables: int
) -> list[str]:
    """One bucket-key expression per LSH table over a quantized int64
    vector column — the exact integer arithmetic of
    similarity.hyperplane_signatures_col (same planes, same sign rule)."""
    from osmalyzer_spark.operators.similarity import hyperplane_planes

    keys = []
    for t in range(n_tables):
        planes = hyperplane_planes(n_planes, dim, seed, t)
        terms = []
        for j in range(n_planes):
            dot = " + ".join(
                ("-" if planes[j, i] < 0 else "") + f"{qvec}[{i + 1}]"
                for i in range(dim)
            )
            terms.append(f"(CASE WHEN ({dot}) > 0 THEN {1 << j} ELSE 0 END)")
        keys.append("(" + " + ".join(terms) + ")")
    return keys


def _quantized_emb_cte() -> str:
    return """
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0e0) AS BIGINT)) AS qv
        FROM embeddings
    """


def _embedding_near_dup_oracle_sql(
    threshold: float, n_planes: int, n_tables: int, seed: int
) -> str:
    keys = _hyperplane_keys_sql("qv", n_planes, _EMB_DIM, seed, n_tables)
    sel = ", ".join(f"{k} AS k{t}" for t, k in enumerate(keys))
    coll = " OR ".join(f"a.k{t} = b.k{t}" for t in range(n_tables))
    return f"""
        WITH q AS ({_quantized_emb_cte()}),
        s AS (SELECT vec_id, v, {sel} FROM q),
        pairs AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
          FROM s a JOIN s b ON a.vec_id < b.vec_id AND ({coll})
        )
        SELECT id_a, id_b, round(cos, 6) AS cosine FROM pairs WHERE cos >= {threshold!r}
    """


def _cosine_lsh_oracle_sql(
    k: int, n_planes: int, n_tables: int, seed: int, probe_pred: str
) -> str:
    keys = _hyperplane_keys_sql("qv", n_planes, _EMB_DIM, seed, n_tables)
    sel = ", ".join(f"{kx} AS k{t}" for t, kx in enumerate(keys))
    coll = " OR ".join(f"p.k{t} = c.k{t}" for t in range(n_tables))
    return f"""
        WITH q AS ({_quantized_emb_cte()}),
        s AS (SELECT vec_id, v, {sel} FROM q),
        pairs AS (
          SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
                 list_dot_product(p.v, c.v)
                   / (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
          FROM s p JOIN s c ON p.vec_id <> c.vec_id AND ({coll})
          WHERE p.{probe_pred}
        ), ranked AS (
          SELECT probe_id, cand_id, cos,
                 row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id ASC) AS rank
          FROM pairs
        )
        SELECT probe_id, cand_id, round(cos, 6) AS cosine, rank
        FROM ranked WHERE rank <= {k}
    """


def _clean_corpus_oracle_sql(
    min_quality: float = 0.4,
    neardup_threshold: float = 0.6,
    num_hashes: int = 128,
    bands: int = 32,
) -> str:
    """Replays plans.pipeline.clean_corpus stage by stage: the quality
    score (textstats.quality_score arithmetic verbatim), exact token-set
    dedup group keepers, the minhash near-dup pairs (shared generator,
    src=exact_docs), and connected components as a recursive reachability
    closure (UNION-dedup recursion; min root id per node == the engine's
    min-label propagation fixed point)."""
    minhash_q = _minhash_oracle_sql(
        num_hashes, bands, 3, neardup_threshold, 7, src="exact_docs"
    )
    return f"""
        WITH RECURSIVE
        q_words AS (
          SELECT doc_id, text,
                 list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS words
          FROM documents
        ),
        q_stats AS (
          SELECT doc_id, text, words, len(words) AS n,
                 CASE WHEN len(words) > 0
                      THEN list_sum(list_transform(words, w -> length(w))) / len(words)
                      ELSE 0.0e0 END AS mean_len,
                 CASE WHEN len(words) > 0
                      THEN len(list_filter(words, w -> lower(w) IN ({_STOP_IN}))) / len(words)
                      ELSE 0.0e0 END AS stop_r,
                 CASE WHEN length(text) > 0
                      THEN length(regexp_replace(text, '[^.,;:!?]', '', 'g')) / length(text)
                      ELSE 0.0e0 END AS punct_r
          FROM q_words
        ),
        quality AS (
          SELECT doc_id, text, words,
                 round(0.3e0 * (CASE WHEN n >= 10 AND n <= 100000 THEN 1.0e0 ELSE 0.3e0 END)
                     + 0.2e0 * (CASE WHEN mean_len >= 2.5e0 AND mean_len <= 12.0e0 THEN 1.0e0 ELSE 0.4e0 END)
                     + 0.3e0 * (CASE WHEN stop_r >= 0.01e0 THEN 1.0e0 ELSE 0.5e0 END)
                     + 0.2e0 * (CASE WHEN punct_r <= 0.2e0 THEN 1.0e0 ELSE 0.4e0 END), 4) AS quality
          FROM q_stats
        ),
        quality_docs AS MATERIALIZED (
          SELECT doc_id, text, words FROM quality WHERE quality >= {min_quality!r}
        ),
        grouped AS (
          SELECT list_sort(list_distinct(words)) AS toks, min(doc_id) AS keep_id
          FROM quality_docs GROUP BY 1
        ),
        exact_docs AS MATERIALIZED (
          SELECT q.doc_id, q.text FROM quality_docs q
          JOIN grouped g ON q.doc_id = g.keep_id
        ),
        mh_pairs AS MATERIALIZED ({minhash_q}),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM mh_pairs
          UNION ALL SELECT id_b, id_a FROM mh_pairs
        ),
        reach AS (
          SELECT src AS node, src AS root FROM edges
          UNION
          SELECT e.dst AS node, r.root FROM reach r JOIN edges e ON e.src = r.node
        ),
        comp AS MATERIALIZED (SELECT node, min(root) AS component FROM reach GROUP BY node),
        counts AS MATERIALIZED (
          SELECT (SELECT count(*) FROM documents) AS n_input,
                 (SELECT count(*) FROM quality_docs) AS n_quality,
                 (SELECT count(*) FROM exact_docs) AS n_exact,
                 (SELECT count(*) FROM exact_docs)
                   - (SELECT count(*) FROM comp WHERE component < node) AS n_final
        )
        SELECT 'input' AS stage, CAST(n_input AS BIGINT) AS n_docs FROM counts
        UNION ALL SELECT 'after_quality', CAST(n_quality AS BIGINT) FROM counts
        UNION ALL SELECT 'after_exact_dedup', CAST(n_exact AS BIGINT) FROM counts
        UNION ALL SELECT 'after_neardup', CAST(n_final AS BIGINT) FROM counts
    """


def _clean_name_sql(x: str) -> str:
    """DuckDB replay of gtfs.clean_stop_name (RE2-compatible by design)."""
    c = f"lower({x})"
    c = f"regexp_replace({c}, '\\s{{2,}}', ' ', 'g')"
    c = f"regexp_replace({c}, ' \\([^()]+\\)$', '')"
    c = f"regexp_replace({c}, ' \\[[^\\[\\]]+\\]$', '')"
    c = f"replace({c}, '\"', '')"
    c = f"regexp_replace({c}, '([./-])', ' \\1 ', 'g')"
    return f"regexp_replace({c}, '\\s{{2,}}', ' ', 'g')"


def _q33_oracle_sql() -> str:
    """Replays the whole PT composite: synthesis, name cleaning, centroid
    prefilter, the exact-integer positional score (one IEEE division —
    bit-equal to Spark), the GS takeover loop as a recursive CTE (q27's
    template with score-descending preferences), and the gap repair."""
    cent_dist = haversine_sql("vc.clat", "vc.clon", "oc.clat2", "oc.clon2")
    gap_dist = haversine_sql("p.olat", "p.olon", "nxt.glat", "nxt.glon")
    return f"""
        WITH RECURSIVE ranked AS (
          SELECT c_custkey, c_custkey % 25 AS grp,
                 row_number() OVER (PARTITION BY c_custkey % 25 ORDER BY c_custkey) - 1 AS i
          FROM customer
        ), base AS (
          SELECT c_custkey, grp, CAST(i AS INTEGER) AS i,
                 'Stop ' || (c_custkey % 40) AS gname,
                 56.5e0 + ((c_custkey * 7) % 1000) / 10000.0e0 AS glat,
                 24.0e0 + ((c_custkey * 13) % 1000) / 10000.0e0 AS glon,
                 CASE WHEN i % 3 = 1 THEN 'X-' || c_custkey
                      ELSE '"' || upper('Stop ' || (c_custkey % 40)) || '" (centrs)'
                 END AS oname
          FROM ranked WHERE i < 10
        ), b2 AS (
          SELECT *, glat + 0.00015e0 AS olat, glon AS olon,
                 {_clean_name_sql('gname')} AS gcname,
                 {_clean_name_sql('oname')} AS ocname
          FROM base
        ), vc AS (
          SELECT grp AS v, avg(glat) AS clat, avg(glon) AS clon, count(*) AS nv
          FROM b2 GROUP BY grp
        ), oc AS (
          SELECT grp + 1000 AS r, avg(olat) AS clat2, avg(olon) AS clon2, count(*) AS no
          FROM b2 GROUP BY grp
        ), prs AS (
          SELECT v, r, greatest(nv, no) AS n
          FROM vc CROSS JOIN oc
          WHERE {cent_dist} <= 50000.0e0
        ), contrib AS (
          SELECT p.v, p.r, p.n, g.i,
                 max(CASE WHEN o.ocname = g.gcname THEN p.n - abs(g.i - o.i) END) AS best
          FROM prs p
          JOIN b2 g ON g.grp = p.v
          LEFT JOIN b2 o ON o.grp + 1000 = p.r AND o.ocname = g.gcname
          GROUP BY p.v, p.r, p.n, g.i
        ), cand AS (
          SELECT v, r, CAST(sum(coalesce(best, 0)) AS DOUBLE) / (n * n) AS score
          FROM contrib GROUP BY v, r, n
          HAVING CAST(sum(coalesce(best, 0)) AS DOUBLE) / (n * n) > 0.4e0
        ), gs AS (
          SELECT v, r, score, FALSE AS rejected, 0 AS it FROM cand
          UNION ALL
          SELECT v, r, score,
                 rejected OR (proposing AND NOT winner) AS rejected,
                 it + 1 AS it
          FROM (
            SELECT q3.*,
                   sum(CASE WHEN proposing AND NOT winner THEN 1 ELSE 0 END) OVER () AS n_lost
            FROM (
              SELECT q2.*,
                     proposing AND row_number() OVER (
                       PARTITION BY r, proposing
                       ORDER BY score DESC, v ASC) = 1 AS winner
              FROM (
                SELECT s.*,
                       (NOT s.rejected) AND row_number() OVER (
                         PARTITION BY s.v
                         ORDER BY s.rejected ASC, s.score DESC, s.r ASC) = 1 AS proposing
                FROM gs s
              ) q2
            ) q3
          ) w
          WHERE n_lost > 0
        ), matched AS (
          SELECT v, r, score FROM (
            SELECT s.*, row_number() OVER (PARTITION BY v ORDER BY score DESC, r) AS rn
            FROM (SELECT * FROM gs WHERE it = (SELECT max(it) FROM gs)) s
            WHERE NOT rejected
          ) WHERE rn = 1
        ), rs AS (
          SELECT m.r, m.v, o.i AS seq, o.olat, o.olon, g.glat, g.glon,
                 (o.ocname = g.gcname) AS matched_stop
          FROM matched m
          JOIN b2 o ON o.grp + 1000 = m.r
          JOIN b2 g ON g.grp = m.v AND g.i = o.i
        ), prevm AS (
          SELECT *, max(CASE WHEN matched_stop THEN seq END) OVER (
            PARTITION BY r ORDER BY seq
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_seq
          FROM rs
        ), gaps AS (
          SELECT p.r, count(*) AS n_gaps
          FROM prevm p JOIN rs nxt ON nxt.r = p.r AND nxt.seq = p.prev_seq + 1
          WHERE NOT p.matched_stop AND p.prev_seq IS NOT NULL
            AND {gap_dist} <= 70.0e0
          GROUP BY p.r
        )
        SELECT m.r AS route_rel_id, m.v AS variant_id,
               round(m.score, 4) AS score,
               coalesce(g.n_gaps, 0) AS n_gap_repairs
        FROM matched m LEFT JOIN gaps g ON g.r = m.r
    """


_ORACLES: dict[str, str] = {
    "q33_pt_pipeline": _q33_oracle_sql(),
    "q01_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_rows
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    "q02_json_filter": r"""
        WITH e AS (
          SELECT event_type, CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k
          FROM events
        )
        SELECT event_type, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k FROM e WHERE k >= 50
        GROUP BY event_type
    """,
    "q03_unique_values": "SELECT DISTINCT c_mktsegment AS segment FROM customer",
    "q04_group_split_explode": """
        SELECT word, count(*) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE word <> '' GROUP BY word HAVING count(*) >= 50
    """,
    "q05_topk_per_group": """
        SELECT CAST(s_nationkey AS BIGINT) AS nationkey, s_suppkey AS suppkey,
               round(s_acctbal, 2) AS acctbal, rank_in_nation
        FROM (
          SELECT *, row_number() OVER (PARTITION BY s_nationkey
                                       ORDER BY s_acctbal DESC, s_suppkey ASC) AS rank_in_nation
          FROM supplier
        ) WHERE rank_in_nation <= 3
    """,
    "q06_anti_join": """
        SELECT c_custkey AS custkey FROM customer
        WHERE c_custkey NOT IN
          (SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2003-01-01')
    """,
    "q07_semi_join": """
        SELECT p_partkey AS partkey, p_brand AS brand FROM part
        WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_shipdate >= TIMESTAMP '2001-06-01')
    """,
    "q08_lag_gap": """
        SELECT event_id, user_id, gap_us FROM (
          SELECT event_id, user_id,
                 epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
          FROM events
        ) WHERE gap_us IS NOT NULL
    """,
    "q09_sessionize": """
        WITH g AS (
          SELECT user_id,
                 CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                        OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 30*60*1000000
                      THEN 1 ELSE 0 END AS new_sess
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), s AS (
          SELECT user_id, sum(new_sess) OVER (PARTITION BY user_id ROWS UNBOUNDED PRECEDING) AS sess
          FROM (SELECT user_id, new_sess FROM g) q
        )
        SELECT user_id, CAST(max(sess) AS BIGINT) AS n_sessions,
               CAST(count(*) AS BIGINT) AS n_events
        FROM s GROUP BY user_id
    """,
    "q10_knn_radius": f"""
        WITH i AS ({_GEO_SUPP_SQL}), c AS ({_GEO_CUST_SQL}),
        pairs AS (
          SELECT i.item_id, c.elem_id, {_PAIR_DIST_SQL} AS d
          FROM i CROSS JOIN c
        ), ranked AS (
          SELECT item_id, elem_id, d,
                 row_number() OVER (PARTITION BY item_id ORDER BY d ASC, elem_id ASC) AS rn
          FROM pairs WHERE d <= 5000.0
        )
        SELECT item_id AS suppkey, elem_id AS custkey, round(d, 3) AS dist_m
        FROM ranked WHERE rn = 1
    """,
    "q11_mutual_best": f"""
        WITH i AS ({_GEO_SUPP_SQL}), c AS ({_GEO_CUST_SQL}),
        pairs AS (
          SELECT i.item_id, c.elem_id, {_PAIR_DIST_SQL} AS d
          FROM i CROSS JOIN c
        ), flt AS (SELECT * FROM pairs WHERE d <= 5000.0),
        ranked AS (
          SELECT item_id, elem_id, d,
                 row_number() OVER (PARTITION BY item_id ORDER BY d ASC, elem_id ASC) AS ri,
                 row_number() OVER (PARTITION BY elem_id ORDER BY d ASC, item_id ASC) AS re
          FROM flt
        )
        SELECT item_id AS suppkey, elem_id AS custkey, round(d, 3) AS dist_m
        FROM ranked WHERE ri = 1 AND re = 1
    """,
    "q12_point_in_polygon": f"""
        WITH c AS ({_GEO_CUST_SQL})
        SELECT elem_id AS custkey FROM c
        WHERE ({_pip_crossings_sql("elem_lat", "elem_lon")}) % 2 = 1
    """,
    "q13_tile_assignment": f"""
        WITH c AS ({_GEO_CUST_SQL})
        SELECT CAST(floor((elem_lon + 180.0) / 360.0 * 4096) AS BIGINT) AS tile_x,
               CAST(floor((1.0 - ln(tan(radians(elem_lat)) + 1.0/cos(radians(elem_lat))) / 3.141592653589793) / 2.0 * 4096) AS BIGINT) AS tile_y,
               count(*) AS n_points
        FROM c GROUP BY 1, 2
    """,
    "q14_centroid": f"""
        SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
               round(avg({synth_lat_sql("c_custkey")}), 4) AS centroid_lat,
               round(avg({synth_lon_sql("c_custkey")}), 4) AS centroid_lon,
               count(*) AS n
        FROM customer GROUP BY 1
    """,
    "q15_dedup_tokenset": """
        WITH fp AS (
          SELECT doc_id,
                 md5(list_aggregate(list_sort(list_distinct(string_split(text, ' '))), 'string_agg', chr(31))) AS fingerprint
          FROM documents
        )
        SELECT fingerprint, count(*) AS n_docs, min(doc_id) AS keep_doc_id
        FROM fp GROUP BY fingerprint HAVING count(*) > 1
    """,
    "q16_ngram_jaccard": """
        WITH words AS (
          SELECT DISTINCT doc_id, w FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
          ) WHERE w <> ''
        ), sizes AS (
          SELECT doc_id, count(*) AS sz FROM words GROUP BY doc_id
        ), common AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
          FROM words a JOIN words b ON a.w = b.w AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               round(n_common * 1.0 / (sa.sz + sb.sz - n_common), 4) AS jaccard
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_common * 1.0 / (sa.sz + sb.sz - n_common) >= 0.6
    """,
    "q17_cosine_topk": """
        WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        pairs AS (
          SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
                 list_dot_product(p.v, c.v) / (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(c.v, c.v))) AS cosine
          FROM emb p JOIN emb c ON p.vec_id <> c.vec_id
          WHERE p.vec_id < 20
        ), ranked AS (
          SELECT probe_id, cand_id, cosine,
                 row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, cand_id ASC) AS rank
          FROM pairs
        )
        SELECT probe_id, cand_id, round(cosine, 6) AS cosine, rank FROM ranked WHERE rank <= 3
    """,
    "q18_text_quality": f"""
        WITH w AS (
          SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS words, text
          FROM documents
        )
        SELECT doc_id,
               CAST(len(words) AS BIGINT) AS n_tokens,
               CAST(len(list_filter(words, x -> x IN ({_STOP_IN}))) AS BIGINT) AS n_stop,
               round(len(list_filter(words, x -> x IN ({_STOP_IN}))) * 1.0 / len(words), 4) AS stop_ratio,
               CAST(length(text) AS BIGINT) AS n_chars_real
        FROM w
    """,
    "q19_lang_guess": f"""
        WITH w AS (
          SELECT doc_id, lang, list_filter(string_split(text, ' '), x -> x <> '') AS words
          FROM documents
        )
        SELECT doc_id,
               CASE WHEN len(list_filter(words, x -> x IN ({_STOP_IN}))) >= 3
                    THEN 'en' ELSE 'other' END AS guess,
               lang
        FROM w
    """,
    "q20_route_variants": """
        WITH seqs AS (
          SELECT user_id, string_agg(event_type, '|' ORDER BY ts, event_id) AS type_seq
          FROM events GROUP BY user_id
        )
        SELECT type_seq, count(*) AS n_users FROM seqs GROUP BY type_seq
    """,
    # Predicted parser output per address template (see _ADDR_SQL): each
    # template's parts, indexes, and confidences are determined by the
    # parser's documented rules, so the oracle enumerates them directly.
    "q29_fuzzy_parse": f"""
        WITH c AS (
          SELECT c_custkey AS k, (c_custkey) % 5 AS t,
                 {_ADDR_STEM_SQL} AS stem, {_ADDR_N_SQL} AS n,
                 {_ADDR_U_SQL} AS u, {_ADDR_P_SQL} AS p
          FROM customer
        )
        SELECT k AS custkey, 'street' AS part_type, 0 AS part_index, 3 AS confidence,
               '' AS value, stem || ' iela' AS street, n AS number, '' AS unit,
               FALSE AS is_fallback
        FROM c WHERE t = 0
        UNION ALL SELECT k, 'city', 1, 3, 'Rīga', '', '', '', FALSE FROM c WHERE t = 0
        UNION ALL SELECT k, 'postcode', 2, 3, 'LV-' || p, '', '', '', FALSE FROM c WHERE t = 0
        UNION ALL SELECT k, 'street', 0, 3, '', stem || ' iela', n || 'A', '', FALSE FROM c WHERE t = 1
        UNION ALL SELECT k, 'city', 1, 3, 'Valmiera', '', '', '', FALSE FROM c WHERE t = 1
        UNION ALL SELECT k, 'house_name', 0, 3, stem || 'muiža', '', '', '', FALSE FROM c WHERE t = 2
        UNION ALL SELECT k, 'parish', 1, 3, 'Brenguļu pagasts', '', '', '', FALSE FROM c WHERE t = 2
        UNION ALL SELECT k, 'house_name', 0, 0, stem || ' ' || n, '', '', '', FALSE FROM c WHERE t = 3
        UNION ALL SELECT k, 'street', 0, 0, '', stem || ' iela', n, '', TRUE FROM c WHERE t = 3
        UNION ALL SELECT k, 'city', 1, 3, 'Ludza', '', '', '', FALSE FROM c WHERE t = 3
        UNION ALL SELECT k, 'street', 0, 3, '', stem || ' iela', n, u, FALSE FROM c WHERE t = 4
        UNION ALL SELECT k, 'municipality', 1, 0, 'Ornitoloģijas novads', '', '', '', FALSE FROM c WHERE t = 4
        UNION ALL SELECT k, 'postcode', 2, 0, 'LV-' || p, '', '', '', FALSE FROM c WHERE t = 4
    """,
    # Independent SQL re-implementation of the geocode scoring: predicted
    # per-template parsed fields -> OR-join candidates -> match flags +
    # fallback promotion -> min-requirements + score -> region-tier
    # preference -> averaged tied winners.
    "q30_fuzzy_geocode": f"""
        WITH kbase AS (
          SELECT c_custkey AS k, (c_custkey) % 5 AS t,
                 {_ADDR_STEM_SQL} AS stem, {_ADDR_N_SQL} AS n,
                 {_ADDR_U_SQL} AS u, {_ADDR_P_SQL} AS p
          FROM customer
        ), ka AS (
          SELECT k,
                 CASE WHEN t = 2 THEN stem || 'muiža'
                      WHEN t = 3 THEN stem || ' ' || n ELSE NULL END AS k_house,
                 CASE WHEN t IN (0, 1, 4) THEN stem || ' iela' ELSE NULL END AS k_street,
                 CASE WHEN t = 0 THEN n WHEN t = 1 THEN n || 'A'
                      WHEN t = 4 THEN n ELSE NULL END AS k_number,
                 CASE WHEN t = 4 THEN u ELSE NULL END AS k_unit,
                 CASE WHEN t = 3 THEN stem || ' iela' ELSE NULL END AS k_fb_street,
                 CASE WHEN t = 3 THEN n ELSE NULL END AS k_fb_number,
                 CASE WHEN t = 0 THEN 'Rīga' WHEN t = 1 THEN 'Valmiera'
                      WHEN t = 3 THEN 'Ludza' ELSE NULL END AS k_city,
                 CASE WHEN t = 2 THEN 'Brenguļu pagasts' ELSE NULL END AS k_parish,
                 CASE WHEN t = 4 THEN 'Ornitoloģijas novads' ELSE NULL END AS k_muni,
                 CASE WHEN t IN (0, 4) THEN 'LV-' || p ELSE NULL END AS k_post,
                 CASE WHEN t = 2 THEN lower('Brenguļu pagasts') ELSE NULL END AS k_single_parish,
                 CASE WHEN t = 0 THEN lower('Rīga') WHEN t = 1 THEN lower('Valmiera')
                      WHEN t = 3 THEN lower('Ludza') ELSE NULL END AS k_single_city
          FROM kbase
        ), sa AS (
          SELECT s_suppkey AS e,
                 {synth_lat_sql("s_suppkey")} AS lat,
                 {synth_lon_sql("s_suppkey")} AS lon,
                 {_ADDRESSABLE_COLS_SQL["house_name"]} AS a_house,
                 {_ADDRESSABLE_COLS_SQL["street"]} AS a_street,
                 {_ADDRESSABLE_COLS_SQL["number"]} AS a_number,
                 {_ADDRESSABLE_COLS_SQL["unit"]} AS a_unit,
                 {_ADDRESSABLE_COLS_SQL["city"]} AS a_city,
                 {_ADDRESSABLE_COLS_SQL["parish"]} AS a_parish,
                 {_ADDRESSABLE_COLS_SQL["municipality"]} AS a_muni,
                 {_ADDRESSABLE_COLS_SQL["postcode"]} AS a_post
          FROM supplier
        ), flags AS (
          SELECT ka.k, sa.e, sa.lat, sa.lon,
                 coalesce(lower(sa.a_house) = lower(ka.k_house), FALSE) AS hn,
                 coalesce(lower(sa.a_street) = lower(ka.k_street), FALSE) AS st,
                 coalesce(lower(sa.a_number) = lower(ka.k_number), FALSE) AS num,
                 coalesce(lower(sa.a_unit) = lower(ka.k_unit), FALSE) AS unitm,
                 coalesce(lower(sa.a_street) = lower(ka.k_fb_street), FALSE) AS fb_st,
                 coalesce(lower(sa.a_number) = lower(ka.k_fb_number), FALSE) AS fb_num,
                 coalesce(lower(sa.a_city) = lower(ka.k_city), FALSE) AS citym,
                 coalesce(lower(sa.a_parish) = lower(ka.k_parish), FALSE) AS parishm,
                 coalesce(lower(sa.a_muni) = lower(ka.k_muni), FALSE) AS munim,
                 coalesce(lower(sa.a_post) = lower(ka.k_post), FALSE) AS postm,
                 coalesce(lower(sa.a_parish) = ka.k_single_parish, FALSE) AS tier_parish,
                 coalesce(lower(sa.a_city) = ka.k_single_city, FALSE) AS tier_city
          FROM ka JOIN sa ON
               (ka.k_house IS NOT NULL AND lower(sa.a_house) = lower(ka.k_house))
            OR (ka.k_street IS NOT NULL AND lower(sa.a_street) = lower(ka.k_street))
            OR (ka.k_fb_street IS NOT NULL AND lower(sa.a_street) = lower(ka.k_fb_street))
        ), promoted AS (
          SELECT *,
                 st OR (NOT st AND NOT num AND NOT hn AND fb_st) AS st2,
                 num OR (NOT st AND NOT num AND NOT hn AND fb_num) AS num2
          FROM flags
        ), scored AS (
          SELECT k, e, lat, lon,
                 CASE WHEN tier_parish THEN 0 WHEN tier_city THEN 1 ELSE 3 END AS tier,
                 (CASE WHEN hn THEN 20 ELSE 0 END) + (CASE WHEN st2 THEN 10 ELSE 0 END)
                 + (CASE WHEN num2 THEN 10 ELSE 0 END) + (CASE WHEN unitm THEN 2 ELSE 0 END)
                 + (CASE WHEN citym THEN 5 ELSE 0 END) + (CASE WHEN parishm THEN 5 ELSE 0 END)
                 + (CASE WHEN munim THEN 5 ELSE 0 END) + (CASE WHEN postm THEN 5 ELSE 0 END) AS score
          FROM promoted
          WHERE (hn OR (st2 AND num2)) AND (citym OR parishm OR postm)
        ), best AS (
          SELECT *, min(tier) OVER (PARTITION BY k) AS bt FROM scored
        ), best2 AS (
          SELECT *, max(score) OVER (PARTITION BY k) AS bs
          FROM best WHERE tier = bt
        )
        SELECT k AS custkey, round(avg(lat), 4) AS lat, round(avg(lon), 4) AS lon,
               CAST(max(score) AS INTEGER) AS score, count(*) AS n_tied
        FROM best2 WHERE score = bs GROUP BY k
    """,
    # Expected weekday-range merges per line-array template.
    "q31_opening_hours": """
        WITH c AS (
          SELECT c_custkey AS k, c_custkey % 6 AS t,
                 '08:00-' || CAST(c_custkey % 8 + 10 AS STRING) || ':00' AS h
          FROM customer
        )
        SELECT k AS custkey, 0 AS pos, 'Mo-We ' || h AS line FROM c WHERE t = 0
        UNION ALL SELECT k, 0, 'Tu 08:00-12:00' FROM c WHERE t = 1
        UNION ALL SELECT k, 1, 'We-Th 09:00-13:00' FROM c WHERE t = 1
        UNION ALL SELECT k, 0, 'Sa-Su Off' FROM c WHERE t = 2
        UNION ALL SELECT k, 0, 'Sep-May Mo 08:00-12:00' FROM c WHERE t = 3
        UNION ALL SELECT k, 1, 'Sep-May Tu 08:00-12:00' FROM c WHERE t = 3
        UNION ALL SELECT k, 0, 'Mo-We ' || h FROM c WHERE t = 4
        UNION ALL SELECT k, 1, 'Fr ' || h FROM c WHERE t = 4
        UNION ALL SELECT k, 0, 'Tu 08:00-12:00' FROM c WHERE t = 5
        UNION ALL SELECT k, 1, 'Th 08:00-12:00' FROM c WHERE t = 5
    """,
    # IVF replay: quantized vectors, exact-integer L2 to the centroid set
    # (vec_id < 16), rank lists by (dist, cid); candidates keep rank 1,
    # probes search ranks <= 3; exact cosine rerank top-3. list_dot_product
    # over the quantized doubles is exact: every intermediate < 2^53.
    "q32_ivf_ann": f"""
        WITH q AS ({_quantized_emb_cte()}),
        cent AS (
          SELECT vec_id AS cid, CAST(qv AS DOUBLE[]) AS cqv FROM q WHERE vec_id < 16
        ), asg AS (
          SELECT q.vec_id, cent.cid,
                 row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))
                            - 2 * list_dot_product(CAST(q.qv AS DOUBLE[]), cent.cqv)
                            + list_dot_product(cent.cqv, cent.cqv) ASC,
                            cent.cid ASC) AS rn
          FROM q CROSS JOIN cent
        ), cand AS (
          SELECT a.vec_id AS cand_id, a.cid, q.v
          FROM asg a JOIN q ON q.vec_id = a.vec_id WHERE a.rn = 1
        ), pr AS (
          SELECT a.vec_id AS probe_id, a.cid, q.v
          FROM asg a JOIN q ON q.vec_id = a.vec_id
          WHERE a.rn <= 3 AND a.vec_id < 20
        ), pairs AS (
          SELECT DISTINCT pr.probe_id, cand.cand_id, pr.v AS pv, cand.v AS cv
          FROM pr JOIN cand ON pr.cid = cand.cid AND pr.probe_id <> cand.cand_id
        ), ranked AS (
          SELECT probe_id, cand_id,
                 list_dot_product(pv, cv)
                   / (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(cv, cv))) AS cos,
                 row_number() OVER (
                   PARTITION BY probe_id
                   ORDER BY list_dot_product(pv, cv)
                            / (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(cv, cv))) DESC,
                            cand_id ASC) AS rank
          FROM pairs
        )
        SELECT probe_id, cand_id, round(cos, 6) AS cosine, rank
        FROM ranked WHERE rank <= 3
    """,
    "q21_minhash_lsh": _minhash_oracle_sql(
        num_hashes=128, bands=32, shingle_k=3, threshold=0.5, seed=7
    ),
    "q28_clean_corpus": _clean_corpus_oracle_sql(
        min_quality=0.4, neardup_threshold=0.6, num_hashes=128, bands=32
    ),
    "q23_embedding_near_dup": _embedding_near_dup_oracle_sql(
        threshold=0.4, n_planes=12, n_tables=4, seed=13
    ),
    "q24_cosine_lsh": _cosine_lsh_oracle_sql(
        k=3, n_planes=10, n_tables=4, seed=11, probe_pred="vec_id < 20"
    ),
    # Ground truth for the flagship correlator: the deferred-acceptance
    # fixed point is the unique proposer-optimal stable matching and is
    # processing-order independent (correlator.py module docstring), so a
    # SYNCHRONOUS Gale-Shapley — expressible as a recursive CTE carrying
    # the full candidate state per round, rejections accumulating — must
    # produce the identical matching. Brute-force O(items x elems)
    # candidate generation; fine at sf0.01.
    "q27_correlator": f"""
        WITH RECURSIVE i AS (
          SELECT item_id, item_lat, item_lon, CAST(item_id % 7 AS VARCHAR) AS item_tag
          FROM ({_GEO_SUPP_SQL})
        ), c AS (
          SELECT elem_id, elem_lat, elem_lon, CAST(elem_id % 7 AS VARCHAR) AS elem_tag
          FROM ({_GEO_CUST_SQL})
        ), cand AS (
          SELECT * FROM (
            SELECT i.item_id, c.elem_id,
                   CASE WHEN i.item_tag = c.elem_tag THEN 3 ELSE 1 END AS strength,
                   {_PAIR_DIST_SQL} AS dist_m
            FROM i CROSS JOIN c
          ) p
          WHERE dist_m <= 4500.0e0
            AND dist_m <= (CASE WHEN strength >= 3 THEN 4500.0e0 ELSE 1500.0e0 END)
        ), gs AS (
          SELECT item_id, elem_id, strength, dist_m, FALSE AS rejected, 0 AS it
          FROM cand
          UNION ALL
          SELECT item_id, elem_id, strength, dist_m,
                 rejected OR (proposing AND NOT winner) AS rejected,
                 it + 1 AS it
          FROM (
            SELECT q3.*,
                   sum(CASE WHEN proposing AND NOT winner THEN 1 ELSE 0 END) OVER () AS n_lost
            FROM (
              SELECT q2.*,
                     proposing AND row_number() OVER (
                       PARTITION BY elem_id, proposing
                       ORDER BY strength DESC, dist_m ASC, item_id ASC) = 1 AS winner
              FROM (
                SELECT s.*,
                       (NOT s.rejected) AND row_number() OVER (
                         PARTITION BY s.item_id
                         ORDER BY s.rejected ASC, s.dist_m ASC, s.elem_id ASC) = 1 AS proposing
                FROM gs s
              ) q2
            ) q3
          ) w
          WHERE n_lost > 0
        ), matched AS (
          SELECT item_id, elem_id, strength, dist_m FROM (
            SELECT s.*, row_number() OVER (PARTITION BY item_id ORDER BY dist_m, elem_id) AS rn
            FROM (SELECT * FROM gs WHERE it = (SELECT max(it) FROM gs)) s
            WHERE NOT rejected
          ) WHERE rn = 1
        ), unmatched_items AS (
          SELECT item_id FROM i WHERE item_id NOT IN (SELECT item_id FROM matched)
        ), unmatched_elems AS (
          SELECT elem_id FROM c WHERE elem_id NOT IN (SELECT elem_id FROM matched)
        )
        SELECT CASE WHEN dist_m > 150.0e0 THEN 'matched_far' ELSE 'matched' END AS kind,
               elem_id AS osm_id, item_id,
               round(dist_m, 3) AS distance, strength, dist_m > 150.0e0 AS far
        FROM matched
        UNION ALL
        SELECT 'unmatched_item', CAST(-1 AS BIGINT), item_id,
               -1.0e0, 0, FALSE
        FROM unmatched_items
        UNION ALL
        SELECT 'unmatched_osm', elem_id, CAST(-1 AS BIGINT), -1.0e0, 0, FALSE
        FROM unmatched_elems WHERE elem_id % 11 <> 0
        UNION ALL
        SELECT 'lone_osm', elem_id, CAST(-1 AS BIGINT), -1.0e0, 0, FALSE
        FROM unmatched_elems WHERE elem_id % 11 = 0
    """,
    # Brute-force O(n^2) ground truth for q22: recompute the md5-lower-64
    # count-weighted simhash per document in SQL, then bit_count(xor) over
    # the full pair join — verifies the banding path returns the COMPLETE
    # hamming<=3 set (4 bands, q22_simhash).
    "q22_simhash": """
        WITH toks AS (
          SELECT doc_id, md5_number_lower(w) AS h
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
          WHERE w <> ''
        ), bits AS (
          SELECT doc_id, b, sum(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END) AS score
          FROM toks CROSS JOIN (SELECT unnest(range(64)) AS b)
          GROUP BY doc_id, b
        ), halves AS (
          SELECT doc_id,
                 sum(CASE WHEN score > 0 AND b < 32 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS lo,
                 sum(CASE WHEN score > 0 AND b >= 32 THEN CAST(1 AS BIGINT) << (b - 32) ELSE 0 END) AS hi
          FROM bits GROUP BY doc_id
        ), fp AS (
          SELECT doc_id,
                 CAST(CASE WHEN hi >= 2147483648
                           THEN CAST(hi AS HUGEINT) * 4294967296 + lo - 18446744073709551616
                           ELSE CAST(hi AS HUGEINT) * 4294967296 + lo END AS BIGINT) AS simhash
          FROM halves
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    "q26_sharp_angles": f"""
        WITH pts AS (
          SELECT user_id, event_id,
                 {synth_lat_sql("event_id")} AS lat,
                 {synth_lon_sql("event_id")} AS lon
          FROM events
        ), t AS (
          SELECT user_id, event_id, lat, lon,
                 lag(lat) OVER w AS plat, lag(lon) OVER w AS plon,
                 lead(lat) OVER w AS nlat, lead(lon) OVER w AS nlon
          FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        ), ang AS (
          SELECT user_id, event_id,
                 degrees(atan2(
                   abs(((plon - lon) * cos(radians(lat))) * (nlat - lat)
                       - (plat - lat) * ((nlon - lon) * cos(radians(lat)))),
                   ((plon - lon) * cos(radians(lat))) * ((nlon - lon) * cos(radians(lat)))
                       + (plat - lat) * (nlat - lat)
                 )) AS angle
          FROM t WHERE plat IS NOT NULL AND nlat IS NOT NULL
        )
        SELECT user_id, event_id, round(angle, 3) AS angle_deg
        FROM ang WHERE round(angle, 3) < 60.0
    """,
    "q25_tile_region": f"""
        WITH c AS ({_GEO_CUST_SQL})
        SELECT CAST(floor((elem_lon + 180.0) / 360.0 * 4096) AS BIGINT) AS tile_x,
               CAST(floor((1.0 - ln(tan(radians(elem_lat)) + 1.0/cos(radians(elem_lat))) / 3.141592653589793) / 2.0 * 4096) AS BIGINT) AS tile_y,
               ({_pip_crossings_sql("elem_lat", "elem_lon")}) % 2 = 1 AS in_region,
               count(*) AS n_points
        FROM c GROUP BY 1, 2, 3
    """,
}


# --------------------------------------------------------------------------
# q34 — ImproperTranslationAnalyzer exemplar (VERDICT r3 item 4)
#
# The REAL engine path (functions/translation_check.py: native nomenclature
# when-chain + the Java-regex transliteration cascade + the weighted-
# Levenshtein pandas UDF) runs in Spark over synthesized street elements;
# the oracle re-synthesizes the same input and predicts the verdicts with
# translit literals generated by the INDEPENDENT pure-Python `re` mirror
# (transliterate_lv_ru_py) — a differential test of the cascade, the
# expected-name construction (both word orders, the digit '-я/-й' special
# case, multi-variant qualifiers) and the match classification
# (reference: ImproperTranslationAnalyzer.cs:199-425).
# --------------------------------------------------------------------------

_Q34_STEMS = [
    "Elizabetes", "Meistaru", "Kļavu", "Stacijas", "Kaņepju",
    "Tērbatas", "Ģertrūdes", "Matīsa", "Brīvības", "Eizenšteina",
]
# (qualifier, [ru prefix variants]) for the three word-qualifier branches
_Q34_QUALS = [("iela", ["улица", "ул."]), ("bulvāris", ["бульвар"]), ("gatve", ["гатве", "проспект"])]

_Q34_CHEAP_PARTNER = {
    "е": "э", "э": "е", "ё": "е", "и": "й", "й": "и", "ш": "щ",
    "щ": "ш", "х": "г", "г": "х", "а": "я", "я": "а", "ы": "и",
}


def _q34_corrupt(s: str) -> str:
    """One confusable-pair substitution (weighted distance exactly 0.5)."""
    for i, ch in enumerate(s):
        if ch in _Q34_CHEAP_PARTNER:
            return s[:i] + _Q34_CHEAP_PARTNER[ch] + s[i + 1 :]
    raise ValueError(f"no confusable char in {s!r}")


def _q34_case(key: str, pairs: list[tuple[str, str]]) -> str:
    whens = " ".join(f"WHEN {k} THEN '{v}'" for k, v in pairs)
    return f"(CASE {key} {whens} END)"


def _q34_sql_parts() -> dict[str, str]:
    from osmalyzer_spark.functions.translit import transliterate_lv_ru_py as t

    stem = _q34_case("(c_custkey) % 10", [(str(i), s) for i, s in enumerate(_Q34_STEMS)])
    tl = _q34_case("(c_custkey) % 10", [(str(i), t(s)) for i, s in enumerate(_Q34_STEMS)])
    corr = _q34_case(
        "(c_custkey) % 10", [(str(i), _q34_corrupt(t(s))) for i, s in enumerate(_Q34_STEMS)]
    )
    k = "CAST((c_custkey) % 9 + 1 AS STRING)"
    qual = _q34_case("(c_custkey) % 5", [(str(i), q) for i, (q, _) in enumerate(_Q34_QUALS)])
    name = f"""(CASE (c_custkey) % 5
        WHEN 3 THEN {k} || '. līnija'
        WHEN 4 THEN {stem}
        ELSE {stem} || ' ' || {qual} END)"""
    # translit of the raw (qualifier-stripped) name: the digit rows drop
    # the period -> just the number
    tt = f"(CASE WHEN (c_custkey) % 5 = 3 THEN {k} ELSE {tl} END)"
    p1 = _q34_case(
        "(c_custkey) % 5",
        [(str(i), ps[0]) for i, (_, ps) in enumerate(_Q34_QUALS)] + [("3", "линия")],
    )
    p2 = _q34_case(
        "(c_custkey) % 5",
        [(str(i), ps[1] if len(ps) > 1 else ps[0]) for i, (_, ps) in enumerate(_Q34_QUALS)]
        + [("3", "линия")],
    )
    digit = "(c_custkey) % 5 = 3"
    cand0 = f"(CASE WHEN {digit} THEN {tt} || '-я ' || {p1} ELSE {p1} || ' ' || {tt} END)"
    cand1 = f"(CASE WHEN {digit} THEN {tt} || '-й ' || {p1} ELSE {tt} || ' ' || {p1} END)"
    cand2 = f"(CASE WHEN {digit} THEN {tt} || '-я ' || {p1} ELSE {p2} || ' ' || {tt} END)"
    good = f"(CASE WHEN {digit} THEN {tt} || '-я лыния' ELSE {p1} || ' ' || {corr} END)"
    ru = f"""(CASE WHEN (c_custkey) % 5 = 4 THEN 'игнор' ELSE
        CASE (c_custkey) % 7
        WHEN 0 THEN {cand0}
        WHEN 1 THEN {cand1}
        WHEN 2 THEN {cand2}
        WHEN 3 THEN upper({cand0})
        WHEN 4 THEN {good}
        WHEN 5 THEN 'переулок ' || {tt}
        ELSE 'тест' END END)"""
    return {"name": name, "ru": ru, "cand0": cand0, "cand1": cand1, "cand2": cand2}


def q34_improper_translation(spark, sf_dir):
    """Validator exemplar: name:ru vs the LV->RU transliteration cascade
    (ImproperTranslationAnalyzer.cs Run + CheckElementsTranliteration)."""
    from osmalyzer_spark.functions.translation_check import check_translations

    parts = _q34_sql_parts()
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("elem_id"),
        F.expr(parts["name"]).alias("nm"),
        F.expr(parts["ru"]).alias("ru"),
    )
    elements = c.select(
        "elem_id",
        F.map_from_arrays(
            F.array(F.lit("name"), F.lit("name:ru")), F.array("nm", "ru")
        ).alias("tags"),
    )
    out = check_translations(elements, "ru", nomenclature_required=True)
    return out.select(
        F.col("elem_id").alias("custkey"), "name", "actual", "expected", "verdict"
    )


def _q34_oracle_sql() -> str:
    parts = _q34_sql_parts()
    return f"""
        SELECT c_custkey AS custkey,
               {parts["name"]} AS name,
               {parts["ru"]} AS actual,
               CASE WHEN (c_custkey) % 5 = 4 THEN ''
                    WHEN (c_custkey) % 7 = 1 THEN {parts["cand1"]}
                    WHEN (c_custkey) % 7 = 2 THEN {parts["cand2"]}
                    ELSE {parts["cand0"]} END AS expected,
               CASE WHEN (c_custkey) % 5 = 4 THEN 'ignored'
                    WHEN (c_custkey) % 7 <= 3 THEN 'exact'
                    WHEN (c_custkey) % 7 = 4 THEN 'good_enough'
                    ELSE 'mismatch' END AS verdict
        FROM customer
    """


_ORACLES["q34_improper_translation"] = _q34_oracle_sql()


# --------------------------------------------------------------------------
# q35 — TrolleybusWireAnalyzer exemplar (VERDICT r3 item 5)
#
# Route relations come from orders (every 13th order is a trolleybus
# route); their members are the order's lineitems (partkey = way ref,
# linenumber drives member type / role / a deliberately dangling ref).
# Way trolley_wire tags are a modulo table over part covering every
# classification branch. The Spark side builds REAL nested OSM relations
# (members array) and runs resolve_relation_members + the native
# when-chain (plans/analyzers.py trolleybus_wire_check); the oracle is
# the flat relational equivalent — UNION ALL over the exclusive if-chain.
# --------------------------------------------------------------------------

_Q35_TW = (
    "CASE WHEN p_partkey % 12 IN (0,1,4) THEN 'yes' "
    "WHEN p_partkey % 12 = 2 THEN 'no' "
    "WHEN p_partkey % 12 = 3 THEN 'bad' END"
)
_Q35_TWF = (
    "CASE WHEN p_partkey % 12 IN (4,5) THEN 'yes' "
    "WHEN p_partkey % 12 IN (6,9) THEN 'maybe' END"
)
_Q35_TWB = (
    "CASE WHEN p_partkey % 12 = 7 THEN 'no' "
    "WHEN p_partkey % 12 IN (8,9) THEN 'nope' END"
)


def _q35_routes(spark, sf_dir):
    """Nested route relations: id, tags{name}, members array<struct>."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 13 == 0)
    mem = li.select(
        F.col("l_orderkey").alias("id"),
        F.col("l_linenumber").alias("pos"),
        F.when(F.col("l_linenumber") % 5 == 4, F.lit("node"))
        .otherwise(F.lit("way"))
        .alias("type"),
        F.when(
            F.col("l_linenumber") % 7 == 6, F.col("l_partkey") + 1000000
        )
        .otherwise(F.col("l_partkey"))
        .alias("ref"),
        F.when(F.col("l_linenumber") % 4 == 3, F.lit("platform"))
        .when(F.col("l_linenumber") % 4 == 2, F.lit("stop"))
        .otherwise(F.lit(""))
        .alias("role"),
    )
    return (
        mem.groupBy("id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("pos", "type", "ref", "role"))
            ).alias("pm")
        )
        .select(
            "id",
            F.map_from_arrays(
                F.array(F.lit("name")),
                F.array(
                    F.concat(
                        F.lit("Trolleybus "),
                        (F.col("id") % 30 + 1).cast("string"),
                    )
                ),
            ).alias("tags"),
            F.transform(
                F.col("pm"),
                lambda x: F.struct(
                    x["type"].alias("type"),
                    x["ref"].alias("ref"),
                    x["role"].alias("role"),
                ),
            ).alias("members"),
        )
    )


def _q35_ways(spark, sf_dir):
    p = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("id"),
        F.expr(_Q35_TW).alias("tw"),
        F.expr(_Q35_TWF).alias("twf"),
        F.expr(_Q35_TWB).alias("twb"),
    )
    entries = F.filter(
        F.array(
            F.struct(F.lit("trolley_wire").alias("key"), F.col("tw").alias("value")),
            F.struct(
                F.lit("trolley_wire:forward").alias("key"), F.col("twf").alias("value")
            ),
            F.struct(
                F.lit("trolley_wire:backward").alias("key"), F.col("twb").alias("value")
            ),
        ),
        lambda e: e["value"].isNotNull(),
    )
    return p.select("id", F.map_from_entries(entries).alias("tags"))


def q35_trolleybus_wires(spark, sf_dir):
    """Route-relation way membership + per-way trolley_wire tag check
    (TrolleybusWireAnalyzer.cs Run), driven through the real nested-
    relation path: members array -> resolve_relation_members -> tag join
    -> native classification when-chain."""
    from osmalyzer_spark.plans.analyzers import trolleybus_wire_check

    out = trolleybus_wire_check(_q35_routes(spark, sf_dir), _q35_ways(spark, sf_dir))
    return out.select("relation_id", "route_name", "way_id", "issue")


_ORACLES["q35_trolleybus_wires"] = f"""
    WITH mem AS (
        SELECT l_orderkey AS relation_id,
               CASE WHEN l_linenumber % 5 = 4 THEN 'node' ELSE 'way' END AS member_type,
               CASE WHEN l_linenumber % 7 = 6 THEN l_partkey + 1000000
                    ELSE l_partkey END AS member_ref,
               CASE WHEN l_linenumber % 4 = 3 THEN 'platform'
                    WHEN l_linenumber % 4 = 2 THEN 'stop'
                    ELSE '' END AS role
        FROM lineitem WHERE l_orderkey % 13 = 0
    ),
    w AS (
        SELECT p_partkey AS way_id,
               {_Q35_TW} AS tw, {_Q35_TWF} AS twf, {_Q35_TWB} AS twb
        FROM part
    ),
    j AS (
        SELECT relation_id,
               'Trolleybus ' || CAST(relation_id % 30 + 1 AS VARCHAR) AS route_name,
               way_id, tw, twf, twb
        FROM mem JOIN w ON member_ref = way_id
        WHERE member_type = 'way' AND role <> 'platform'
    )
    SELECT relation_id, route_name, way_id, 'conflicting_subvalues' AS issue
    FROM j WHERE tw IS NOT NULL AND (twf IS NOT NULL OR twb IS NOT NULL)
    UNION ALL
    SELECT relation_id, route_name, way_id, 'unknown_value'
    FROM j WHERE tw IS NOT NULL AND twf IS NULL AND twb IS NULL
             AND tw NOT IN ('yes', 'no')
    UNION ALL
    SELECT relation_id, route_name, way_id, 'unknown_forward_value'
    FROM j WHERE tw IS NULL AND twf IS NOT NULL AND twf NOT IN ('yes', 'no')
    UNION ALL
    SELECT relation_id, route_name, way_id, 'unknown_backward_value'
    FROM j WHERE tw IS NULL AND twb IS NOT NULL AND twb NOT IN ('yes', 'no')
    UNION ALL
    SELECT relation_id, route_name, way_id, 'missing'
    FROM j WHERE tw IS NULL AND twf IS NULL AND twb IS NULL
"""


# --------------------------------------------------------------------------
# q36 — IVF ANN on the k-means production quantizer (VERDICT r3 item 6)
#
# q32 gates the IVF machinery on the deterministic by-id centroid set; the
# k-means path was only recall-tested. This query gates REAL Lloyd's
# iterations: kmeans_centroids_exact runs in exact integer arithmetic
# (quantized vectors, int L2 distances via exact-float64 matmul, floor-div
# centroid updates, portable multiplicative-hash seeding), so the oracle
# replays every iteration bit-for-bit in DuckDB as an unrolled CTE chain —
# seed ranking, argmin assignment, per-dimension integer sums, floor-div
# update — then runs the identical nprobe search + exact cosine rerank.
# --------------------------------------------------------------------------

_Q36_K = 8
_Q36_NPROBE = 2
_Q36_TOPK = 3
_Q36_ITER = 3


def q36_ivf_kmeans(spark, sf_dir):
    """IVF ANN with the k-means coarse quantizer (exact-arithmetic Lloyd's,
    similarity.py kmeans_centroids_exact) — distributed partial-sum passes,
    no vector shuffle; assignment + rerank identical to q32."""
    from osmalyzer_spark.operators.similarity import cosine_topk_ivf

    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 20)
    return cosine_topk_ivf(
        emb,
        probes,
        k=_Q36_TOPK,
        n_centroids=_Q36_K,
        nprobe=_Q36_NPROBE,
        centroids="kmeans_exact",
        kmeans_iter=_Q36_ITER,
    )


def _ivf_kmeans_oracle_sql(
    k: int, nprobe: int, topk: int, n_iter: int, dim: int, probe_pred: str
) -> str:
    def dist(qv: str, cq: str) -> str:
        # exact: every term < 2**48, representable in float64
        return (
            f"list_dot_product(CAST({qv} AS DOUBLE[]), CAST({qv} AS DOUBLE[]))"
            f" - 2 * list_dot_product(CAST({qv} AS DOUBLE[]), CAST({cq} AS DOUBLE[]))"
            f" + list_dot_product(CAST({cq} AS DOUBLE[]), CAST({cq} AS DOUBLE[]))"
        )

    parts = [
        f"q AS ({_quantized_emb_cte()})",
        f"""cent0 AS (
          SELECT CAST(rn - 1 AS BIGINT) AS cid, qv AS cq FROM (
            SELECT qv, row_number() OVER (
              ORDER BY (vec_id * 2654435761) % 1000003 ASC, vec_id ASC) AS rn
            FROM q) WHERE rn <= {k})""",
    ]
    for it in range(n_iter):
        parts.append(
            f"""asg{it} AS (
          SELECT q.vec_id, c.cid, row_number() OVER (
            PARTITION BY q.vec_id
            ORDER BY {dist("q.qv", "c.cq")} ASC, c.cid ASC) AS rn
          FROM q CROSS JOIN cent{it} c)"""
        )
        parts.append(
            f"""sums{it} AS (
          SELECT a.cid, t.i, SUM(q.qv[t.i]) AS s, COUNT(*) AS n
          FROM asg{it} a JOIN q USING (vec_id), range(1, {dim + 1}) t(i)
          WHERE a.rn = 1 GROUP BY a.cid, t.i)"""
        )
        # floor division (sign-correct for negative sums), exact because
        # the adjusted numerator is divisible by n
        parts.append(
            f"""cent{it + 1} AS (
          SELECT c.cid, COALESCE(u.cq, c.cq) AS cq
          FROM cent{it} c LEFT JOIN (
            SELECT cid,
                   list(CAST((s - ((s % n + n) % n)) // n AS BIGINT) ORDER BY i) AS cq
            FROM sums{it} GROUP BY cid) u USING (cid))"""
        )
    fin = f"cent{n_iter}"
    parts.append(
        f"""fasg AS (
          SELECT q.vec_id, c.cid, row_number() OVER (
            PARTITION BY q.vec_id
            ORDER BY {dist("q.qv", "c.cq")} ASC, c.cid ASC) AS rn
          FROM q CROSS JOIN {fin} c)"""
    )
    parts.append(
        """cand AS (
          SELECT a.vec_id AS cand_id, a.cid, q.v
          FROM fasg a JOIN q USING (vec_id) WHERE a.rn = 1)"""
    )
    parts.append(
        f"""pr AS (
          SELECT a.vec_id AS probe_id, a.cid, q.v
          FROM fasg a JOIN q USING (vec_id)
          WHERE a.rn <= {nprobe} AND {probe_pred})"""
    )
    parts.append(
        """pairs AS (
          SELECT DISTINCT pr.probe_id, cand.cand_id, pr.v AS pv, cand.v AS cv
          FROM pr JOIN cand ON pr.cid = cand.cid AND pr.probe_id <> cand.cand_id)"""
    )
    cos = (
        "list_dot_product(pv, cv) / (sqrt(list_dot_product(pv, pv)) *"
        " sqrt(list_dot_product(cv, cv)))"
    )
    parts.append(
        f"""ranked AS (
          SELECT probe_id, cand_id, {cos} AS cos,
                 row_number() OVER (
                   PARTITION BY probe_id ORDER BY {cos} DESC, cand_id ASC) AS rank
          FROM pairs)"""
    )
    body = ",\n        ".join(parts)
    return f"""
        WITH {body}
        SELECT probe_id, cand_id, round(cos, 6) AS cosine, rank
        FROM ranked WHERE rank <= {topk}
    """


_ORACLES["q36_ivf_kmeans"] = _ivf_kmeans_oracle_sql(
    k=_Q36_K,
    nprobe=_Q36_NPROBE,
    topk=_Q36_TOPK,
    n_iter=_Q36_ITER,
    dim=_EMB_DIM,
    probe_pred="a.vec_id < 20",
)


# --------------------------------------------------------------------------
# q37 — checkpointed/resumable correlate, gated end-to-end (VERDICT r4
# item 2). Same inputs/params/oracle as q27: candidate-graph components
# are an exact decomposition of the DA fixed point, so the
# component-bucketed resumable path (staging + star CC + Arrow-batched
# small-component solver + one-task giant-component solve) must reproduce
# the global matching row-for-row. Checkpoint state goes to a fresh temp
# dir per invocation — the query gates the full staging/CC/solver/merge
# sandwich, not resume (pytest covers crash/resume separately).
# --------------------------------------------------------------------------


def q37_checkpointed_correlator(spark, sf_dir):
    """J4 resumable variant: checkpointed_correlate (correlator.py) over
    the exact q27 inputs; verified against the same recursive-CTE
    Gale-Shapley oracle."""
    import tempfile

    from osmalyzer_spark.checkpoint import CheckpointedRun
    from osmalyzer_spark.operators.correlator import (
        CorrelatorParams,
        checkpointed_correlate,
    )

    elements = _geo_customers(spark, sf_dir).withColumn(
        "elem_tag", (F.col("elem_id") % 7).cast("string")
    )
    items = _geo_suppliers(spark, sf_dir).withColumn(
        "item_tag", (F.col("item_id") % 7).cast("string")
    )
    params = CorrelatorParams(
        match_distance=150.0,
        unmatch_distance=1500.0,
        strong_extra_distance=3000.0,
        strength_expr=lambda df: F.when(
            F.col("item_tag") == F.col("elem_tag"), F.lit(3)
        ).otherwise(F.lit(1)),
        lone_allowance_expr=lambda df: F.col("elem_id") % 11 == 0,
    )
    ck = CheckpointedRun(
        tempfile.mkdtemp(prefix="q37_ck_"), run_id="q37", n_buckets=8,
        buckets_per_batch=8,
    )
    corr = checkpointed_correlate(spark, elements, items, params, ck)
    return corr.select(
        "kind",
        F.coalesce("osm_id", F.lit(-1)).alias("osm_id"),
        F.coalesce(F.col("item_id").cast("long"), F.lit(-1)).alias("item_id"),
        F.round(F.coalesce("distance", F.lit(-1.0)), 3).alias("distance"),
        F.coalesce("strength", F.lit(0)).alias("strength"),
        F.coalesce("far", F.lit(False)).alias("far"),
    )


_ORACLES["q37_checkpointed_correlator"] = _ORACLES["q27_correlator"]


# --------------------------------------------------------------------------
# q38 — multimodal image round-trip, hash-gated (round 5). The binary
# column ops were pytest-only; this gives the image path a CORRECTNESS
# row. Spark side: synthesize a deterministic 16x16 RGB image per
# customer from an integer pixel formula, run it through the REAL
# from-scratch PNG codec (encode -> binary column -> decode), reduce to
# per-channel pixel means, and gate the JPEG codec with a PSNR>=40
# boolean at q95. Oracle side: PNG is lossless, so DuckDB reproduces the
# means ANALYTICALLY from the same pixel formula over a generated
# (y, x) grid — any codec bug (wrong filter, wrong predictor, channel
# swap, off-by-one crop) breaks the hash.
# --------------------------------------------------------------------------

_Q38_SIDE = 16
_Q38_LIMIT = 300  # customers with c_custkey < 300: plenty, bounded wall


def q38_image_roundtrip(spark, sf_dir):
    """Multimodal gate: per-customer deterministic RGB image -> real PNG
    encode/decode (datagen/png.py) -> channel means; JPEG q95 PSNR>=40
    flag (datagen/jpeg.py). Arrow-batched mapInPandas; payload stays
    binary in the middle stage exactly like a real image column."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    side = _Q38_SIDE

    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < _Q38_LIMIT)
        .select("c_custkey")
        .repartition(16)
    )

    def make_images(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from osmalyzer_spark.datagen.png import png_encode

        yy, xx = np.mgrid[0:side, 0:side]
        for pdf in batches:
            out = []
            for k in pdf["c_custkey"]:
                k = int(k)
                # piecewise-constant over JPEG-block-aligned 8x8 tiles:
                # lossless for PNG by construction and DC-dominated for
                # the q95 JPEG gate (flat blocks quantize near-exactly)
                px = np.stack(
                    [
                        (k * 7919 + (yy // 8) * 131 + (xx // 8) * 17) % 256,
                        (k * 104729 + (yy // 8) * 37 + (xx // 8) * 59) % 256,
                        (k * 1299709 + (yy // 8) * 11 + (xx // 8) * 241) % 256,
                    ],
                    axis=-1,
                ).astype(np.uint8)
                out.append((k, bytearray(png_encode(px))))
            yield pd.DataFrame(out, columns=["c_custkey", "bytes"])

    def measure(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from osmalyzer_spark.datagen.jpeg import jpeg_decode, jpeg_encode
        from osmalyzer_spark.datagen.png import decode_image, psnr

        for pdf in batches:
            out = []
            for k, blob in zip(pdf["c_custkey"], pdf["bytes"]):
                px = decode_image(bytes(blob), "png")
                # exact integer channel sums: no float rounding ties
                # between engines (a /256 mean hits exact half-at-4dp
                # ties where Python banker's and SQL half-up disagree)
                sums = px.reshape(-1, 3).astype(np.int64).sum(axis=0)
                jpeg_ok = bool(
                    psnr(px, jpeg_decode(jpeg_encode(px, quality=95))) >= 40.0
                )
                out.append(
                    (int(k), int(sums[0]), int(sums[1]), int(sums[2]), jpeg_ok)
                )
            yield pd.DataFrame(
                out, columns=["c_custkey", "sum_r", "sum_g", "sum_b", "jpeg_ok"]
            )

    images = cust.mapInPandas(make_images, schema="c_custkey long, bytes binary")
    return images.mapInPandas(
        measure,
        schema=(
            "c_custkey long, sum_r long, sum_g long, sum_b long, jpeg_ok boolean"
        ),
    )


# --------------------------------------------------------------------------
# q39 — multimodal audio round-trip, hash-gated (round 5). Spark side:
# synthesize deterministic int16 PCM per customer, run it through the
# REAL RIFF/WAV codec (encode -> binary column -> decode,
# datagen/wav_adpcm.py) and reduce to an exact integer sum-of-squares +
# sample count; gate the lossy codecs (IMA ADPCM and the OSA1 MDCT
# transform codec) with SNR>=25/40 dB booleans. Oracle: WAV/PCM16 is
# lossless, so DuckDB reproduces sumsq/n analytically from the same
# sample formula — any codec bug (header arithmetic, endianness, block
# alignment, sample crop) breaks the hash.
# --------------------------------------------------------------------------

_Q39_NSAMP = 2048
_Q39_LIMIT = 300


def q39_audio_roundtrip(spark, sf_dir):
    """Multimodal audio gate: per-customer deterministic PCM -> real
    WAV encode/decode -> exact integer sum of squares; ADPCM + MDCT SNR
    flags. Arrow-batched mapInPandas with a real binary payload stage."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    n = _Q39_NSAMP

    # spread the per-row codec work across cores: the filtered key range
    # is one parquet row group = one task otherwise
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < _Q39_LIMIT)
        .select("c_custkey")
        .repartition(16)
    )

    def make_wavs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from osmalyzer_spark.datagen.wav_adpcm import wav_encode

        i = np.arange(n, dtype=np.int64)
        for pdf in batches:
            out = []
            for k in pdf["c_custkey"]:
                k = int(k)
                # triangle wave (no wrap discontinuity: ADPCM tracks
                # smooth ramps; a modular sawtooth's full-scale jumps
                # drop its SNR below any honest gate)
                pcm = (
                    (np.abs(((k * 131 + i * 17) % 8192) - 4096) - 2048) * 8
                ).astype(np.int16)
                out.append((k, bytearray(wav_encode(pcm, 8000, "pcm"))))
            yield pd.DataFrame(out, columns=["c_custkey", "bytes"])

    def measure(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from osmalyzer_spark.datagen.mdct_audio import audio_decode, audio_encode, snr_db
        from osmalyzer_spark.datagen.wav_adpcm import wav_decode, wav_encode

        for pdf in batches:
            out = []
            for k, blob in zip(pdf["c_custkey"], pdf["bytes"]):
                pcm, rate = wav_decode(bytes(blob))
                sumsq = int((pcm.astype(np.int64) ** 2).sum())
                adpcm_rt, _ = wav_decode(wav_encode(pcm, rate, "adpcm"))
                mdct_rt, _ = audio_decode(audio_encode(pcm, rate, 95))
                out.append(
                    (
                        int(k),
                        sumsq,
                        int(pcm.shape[0]),
                        bool(snr_db(pcm, adpcm_rt) >= 25.0),
                        bool(snr_db(pcm, mdct_rt) >= 40.0),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=["c_custkey", "sumsq", "n_samples", "adpcm_ok", "mdct_ok"],
            )

    wavs = cust.mapInPandas(make_wavs, schema="c_custkey long, bytes binary")
    return wavs.mapInPandas(
        measure,
        schema=(
            "c_custkey long, sumsq long, n_samples long, adpcm_ok boolean, "
            "mdct_ok boolean"
        ),
    )


_ORACLES["q39_audio_roundtrip"] = f"""
    WITH idx AS (
      SELECT i.i AS i FROM generate_series(0, {_Q39_NSAMP - 1}) AS i(i)
    ), cust AS (
      SELECT c_custkey FROM customer WHERE c_custkey < {_Q39_LIMIT}
    )
    SELECT
      c.c_custkey,
      CAST(SUM(CAST((ABS(((c.c_custkey * 131 + g.i * 17) % 8192) - 4096) - 2048)
                    * 8 AS BIGINT)
               * ((ABS(((c.c_custkey * 131 + g.i * 17) % 8192) - 4096) - 2048)
                  * 8)) AS BIGINT) AS sumsq,
      COUNT(*) AS n_samples,
      true AS adpcm_ok,
      true AS mdct_ok
    FROM cust c CROSS JOIN idx g
    GROUP BY c.c_custkey
"""


# --------------------------------------------------------------------------
# q40 — multimodal video round-trip, hash-gated (round 5). Spark side:
# per-customer deterministic 6-frame moving scene through the REAL OSV1
# inter-frame codec (datagen/video.py: GOP, motion compensation,
# quantized DCT residuals) with per-frame PSNR>=40 dB gating, measured
# margin 44.1 dB minimum across all keys. The codec is lossy, so the
# oracle checks the structural/boolean invariants (frame count, dims,
# I-frame cadence, PSNR flag) — a regression anywhere in the
# encode/decode chain flips a flag or kills the query.
# --------------------------------------------------------------------------

_Q40_LIMIT = 200
_Q40_H, _Q40_W, _Q40_NF, _Q40_GOP = 48, 64, 6, 3


def q40_video_roundtrip(spark, sf_dir):
    """Multimodal video gate: deterministic per-customer moving scenes ->
    real OSV1 encode/decode -> per-frame PSNR flags + GOP structure."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    h, w, nf, gop = _Q40_H, _Q40_W, _Q40_NF, _Q40_GOP

    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < _Q40_LIMIT)
        .select("c_custkey")
        .repartition(16)
    )

    def measure(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct as _struct

        from osmalyzer_spark.datagen.png import psnr
        from osmalyzer_spark.datagen.video import video_decode, video_encode

        yy, xx = np.mgrid[0:h, 0:w]
        for pdf in batches:
            out = []
            for k in pdf["c_custkey"]:
                k = int(k)
                frames = []
                for t in range(nf):
                    u, v = xx + 2 * t + k % 3, yy + t + k % 2
                    base = np.stack(
                        [
                            120 + 90 * np.sin((u + k % 7) / 17.0),
                            120 + 80 * np.cos((v + k % 5) / 13.0),
                            128 + 60 * np.sin((u + v + k % 11) / 23.0),
                        ],
                        axis=-1,
                    )
                    noise = (
                        ((k * 7919 + yy * 131 + xx * 17 + t * 101) % 7) - 3
                    )[..., None]
                    frames.append(
                        np.clip(base + noise, 0, 255).astype(np.uint8)
                    )
                blob = video_encode(frames, quality=95, gop=gop, search=3)
                dec = video_decode(blob)
                # count I-frames from the real container records
                pos, n_i = 13, 0
                for _ in range(nf):
                    ftype, plen = _struct.unpack_from("<BI", blob, pos)
                    n_i += ftype == 0
                    pos += 5 + plen
                psnr_ok = bool(
                    len(dec) == nf
                    and all(
                        d.shape == (h, w, 3) and psnr(a, d) >= 40.0
                        for a, d in zip(frames, dec)
                    )
                )
                out.append((k, len(dec), w, h, n_i, psnr_ok))
            yield pd.DataFrame(
                out,
                columns=["c_custkey", "n_frames", "w", "h", "i_frames", "psnr_ok"],
            )

    return cust.mapInPandas(
        measure,
        schema=(
            "c_custkey long, n_frames int, w int, h int, i_frames int, "
            "psnr_ok boolean"
        ),
    )


# --------------------------------------------------------------------------
# q41 — pHash image near-dup, hash-gated (round 5). The image analog of
# q21/q22: a REAL perceptual hash (multimodal.phash64_batch: luma ->
# exact area resample -> 2D DCT -> 63 AC sign bits) computed from
# decoded PNG payloads, then banded hamming-LSH candidate join
# (pigeonhole-complete) + native bit_count verify. Per customer the
# query synthesizes THREE images: a base, a +10 global-brightness copy
# (NO clipping by construction: channel values < 246), and a visually
# unrelated high-frequency pattern. The oracle is analytic: dropping
# the DC coefficient makes pHash EXACTLY brightness-invariant, so each
# customer yields exactly ONE near-dup pair (base, bright) at hamming
# 0, the unrelated image never pairs, and the q95-JPEG re-encode of the
# base stays within the stability threshold. Any defect in the PNG or
# JPEG codec, the resampler, the DCT, the band join, or bit_count
# breaks rows/hash. Reference analog: the same dedup discipline as the
# reference's element-identity merging (Core/Correlator.cs), applied to
# the image payload axis of the graft's input_hint.
# --------------------------------------------------------------------------

_Q41_SIDE = 64
_Q41_LIMIT = 120  # c_custkey < 120: present at every sf, bounded wall
_Q41_MAXHAM = 6
_Q41_JPEG_HAM = 8


def q41_phash_neardup(spark, sf_dir):
    """Image near-dup: decode -> pHash -> banded hamming LSH -> verify,
    reduced to per-customer analytic invariants (see block comment)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from osmalyzer_spark.multimodal import phash_images, phash_near_pairs

    side = _Q41_SIDE

    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < _Q41_LIMIT)
        .select("c_custkey")
        .repartition(16)
    )

    def make_images(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from osmalyzer_spark.datagen.png import png_encode

        tiles = side // 8
        for pdf in batches:
            out = []
            for k in pdf["c_custkey"]:
                k = int(k)
                # per-customer seeded rng: every image is an INDEPENDENT
                # random 8x8-tile mosaic (strong, distinct low-frequency
                # content — affine-in-k tile formulas were tried first
                # and defeated by pHash itself: two customers whose
                # pattern offsets nearly coincide mod the value range
                # differ by ~a global brightness shift, which the hash
                # is built to collapse). Channel range [0, 245] so the
                # +10 brightness copy never clips (exact AC invariance).
                rng = np.random.default_rng(900_000 + k)
                base = (
                    rng.integers(0, 246, size=(tiles, tiles, 3), dtype=np.uint8)
                    .repeat(8, axis=0)
                    .repeat(8, axis=1)
                )
                # the unrelated image must also differ in LOW-frequency
                # content (pHash correctly collapses pure high-frequency
                # textures — they all resample to the same 32x32 mush):
                # a second independent mosaic from the same stream
                other = (
                    rng.integers(0, 246, size=(tiles, tiles, 3), dtype=np.uint8)
                    .repeat(8, axis=0)
                    .repeat(8, axis=1)
                )
                out.append((3 * k, k, bytearray(png_encode(base)), "png"))
                out.append(
                    (
                        3 * k + 1,
                        k,
                        bytearray(png_encode(base + np.uint8(10))),
                        "png",
                    )
                )
                out.append((3 * k + 2, k, bytearray(png_encode(other)), "png"))
            yield pd.DataFrame(
                out, columns=["img_id", "c_custkey", "bytes", "fmt"]
            )

    imgs = cust.mapInPandas(
        make_images, schema="img_id long, c_custkey long, bytes binary, fmt string"
    )
    ph = phash_images(imgs).select("img_id", "phash64")
    pairs = phash_near_pairs(
        ph.withColumnRenamed("img_id", "image_id"),
        max_hamming=_Q41_MAXHAM,
        bands=_Q41_MAXHAM + 2,
    )
    per_cust = (
        pairs.withColumn("c_custkey", F.expr("id_a DIV 3"))
        .groupBy("c_custkey")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.max("hamming").cast("int").alias("pair_hamming"),
            F.min(
                (F.col("id_b") == F.col("id_a") + 1)
                & (F.col("id_a") % 3 == 0)
            ).alias("pair_adjacent"),
        )
    )

    def jpeg_stability(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from osmalyzer_spark.datagen.jpeg import jpeg_decode, jpeg_encode
        from osmalyzer_spark.datagen.png import decode_image
        from osmalyzer_spark.multimodal import phash64_batch

        for pdf in batches:
            out = []
            for k, blob in zip(pdf["c_custkey"], pdf["bytes"]):
                px = decode_image(bytes(blob), "png")
                rt = jpeg_decode(jpeg_encode(px, quality=95))
                h0, h1 = phash64_batch([px, rt])
                ham = bin(int(h0) ^ int(h1)).count("1")
                out.append((int(k), bool(ham <= _Q41_JPEG_HAM)))
            yield pd.DataFrame(out, columns=["c_custkey", "jpeg_stable"])

    stab = imgs.filter(F.col("img_id") % 3 == 0).mapInPandas(
        jpeg_stability, schema="c_custkey long, jpeg_stable boolean"
    )
    return per_cust.join(stab, "c_custkey").select(
        "c_custkey", "n_pairs", "pair_hamming", "pair_adjacent", "jpeg_stable"
    )


_ORACLES["q40_video_roundtrip"] = f"""
    SELECT c_custkey,
           {_Q40_NF} AS n_frames,
           {_Q40_W} AS w,
           {_Q40_H} AS h,
           CAST(CEIL({_Q40_NF} / {_Q40_GOP}.0) AS INT) AS i_frames,
           true AS psnr_ok
    FROM customer WHERE c_custkey < {_Q40_LIMIT}
"""


_ORACLES["q38_image_roundtrip"] = f"""
    WITH grid AS (
      SELECT y.y AS y, x.x AS x
      FROM generate_series(0, {_Q38_SIDE - 1}) AS y(y)
      CROSS JOIN generate_series(0, {_Q38_SIDE - 1}) AS x(x)
    ), cust AS (
      SELECT c_custkey FROM customer WHERE c_custkey < {_Q38_LIMIT}
    )
    SELECT
      c.c_custkey,
      CAST(SUM((c.c_custkey * 7919 + (g.y // 8) * 131 + (g.x // 8) * 17) % 256)
           AS BIGINT) AS sum_r,
      CAST(SUM((c.c_custkey * 104729 + (g.y // 8) * 37 + (g.x // 8) * 59) % 256)
           AS BIGINT) AS sum_g,
      CAST(SUM((c.c_custkey * 1299709 + (g.y // 8) * 11 + (g.x // 8) * 241) % 256)
           AS BIGINT) AS sum_b,
      true AS jpeg_ok
    FROM cust c CROSS JOIN grid g
    GROUP BY c.c_custkey
"""


# Fully analytic: brightness-shift AC invariance pins (n_pairs,
# pair_hamming) exactly; the unrelated image and the JPEG stability
# flag are deterministic invariants of the same fixed construction
# (q38 jpeg_ok discipline — the oracle encodes the EXPECTED invariant,
# Spark computes it with the real codecs + hash + LSH join).
_ORACLES["q41_phash_neardup"] = f"""
    SELECT c_custkey,
           CAST(1 AS BIGINT) AS n_pairs,
           CAST(0 AS INT) AS pair_hamming,
           true AS pair_adjacent,
           true AS jpeg_stable
    FROM customer WHERE c_custkey < {_Q41_LIMIT}
"""


# --------------------------------------------------------------------------
# q42-q45 — Validation analyzer group (plans/validators.py)
#
# Shared-node topology validators: BarrierConnectionAnalyzer (q42),
# BridgeAndWaterConnectionAnalyzer (q43), CrossingConsistencyAnalyzer
# (q44), TerminatingWaysAnalyzer (q45). The way table is built from
# lineitem: way id = l_orderkey, membership = distinct (orderkey,
# partkey) pairs ordered by first linenumber, so ways genuinely share
# nodes (partkeys repeat across orders). Tag values are modulo CASEs
# over the way/node id with text valid in BOTH Spark SQL and DuckDB;
# the Spark side assembles REAL (id, tags map, node_ids array) rows and
# runs the native validators, the oracle works the flat membership
# relation directly.
# --------------------------------------------------------------------------


def _case_mod(key: str, mod: int, mapping: dict[int, str]) -> str:
    whens = " ".join(f"WHEN {r} THEN '{v}'" for r, v in mapping.items())
    return f"CASE (({key}) % {mod}) {whens} END"


# way id % 3 == 0 -> barrier way (5 of the 12 values are passable)
_VAL_BARRIER = lambda k: _case_mod(  # noqa: E731
    k,
    36,
    {
        0: "fence", 3: "wall", 6: "hedge", 9: "gate", 12: "lift_gate",
        15: "chain", 18: "retaining_wall", 21: "guard_rail",
        24: "wicket_gate", 27: "cattle_grid", 30: "kerb", 33: "handrail",
    },
)
# way id % 3 == 1 -> highway way; area=yes iff id%7==0; closed iff id%5==0
_VAL_HIGHWAY = lambda k: _case_mod(  # noqa: E731
    k,
    21,
    {
        1: "residential", 4: "footway", 7: "service", 10: "platform",
        13: "path", 16: "track", 19: "primary",
    },
)
# way id % 6 == 2 -> bridge way; id % 6 == 5 -> waterway way
_VAL_BRIDGE = lambda k: _case_mod(k, 12, {2: "yes", 8: "viaduct"})  # noqa: E731
_VAL_WATERWAY = lambda k: _case_mod(  # noqa: E731
    k, 30, {5: "stream", 11: "river", 17: "ditch", 23: "dam", 29: "canal"}
)

_VAL_MEM_SQL = "SELECT DISTINCT l_orderkey AS way_id, l_partkey AS node_id FROM lineitem"


def _val_mem(spark, sf_dir, pred=None) -> DataFrame:
    """(id, node_ids) ways from lineitem membership: distinct parts per
    order, ordered by first linenumber (order matters for endpoints)."""
    li = _t(spark, sf_dir, "lineitem")
    if pred is not None:
        li = li.filter(pred)
    mem = li.groupBy(
        F.col("l_orderkey").alias("id"), F.col("l_partkey").alias("node_id")
    ).agg(F.min("l_linenumber").alias("pos"))
    return mem.groupBy("id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "node_id"))),
            lambda s: s["node_id"],
        ).alias("node_ids")
    )


def _tag_entries(*pairs) -> F.Column:
    """(key, value Column) pairs -> tags map, null values dropped."""
    return F.map_from_entries(
        F.filter(
            F.array(
                *[
                    F.struct(F.lit(k).alias("key"), v.alias("value"))
                    for k, v in pairs
                ]
            ),
            lambda e: e["value"].isNotNull(),
        )
    )


def _val_ways(spark, sf_dir) -> DataFrame:
    w = _val_mem(spark, sf_dir)
    # highway ways with id%5==0 are drawn closed: repeat the first node
    w = w.withColumn(
        "node_ids",
        F.when(
            (F.col("id") % 3 == 1) & (F.col("id") % 5 == 0),
            F.concat("node_ids", F.slice("node_ids", 1, 1)),
        ).otherwise(F.col("node_ids")),
    )
    i = F.col("id")
    tags = _tag_entries(
        ("barrier", F.when(i % 3 == 0, F.expr(_VAL_BARRIER("id")))),
        ("highway", F.when(i % 3 == 1, F.expr(_VAL_HIGHWAY("id")))),
        ("area", F.when((i % 3 == 1) & (i % 7 == 0), F.lit("yes"))),
        ("bridge", F.when(i % 6 == 2, F.expr(_VAL_BRIDGE("id")))),
        ("waterway", F.when(i % 6 == 5, F.expr(_VAL_WATERWAY("id")))),
    )
    return w.select("id", tags.alias("tags"), "node_ids")


def _val_nodes(spark, sf_dir) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    i = F.col("p_partkey")
    return p.select(
        i.alias("id"),
        _tag_entries(("barrier", F.when(i % 11 == 0, F.lit("gate")))).alias("tags"),
        F.expr(synth_lat_sql("p_partkey")).alias("lat"),
        F.expr(synth_lon_sql("p_partkey")).alias("lon"),
    )


def q42_barrier_connections(spark, sf_dir):
    """BarrierConnectionAnalyzer: non-passable barrier ways sharing a
    non-gate node with a routable (non-area, non-closed-platform)
    highway way — one shuffle on node_id after tag filters."""
    from osmalyzer_spark.plans.validators import barrier_connections

    return barrier_connections(_val_ways(spark, sf_dir), _val_nodes(spark, sf_dir))


_ORACLES["q42_barrier_connections"] = f"""
    WITH mem AS ({_VAL_MEM_SQL}),
    dw AS (SELECT DISTINCT way_id FROM mem),
    bar AS (
        SELECT way_id, {_VAL_BARRIER("way_id")} AS barrier_value
        FROM dw WHERE way_id % 3 = 0
          AND {_VAL_BARRIER("way_id")} NOT IN
              ('gate','lift_gate','chain','wicket_gate','cattle_grid')
    ),
    hw AS (
        SELECT way_id, {_VAL_HIGHWAY("way_id")} AS highway_value
        FROM dw WHERE way_id % 3 = 1
          AND way_id % 7 <> 0
          AND NOT ({_VAL_HIGHWAY("way_id")} = 'platform' AND way_id % 5 = 0)
    )
    SELECT m1.node_id AS node_id, b.way_id AS barrier_id, b.barrier_value,
           h.way_id AS highway_id, h.highway_value
    FROM bar b
    JOIN mem m1 ON m1.way_id = b.way_id
    JOIN mem m2 ON m2.node_id = m1.node_id
    JOIN hw h ON h.way_id = m2.way_id AND h.way_id <> b.way_id
    WHERE m1.node_id % 11 <> 0
"""


def q43_bridge_water(spark, sf_dir):
    """BridgeAndWaterConnectionAnalyzer: bridge ways sharing nodes with
    non-dam waterways, grouped with count + average connection coord."""
    from osmalyzer_spark.plans.validators import bridge_water_connections

    out = bridge_water_connections(_val_ways(spark, sf_dir), _val_nodes(spark, sf_dir))
    # round(4): avg() is float-summation-order dependent (q14 discipline)
    return out.select(
        "bridge_id",
        "waterway_id",
        "n_points",
        F.round("avg_lat", 4).alias("avg_lat"),
        F.round("avg_lon", 4).alias("avg_lon"),
    )


_ORACLES["q43_bridge_water"] = f"""
    WITH mem AS ({_VAL_MEM_SQL}),
    dw AS (SELECT DISTINCT way_id FROM mem),
    br AS (SELECT way_id FROM dw WHERE way_id % 6 = 2),
    wt AS (SELECT way_id FROM dw WHERE way_id % 6 = 5
           AND {_VAL_WATERWAY("way_id")} <> 'dam')
    SELECT b.way_id AS bridge_id, w.way_id AS waterway_id,
           COUNT(*) AS n_points,
           round(avg({synth_lat_sql("m1.node_id")}), 4) AS avg_lat,
           round(avg({synth_lon_sql("m1.node_id")}), 4) AS avg_lon
    FROM br b
    JOIN mem m1 ON m1.way_id = b.way_id
    JOIN mem m2 ON m2.node_id = m1.node_id
    JOIN wt w ON w.way_id = m2.way_id
    GROUP BY 1, 2
"""


# q44 fixture: crossing ways are odd ids (path if id%4==1 else footway),
# footway=crossing unless id%3==0; crossing nodes are node_id%3==0.
# Per-tag value CASEs keep way residues odd and node residues ≡0 (mod 3)
# so every branch is reachable; semicolon lists exercise ValuesMatch.
_Q44_WAY_TAGS: dict[str, tuple[int, dict[int, str]]] = {
    "crossing": (8, {1: "marked", 3: "traffic_signals", 5: "uncontrolled"}),
    "crossing:markings": (16, {1: "zebra;dots", 3: "zebra", 5: "dots; zebra", 7: "lines"}),
    "crossing:island": (14, {1: "yes"}),
    "tactile_paving": (6, {1: "no", 3: "yes"}),
    "lit": (10, {1: "yes", 3: "yes", 5: "no"}),
    "button_operated": (12, {1: "yes", 7: "no"}),
    "traffic_signals:sound": (18, {1: "yes", 3: "no"}),
    "traffic_signals:vibration": (20, {1: "yes"}),
    "traffic_calming": (22, {1: "table"}),
}
_Q44_NODE_TAGS: dict[str, tuple[int, dict[int, str]]] = {
    "crossing": (9, {0: "traffic_signals", 3: "uncontrolled"}),
    "crossing:markings": (27, {0: "dots;zebra", 3: "zebra", 6: "zebra ; dots", 9: "surface"}),
    "crossing:island": (21, {0: "no", 3: "yes"}),
    "tactile_paving": (12, {0: "yes", 3: "incorrect", 6: "no"}),
    "lit": (6, {0: "yes", 3: "no"}),
    "button_operated": (15, {0: "no", 3: "yes"}),
    "traffic_signals:sound": (18, {0: "yes", 3: "no", 6: "locally"}),
    "traffic_signals:vibration": (24, {0: "no"}),
    "traffic_calming": (30, {0: "table", 3: "hump"}),
}


def _q44_ways(spark, sf_dir) -> DataFrame:
    w = _val_mem(spark, sf_dir)
    i = F.col("id")
    tags = _tag_entries(
        (
            "highway",
            F.when(i % 2 == 1, F.when(i % 4 == 1, F.lit("path")).otherwise(F.lit("footway"))),
        ),
        ("footway", F.when((i % 2 == 1) & (i % 3 != 0), F.lit("crossing"))),
        *[
            (tag, F.when(i % 2 == 1, F.expr(_case_mod("id", mod, vals))))
            for tag, (mod, vals) in _Q44_WAY_TAGS.items()
        ],
    )
    return w.select("id", tags.alias("tags"), "node_ids")


def _q44_nodes(spark, sf_dir) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    i = F.col("p_partkey")
    tags = _tag_entries(
        ("highway", F.when(i % 3 == 0, F.lit("crossing"))),
        *[
            (tag, F.when(i % 3 == 0, F.expr(_case_mod("p_partkey", mod, vals))))
            for tag, (mod, vals) in _Q44_NODE_TAGS.items()
        ],
    )
    return p.select(i.alias("id"), tags.alias("tags"))


def q44_crossing_consistency(spark, sf_dir):
    """CrossingConsistencyAnalyzer: footway-crossing ways with exactly
    one highway=crossing node; per-tag TagUtils.ValuesMatch comparison
    with the tactile_paving allowance and marked/traffic_signals
    'common' severity."""
    from osmalyzer_spark.plans.validators import crossing_consistency

    return crossing_consistency(_q44_ways(spark, sf_dir), _q44_nodes(spark, sf_dir))


def _vm_sql(a: str, b: str) -> str:
    """TagUtils.ValuesMatch in DuckDB (mirrors tags.values_equal_unordered)."""

    def norm(x: str) -> str:
        return (
            f"list_sort(list_distinct(list_filter("
            f"list_transform(string_split({x}, ';'), t -> trim(t)), t -> t <> '')))"
        )

    return (
        f"(trim({a}) = trim({b}) OR (contains({a}, ';') AND contains({b}, ';')"
        f" AND {norm(a)} = {norm(b)}))"
    )


def _q44_oracle_sql() -> str:
    # reference tag list order, with button_operated genuinely twice
    from osmalyzer_spark.plans.validators import CROSSING_TAGS

    arms = []
    for tag in CROSSING_TAGS:
        wmod, wvals = _Q44_WAY_TAGS[tag]
        nmod, nvals = _Q44_NODE_TAGS[tag]
        wv = _case_mod("way_id", wmod, wvals)
        nv = _case_mod("node_id", nmod, nvals)
        allowed = ""
        if tag == "tactile_paving":
            allowed = f" AND NOT ({wv} = 'no' AND {nv} IN ('yes','incorrect'))"
        arms.append(
            f"SELECT way_id, node_id, '{tag}' AS tag, {wv} AS way_value,"
            f" {nv} AS node_value FROM pairs"
            f" WHERE {wv} IS NOT NULL AND {nv} IS NOT NULL"
            f" AND NOT {_vm_sql(wv, nv)}{allowed}"
        )
    union = "\n        UNION ALL ".join(arms)
    return f"""
    WITH mem AS ({_VAL_MEM_SQL}),
    cw AS (SELECT DISTINCT way_id FROM mem WHERE way_id % 2 = 1 AND way_id % 3 <> 0),
    matched AS (
        SELECT m.way_id, m.node_id FROM mem m JOIN cw USING (way_id)
        WHERE m.node_id % 3 = 0
    ),
    pairs AS (
        SELECT way_id, MIN(node_id) AS node_id FROM matched
        GROUP BY way_id HAVING COUNT(*) = 1
    ),
    iss AS (
        {union}
    ),
    cnt AS (SELECT way_id, node_id, COUNT(*) AS c FROM iss GROUP BY 1, 2)
    SELECT i.way_id, i.node_id, i.tag, i.way_value, i.node_value,
           CASE WHEN c.c > 1 THEN 'bad'
                WHEN i.tag = 'crossing' AND i.way_value = 'marked'
                     AND i.node_value = 'traffic_signals' THEN 'common'
                ELSE 'bad' END AS severity
    FROM iss i JOIN cnt c USING (way_id, node_id)
"""


_ORACLES["q44_crossing_consistency"] = _q44_oracle_sql()


# q45 fixture: membership thinned to (orderkey+partkey)%8==0 so nodes
# average ~4 ways (dead ends exist at all SFs — density is scale-free);
# areas are id%25==0 (closed, kind by id%75: parking / square /
# pedestrian+area=yes — the pedestrian ones are ROUTABLE and block their
# own ring, as in the reference); other ways get highway by id%9 mixing
# routable and non-routable values.
_Q45_HIGHWAY = lambda k: _case_mod(  # noqa: E731
    k,
    9,
    {
        0: "residential", 1: "footway", 2: "proposed", 3: "path",
        4: "service", 5: "raceway", 6: "track", 7: "cycleway",
    },
)
_Q45_ROUTABLE = ("residential", "footway", "path", "service", "track", "cycleway")


def _q45_ways(spark, sf_dir) -> DataFrame:
    w = _val_mem(
        spark, sf_dir, pred=(F.col("l_orderkey") + F.col("l_partkey")) % 8 == 0
    )
    i = F.col("id")
    w = w.withColumn(
        "node_ids",
        F.when(
            i % 25 == 0, F.concat("node_ids", F.slice("node_ids", 1, 1))
        ).otherwise(F.col("node_ids")),
    )
    tags = _tag_entries(
        ("amenity", F.when(i % 75 == 0, F.lit("parking"))),
        ("place", F.when(i % 75 == 25, F.lit("square"))),
        (
            "highway",
            F.when(i % 75 == 50, F.lit("pedestrian")).when(
                i % 25 != 0, F.expr(_Q45_HIGHWAY("id"))
            ),
        ),
        ("area", F.when(i % 75 == 50, F.lit("yes"))),
    )
    return w.select("id", tags.alias("tags"), "node_ids")


def q45_terminating_ways(spark, sf_dir):
    """TerminatingWaysAnalyzer: routable ways dead-ending on parking /
    square / pedestrian area edge rings (exactly one terminating way at
    the ring node, none passing through)."""
    from osmalyzer_spark.plans.validators import terminating_ways

    return terminating_ways(_q45_ways(spark, sf_dir))


_ORACLES["q45_terminating_ways"] = f"""
    WITH mem AS (
        SELECT l_orderkey AS way_id, l_partkey AS node_id, MIN(l_linenumber) AS pos
        FROM lineitem WHERE (l_orderkey + l_partkey) % 8 = 0 GROUP BY 1, 2
    ),
    dw AS (SELECT way_id, COUNT(*) AS n_nodes FROM mem GROUP BY 1),
    areas AS (SELECT way_id AS area_id FROM dw WHERE way_id % 25 = 0),
    routable AS (
        SELECT way_id, n_nodes FROM dw
        WHERE (way_id % 25 <> 0 AND {_Q45_HIGHWAY("way_id")} IN
               ('residential','footway','path','service','track','cycleway'))
           OR way_id % 75 = 50
    ),
    ends AS (
        -- l_linenumber is NOT unique per order in this data: tie-break
        -- by node_id, matching the Spark side's struct(pos, node_id) sort
        SELECT way_id, first(node_id ORDER BY pos, node_id) AS first_node,
               last(node_id ORDER BY pos, node_id) AS last_node
        FROM mem GROUP BY 1
    ),
    inter AS (
        SELECT am.way_id AS area_id, rm.way_id AS way_id, COUNT(*) AS n_inter
        FROM mem am
        JOIN mem rm ON rm.node_id = am.node_id
        WHERE am.way_id IN (SELECT area_id FROM areas)
          AND rm.way_id IN (SELECT way_id FROM routable)
        GROUP BY 1, 2
    ),
    cand AS (
        SELECT a.area_id, rm.node_id, r.way_id,
               -- closed ways (only areas here, way_id%25=0) never
               -- terminate: the closing duplicate defeats both endpoint
               -- rules (TerminatingWaysAnalyzer.cs:111-119)
               CASE WHEN r.n_nodes < 2 THEN NULL
                    WHEN (rm.node_id = e.first_node OR rm.node_id = e.last_node)
                         AND i.n_inter = 1 AND r.way_id % 25 <> 0 THEN 'term'
                    ELSE 'pass' END AS cls
        FROM areas a
        JOIN mem am ON am.way_id = a.area_id
        JOIN mem rm ON rm.node_id = am.node_id
        JOIN routable r ON r.way_id = rm.way_id
        JOIN ends e ON e.way_id = r.way_id
        JOIN inter i ON i.area_id = a.area_id AND i.way_id = r.way_id
    ),
    per_node AS (
        SELECT area_id, node_id,
               COUNT(*) FILTER (WHERE cls = 'term') AS n_term,
               COUNT(*) FILTER (WHERE cls = 'pass') AS n_pass,
               MIN(way_id) FILTER (WHERE cls = 'term') AS way_id
        FROM cand GROUP BY 1, 2
    )
    SELECT area_id, node_id, way_id FROM per_node
    WHERE n_term = 1 AND n_pass = 0
"""


# --------------------------------------------------------------------------
# q46 — LifecycleLeftoversAnalyzer (validators.lifecycle_leftovers)
#
# Ways over part: highway iff id%4==1 (CASE residues), railway iff
# id%6 in (2,3) — residue sets chosen so the value CASEs are NULL
# exactly when the key is absent, making the SQL guards implicit. The
# plain lifecycle tags fire on their own modulos (values include the
# exception cases construction=minor / disused=yes / abandoned=yes and
# lifecycle MAIN values like highway=proposed that re-enable them);
# compound keys `construction:<hv>` / `disused:<rv>` are RUNTIME-
# COMPUTED map keys on the Spark side.
# --------------------------------------------------------------------------

_Q46_HV = lambda k: _case_mod(  # noqa: E731
    k, 20, {1: "residential", 5: "primary", 9: "proposed", 13: "construction", 17: "track"}
)
_Q46_RV = lambda k: _case_mod(  # noqa: E731
    k, 12, {2: "rail", 3: "disused", 8: "abandoned", 9: "narrow_gauge"}
)
# plain lifecycle-tag values: present iff the CASE is non-null
_Q46_PLAIN: dict[str, str] = {
    "proposed": "CASE (({k}) % 10) WHEN 0 THEN 'yes' WHEN 5 THEN 'primary' END",
    "construction": "CASE (({k}) % 14) WHEN 0 THEN 'minor' WHEN 7 THEN 'yes' END",
    "planned": "CASE (({k}) % 9) WHEN 0 THEN 'yes' END",
    "abandoned": "CASE (({k}) % 8) WHEN 0 THEN 'yes' END",
    "disused": "CASE (({k}) % 22) WHEN 0 THEN 'yes' WHEN 11 THEN 'rail' END",
    "razed": "CASE (({k}) % 13) WHEN 0 THEN 'yes' END",
}


def _q46_ways(spark, sf_dir) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    i = F.col("p_partkey")
    hv = F.expr(_Q46_HV("p_partkey"))
    rv = F.expr(_Q46_RV("p_partkey"))
    entries = [
        F.struct(F.lit("highway").alias("key"), hv.alias("value")),
        F.struct(F.lit("railway").alias("key"), rv.alias("value")),
    ]
    for tag, tmpl in _Q46_PLAIN.items():
        entries.append(
            F.struct(
                F.lit(tag).alias("key"),
                F.expr(tmpl.format(k="p_partkey")).alias("value"),
            )
        )
    # runtime-computed compound lifecycle keys
    entries.append(
        F.struct(
            F.concat(F.lit("construction:"), hv).alias("key"),
            F.when(hv.isNotNull() & (i % 17 == 0), F.lit("minor")).alias("value"),
        )
    )
    entries.append(
        F.struct(
            F.concat(F.lit("disused:"), rv).alias("key"),
            F.when(rv.isNotNull() & (i % 19 == 0), F.lit("yes")).alias("value"),
        )
    )
    tags = F.map_from_entries(
        F.filter(F.array(*entries), lambda e: e["value"].isNotNull())
    )
    return p.select(i.alias("id"), tags.alias("tags"))


def q46_lifecycle_leftovers(spark, sf_dir):
    """LifecycleLeftoversAnalyzer: highway/railway ways still carrying
    proposed/construction/planned/abandoned/disused/razed tags (plain
    AND `<prefix>:<main value>` compound keys), minus the valid
    construction=minor and disused/abandoned=yes-on-live-way cases."""
    from osmalyzer_spark.plans.validators import lifecycle_leftovers

    return lifecycle_leftovers(_q46_ways(spark, sf_dir))


def _q46_oracle_sql() -> str:
    from osmalyzer_spark.plans.validators import LIFECYCLE_PREFIXES

    lifecycle_list = ", ".join(f"'{p}'" for p in LIFECYCLE_PREFIXES)
    arms = []
    for p in LIFECYCLE_PREFIXES:
        vp = _Q46_PLAIN[p].format(k="way_id")
        extra = ""
        if p == "construction":
            extra = f" AND {vp} <> 'minor'"
        if p in ("disused", "abandoned"):
            extra = (
                f" AND NOT ({vp} = 'yes' AND main_value NOT IN ({lifecycle_list}))"
            )
        arms.append(
            f"SELECT way_id, main_tag, main_value, '{p}' AS tag, {vp} AS value"
            f" FROM base WHERE {vp} IS NOT NULL AND main_value <> '{p}'{extra}"
        )
    # compound keys exist only as construction:<hv> (id%17) / disused:<rv> (id%19)
    arms.append(
        "SELECT way_id, main_tag, main_value,"
        " 'construction:' || main_value AS tag, 'minor' AS value"
        " FROM base WHERE main_tag = 'highway' AND way_id % 17 = 0"
        " AND main_value <> 'construction'"
    )
    arms.append(
        "SELECT way_id, main_tag, main_value,"
        " 'disused:' || main_value AS tag, 'yes' AS value"
        " FROM base WHERE main_tag = 'railway' AND way_id % 19 = 0"
        " AND main_value <> 'disused'"
    )
    union = "\n    UNION ALL ".join(arms)
    return f"""
    WITH base AS (
        SELECT p_partkey AS way_id,
               CASE WHEN {_Q46_HV("p_partkey")} IS NOT NULL
                    THEN 'highway' ELSE 'railway' END AS main_tag,
               COALESCE({_Q46_HV("p_partkey")}, {_Q46_RV("p_partkey")}) AS main_value
        FROM part
        WHERE ({_Q46_HV("p_partkey")} IS NOT NULL) <> ({_Q46_RV("p_partkey")} IS NOT NULL)
    )
    {union}
"""


_ORACLES["q46_lifecycle_leftovers"] = _q46_oracle_sql()


# --------------------------------------------------------------------------
# q47 — StreetTaggingContinuityAnalyzer (validators.street_tagging_continuity)
#
# Road-route relations from orders (o%17==0; a network tag on o%34==0
# excludes half), members from their lineitems (l_linenumber%6==5 are
# node members and must be ignored), street ways from part (highway by
# id%5, residue 3 = footway is NOT street-forming). Ways in multiple
# routes arise naturally from partkey reuse and must contribute no
# values. Consistent-tag values: present iff id % m == 0, value =
# prefix || (id % v).
# --------------------------------------------------------------------------

_Q47_HW = lambda k: _case_mod(  # noqa: E731
    k, 5, {0: "residential", 1: "primary", 2: "service", 3: "footway", 4: "track"}
)
# tag -> (presence modulus, value modulus, value prefix)
_Q47_TAGS: dict[str, tuple[int, int, str]] = {
    "name": (3, 50, "Street "),
    "name:etymology": (6, 10, "P"),
    "name:etymology:wikipedia": (9, 5, "W"),
    "name:etymology:wikidata": (10, 7, "QE"),
    "wikidata": (4, 100, "Q"),
    "wikipedia": (11, 13, "lv:"),
}


def _q47_ways(spark, sf_dir) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    i = F.col("p_partkey")
    tags = _tag_entries(
        ("highway", F.expr(_Q47_HW("p_partkey"))),
        *[
            (tag, F.when(i % m == 0, F.concat(F.lit(pre), (i % v).cast("string"))))
            for tag, (m, v, pre) in _Q47_TAGS.items()
        ],
    )
    return p.select(i.alias("id"), tags.alias("tags"))


def _q47_routes(spark, sf_dir) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 17 == 0)
    mem = li.select(
        F.col("l_orderkey").alias("id"),
        F.col("l_linenumber").alias("pos"),
        F.when(F.col("l_linenumber") % 6 == 5, F.lit("node"))
        .otherwise(F.lit("way"))
        .alias("type"),
        F.col("l_partkey").alias("ref"),
        F.lit("").alias("role"),
    )
    i = F.col("id")
    tags = _tag_entries(
        ("type", F.lit("route")),
        ("route", F.lit("road")),
        ("network", F.when(i % 34 == 0, F.lit("lv:local"))),
        ("name", F.concat(F.lit("Route "), (i % 100).cast("string"))),
    )
    return (
        mem.groupBy("id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "type", "ref", "role"))),
                lambda x: F.struct(
                    x["type"].alias("type"), x["ref"].alias("ref"), x["role"].alias("role")
                ),
            ).alias("members")
        )
        .select("id", tags.alias("tags"), "members")
    )


def q47_street_continuity(spark, sf_dir):
    """StreetTaggingContinuityAnalyzer: road-route relations whose
    whole-street tags (name / etymology / wikidata / wikipedia) differ
    across their single-route way segments, missing values included."""
    from osmalyzer_spark.plans.validators import street_tagging_continuity

    out = street_tagging_continuity(_q47_ways(spark, sf_dir), _q47_routes(spark, sf_dir))
    return out.select(
        "route_id", "tag", F.col("n_values").cast("long").alias("n_values"), "values"
    )


def _q47_oracle_sql() -> str:
    arms = []
    for tag, (m, v, pre) in _Q47_TAGS.items():
        arms.append(
            f"SELECT route_id, '{tag}' AS tag,"
            f" COALESCE(CASE WHEN way_id % {m} = 0"
            f" THEN '{pre}' || CAST(way_id % {v} AS VARCHAR) END, '<empty>') AS value"
            f" FROM sv"
        )
    union = "\n    UNION ALL ".join(arms)
    return f"""
    WITH m AS (
        SELECT DISTINCT l_orderkey AS route_id, l_partkey AS way_id
        FROM lineitem
        WHERE l_orderkey % 17 = 0 AND l_orderkey % 34 <> 0
          AND l_linenumber % 6 <> 5
    ),
    w AS (
        SELECT p_partkey AS way_id FROM part
        WHERE {_Q47_HW("p_partkey")} IN ('residential','primary','service','track')
    ),
    seg AS (SELECT m.route_id, m.way_id FROM m JOIN w USING (way_id)),
    single AS (
        SELECT way_id FROM seg GROUP BY 1 HAVING COUNT(DISTINCT route_id) = 1
    ),
    sv AS (SELECT s.route_id, s.way_id FROM seg s JOIN single USING (way_id)),
    vals AS (
    {union}
    )
    SELECT route_id, tag, COUNT(DISTINCT value) AS n_values,
           list_aggregate(list_sort(list(DISTINCT value)), 'string_agg', ',') AS values
    FROM vals GROUP BY 1, 2 HAVING COUNT(DISTINCT value) > 1
"""


_ORACLES["q47_street_continuity"] = _q47_oracle_sql()


# --------------------------------------------------------------------------
# q48 — HighwaySpeedLimitAnalyzer (validators.highway_speed_check)
#
# Roads over part with maxspeed/highway/surface/maxspeed:type modulo
# CASEs covering both report groups, the signed/zoned exclusions, and
# the GroupByValues first-present-of-ref/name grouping (elements with
# neither key drop out of the report).
# --------------------------------------------------------------------------

_Q48_HV = lambda k: _case_mod(  # noqa: E731
    k, 7, {0: "primary", 1: "secondary", 2: "residential", 3: "track",
           4: "unclassified", 5: "tertiary", 6: "footway"}
)
_Q48_MS = lambda k: _case_mod(k, 5, {0: "90", 1: "80", 2: "90", 3: "50"})  # noqa: E731
_Q48_SURF = lambda k: _case_mod(  # noqa: E731
    k, 11, {0: "gravel", 1: "asphalt", 2: "dirt", 3: "paved", 4: "ground",
            5: "concrete", 6: "sand", 7: "sett", 8: "compacted", 10: "chipseal"}
)
_Q48_MT = lambda k: _case_mod(  # noqa: E731
    k, 13, {0: "sign", 1: "LV:zone90", 2: "LV:zone80"}
)


def _q48_ways(spark, sf_dir) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    i = F.col("p_partkey")
    tags = _tag_entries(
        ("highway", F.expr(_Q48_HV("p_partkey"))),
        ("maxspeed", F.expr(_Q48_MS("p_partkey"))),
        ("surface", F.expr(_Q48_SURF("p_partkey"))),
        ("maxspeed:type", F.expr(_Q48_MT("p_partkey"))),
        ("ref", F.when(i % 4 == 0, F.concat(F.lit("P"), (i % 30).cast("string")))),
        ("name", F.when(i % 3 == 0, F.concat(F.lit("Cels "), (i % 40).cast("string")))),
    )
    return p.select(
        i.alias("id"),
        tags.alias("tags"),
        F.expr(synth_lat_sql("p_partkey")).alias("lat"),
        F.expr(synth_lon_sql("p_partkey")).alias("lon"),
    )


def q48_speed_limits(spark, sf_dir):
    """HighwaySpeedLimitAnalyzer: unpaved roads signed 90 / paved roads
    signed 80 (minus explicit signs and speed zones), grouped
    GroupByValues-style by ref-else-name with distinct surfaces and the
    group's average coordinate."""
    from osmalyzer_spark.plans.validators import highway_speed_check

    out = highway_speed_check(_q48_ways(spark, sf_dir))
    return out.select(
        "category", "group_value", "n_segments", "surfaces", "refs", "names",
        F.round("avg_lat", 4).alias("avg_lat"),
        F.round("avg_lon", 4).alias("avg_lon"),
    )


def _q48_oracle_sql() -> str:
    from osmalyzer_spark.plans.validators import (
        PAVED_SURFACES,
        SPEED_ROAD_VALUES,
        UNPAVED_SURFACES,
    )

    roads = ", ".join(f"'{v}'" for v in SPEED_ROAD_VALUES)
    unpaved = ", ".join(f"'{v}'" for v in UNPAVED_SURFACES)
    paved = ", ".join(f"'{v}'" for v in PAVED_SURFACES)
    sorted_join = (
        lambda c: f"COALESCE(list_aggregate(list_sort(list(DISTINCT {c}) "
        f"FILTER (WHERE {c} IS NOT NULL)), 'string_agg', ','), '')"
    )
    return f"""
    WITH base AS (
        SELECT p_partkey AS id,
               {_Q48_MS("p_partkey")} AS ms,
               {_Q48_SURF("p_partkey")} AS surface,
               COALESCE({_Q48_MT("p_partkey")}, '') AS mt,
               CASE WHEN p_partkey % 4 = 0
                    THEN 'P' || CAST(p_partkey % 30 AS VARCHAR) END AS ref,
               CASE WHEN p_partkey % 3 = 0
                    THEN 'Cels ' || CAST(p_partkey % 40 AS VARCHAR) END AS name,
               {synth_lat_sql("p_partkey")} AS lat,
               {synth_lon_sql("p_partkey")} AS lon
        FROM part
        WHERE {_Q48_MS("p_partkey")} IN ('80', '90')
          AND {_Q48_HV("p_partkey")} IN ({roads})
          AND {_Q48_SURF("p_partkey")} IS NOT NULL
    ),
    cat AS (
        SELECT 'unpaved90' AS category, * FROM base
        WHERE ms = '90' AND surface IN ({unpaved})
          AND mt NOT IN ('sign', 'LV:zone90')
        UNION ALL
        SELECT 'paved80' AS category, * FROM base
        WHERE ms = '80' AND surface IN ({paved})
          AND mt NOT IN ('sign', 'LV:zone80')
    ),
    g AS (
        SELECT *, CASE WHEN ref IS NOT NULL THEN ref
                       WHEN name IS NOT NULL THEN name END AS group_value
        FROM cat
    )
    SELECT category, group_value, COUNT(*) AS n_segments,
           {sorted_join("surface")} AS surfaces,
           {sorted_join("ref")} AS refs,
           {sorted_join("name")} AS names,
           round(avg(lat), 4) AS avg_lat,
           round(avg(lon), 4) AS avg_lon
    FROM g WHERE group_value IS NOT NULL
    GROUP BY 1, 2
"""


_ORACLES["q48_speed_limits"] = _q48_oracle_sql()


# --------------------------------------------------------------------------
# q49 — LoneCrossingAnalyzer (validators.lone_crossings)
#
# Crossing nodes = part ids % 3 == 0 over the lineitem way membership;
# parent-way highway values by way%23 mix roads, footways, cycleways,
# pedestrian (BOTH a road and a footway), and no-op classes; railway=
# tram by way%31. Every category branch (road_only / footway_only /
# stray / the valid and cycleway-suppressed non-rows) is populated.
# --------------------------------------------------------------------------

_Q49_HV = lambda k: _case_mod(  # noqa: E731
    k, 23, {0: "primary", 1: "footway", 2: "service", 3: "path", 4: "cycleway",
            5: "track", 6: "pedestrian", 7: "residential", 8: "construction",
            9: "motorway", 11: "living_street", 12: "cycleway", 13: "footway",
            14: "proposed", 15: "tertiary", 16: "unclassified", 17: "path",
            19: "secondary", 20: "raceway", 21: "steps", 22: "bridleway"}
)


def _q49_ways(spark, sf_dir) -> DataFrame:
    # thinned membership (q45 discipline): ~3 ways/node at every SF so
    # single-class and zero-way nodes actually occur
    w = _val_mem(
        spark, sf_dir, pred=(F.col("l_orderkey") + F.col("l_partkey")) % 9 == 0
    )
    i = F.col("id")
    tags = _tag_entries(
        ("highway", F.expr(_Q49_HV("id"))),
        ("railway", F.when(i % 31 == 0, F.lit("tram"))),
    )
    return w.select("id", tags.alias("tags"), "node_ids")


def _q49_nodes(spark, sf_dir) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    i = F.col("p_partkey")
    return p.select(
        i.alias("id"),
        _tag_entries(("highway", F.when(i % 3 == 0, F.lit("crossing")))).alias("tags"),
    )


def q49_lone_crossings(spark, sf_dir):
    """LoneCrossingAnalyzer: crossing nodes classified road_only /
    footway_only / stray from OR-folded parent-way flags (pedestrian
    counts as road AND footway; tram rails count as roads;
    footway-crossing-cycleway emits nothing)."""
    from osmalyzer_spark.plans.validators import lone_crossings

    return lone_crossings(_q49_ways(spark, sf_dir), _q49_nodes(spark, sf_dir))


def _q49_oracle_sql() -> str:
    from osmalyzer_spark.plans.validators import (
        CROSSING_FOOTWAY_VALUES,
        CROSSING_ROAD_VALUES,
    )

    roadl = ", ".join(f"'{v}'" for v in CROSSING_ROAD_VALUES)
    footl = ", ".join(f"'{v}'" for v in CROSSING_FOOTWAY_VALUES)
    return f"""
    WITH mem AS (
        SELECT DISTINCT l_orderkey AS way_id, l_partkey AS node_id
        FROM lineitem WHERE (l_orderkey + l_partkey) % 9 = 0
    ),
    wf AS (
        SELECT way_id,
               {_Q49_HV("way_id")} AS hv,
               CASE WHEN way_id % 31 = 0 THEN 'tram' END AS rv
        FROM (SELECT DISTINCT way_id FROM mem)
    ),
    cn AS (SELECT p_partkey AS node_id FROM part WHERE p_partkey % 3 = 0),
    flags AS (
        SELECT cn.node_id,
               COALESCE(bool_or(hv IN ({roadl})), false) AS road,
               COALESCE(bool_or(hv IN ({footl})), false) AS foot,
               COALESCE(bool_or(hv = 'cycleway'), false) AS cyc,
               COALESCE(bool_or(rv = 'tram'), false) AS rail
        FROM cn
        LEFT JOIN mem m ON m.node_id = cn.node_id
        LEFT JOIN wf ON wf.way_id = m.way_id
        GROUP BY 1
    )
    SELECT node_id,
           CASE WHEN (road OR rail) AND NOT (foot OR cyc) THEN 'road_only'
                WHEN NOT road AND NOT rail AND (foot OR cyc)
                     THEN (CASE WHEN NOT cyc THEN 'footway_only' END)
                WHEN NOT road AND NOT (foot OR cyc) THEN 'stray'
           END AS category
    FROM flags
    WHERE category IS NOT NULL
"""


_ORACLES["q49_lone_crossings"] = _q49_oracle_sql()


# --------------------------------------------------------------------------
# q50 — RestrictionRelationAnalyzer (plans/restrictions.py)
#
# Turn-restriction relations from orders (o%11==0) over a constructed
# road graph from part: way w runs node w -> (mid) -> node w+1, so
# consecutive ways chain at node w+1; every 4th way routes its middle
# through node w+2 (adding +2 branching there, +1 when w%20==0 makes it
# a roundabout). Relation r uses base way b=(r%150)+1 with member-shape
# variations by r%7: 0 clean, 1 detached `to`, 2 via-as-way, 3 missing
# via, 4 double `from`, 5 stray role member, 6 via at a non-terminal
# node. Tag CASEs cover simple/conditional/unknown values, hgv mode,
# exceptions, deprecated and unknown tags. The oracle mirrors the
# validator stage-for-stage over UNION-ALL entry/member CTEs built from
# the same formulas.
# --------------------------------------------------------------------------

_Q50_RESTR = lambda k: _case_mod(  # noqa: E731
    k, 12, {0: "no_left_turn", 1: "no_right_turn", 2: "only_straight_on",
            3: "none", 4: "no_entry", 5: "no_exit", 6: "no_u_turn",
            7: "weird_value", 9: "no_left_turn", 10: "only_left_turn"}
)
_Q50_COND = lambda k: _case_mod(  # noqa: E731
    k, 15, {0: "none @ (22:00-07:00)", 3: "no_left_turn @ (Mo-Fr 07:00-09:00)",
            6: "no_left_turn @ 08:00-21:00", 9: "gibberish"}
)
_Q50_CONDMAIN = lambda k: _case_mod(  # noqa: E731
    k, 15, {0: "none", 3: "no_left_turn", 6: "no_left_turn"}
)
_Q50_CONDCOND = lambda k: _case_mod(  # noqa: E731
    k, 15, {0: "22:00-07:00", 3: "Mo-Fr 07:00-09:00", 6: "08:00-21:00"}
)
_Q50_HGV = lambda k: _case_mod(  # noqa: E731
    k, 18, {0: "no_left_turn", 6: "no_right_turn", 12: "none"}
)
_Q50_HGVC = lambda k: _case_mod(k, 27, {0: "no_right_turn @ (22:00-06:00)"})  # noqa: E731
_Q50_EXC = lambda k: _case_mod(k, 10, {0: "bicycle", 5: "bicycle; hovercraft"})  # noqa: E731
_Q50_WHV = lambda k: _case_mod(  # noqa: E731
    k, 9, {0: "residential", 1: "service", 2: "footway", 3: "primary",
           4: "track", 5: "path", 6: "secondary", 7: "unclassified", 8: "cycleway"}
)


def _q50_relations(spark, sf_dir) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 11 == 0)
    r = F.col("o_orderkey")
    b = (r % 150 + 1).cast("long")
    v7 = r % 7
    tags = _tag_entries(
        ("type", F.lit("restriction")),
        ("restriction", F.expr(_Q50_RESTR("o_orderkey"))),
        ("restriction:conditional", F.expr(_Q50_COND("o_orderkey"))),
        ("restriction:hgv", F.expr(_Q50_HGV("o_orderkey"))),
        ("restriction:hgv:conditional", F.expr(_Q50_HGVC("o_orderkey"))),
        ("restriction:spaceship", F.when(r % 25 == 0, F.lit("no_left_turn"))),
        ("except", F.expr(_Q50_EXC("o_orderkey"))),
        ("day_on", F.when(r % 14 == 0, F.lit("Mo"))),
        ("note", F.when(r % 2 == 0, F.lit("x"))),
        ("maxweight", F.when(r % 35 == 0, F.lit("5"))),
    )

    def mem(mtype, ref, role, cond=None):
        s = F.struct(
            F.lit(mtype).alias("type"), ref.cast("long").alias("ref"),
            F.lit(role).alias("role"),
        )
        return s if cond is None else F.when(cond, s)

    members = F.filter(
        F.array(
            mem("way", b, "from"),
            mem("way", b + 2, "from", v7 == 4),
            mem("node", b + 1, "via", v7.isin(0, 1, 4, 5)),
            mem("way", b + 1, "via", v7 == 2),
            mem("node", b + 100000, "via", v7 == 6),
            mem(
                "way",
                F.when(v7 == 1, b + 3).when(v7 == 2, b + 2).otherwise(b + 1),
                "to",
            ),
            mem("node", b, "stop", v7 == 5),
        ),
        lambda x: x.isNotNull(),
    )
    return o.select(r.alias("id"), tags.alias("tags"), members.alias("members"))


def _q50_ways(spark, sf_dir) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    w = F.col("p_partkey").cast("long")
    node_ids = F.when(w % 4 == 0, F.array(w, w + 2, w + 1)).otherwise(
        F.array(w, w + 100000, w + 1)
    )
    tags = _tag_entries(
        ("highway", F.expr(_Q50_WHV("p_partkey"))),
        ("junction", F.when(w % 20 == 0, F.lit("roundabout"))),
    )
    return p.select(w.alias("id"), tags.alias("tags"), node_ids.alias("node_ids"))


def q50_turn_restrictions(spark, sf_dir):
    """RestrictionRelationAnalyzer end-to-end: tag grammar, per-mode
    conditional pairing, member-role structure, from->via->to chain
    connectivity, pointless two-way-node turns, and inter-conflicting /
    duplicate restriction groups — one issue row each."""
    from osmalyzer_spark.plans.restrictions import turn_restriction_check

    return turn_restriction_check(
        _q50_relations(spark, sf_dir), _q50_ways(spark, sf_dir)
    )


def _q50_oracle_sql() -> str:
    from osmalyzer_spark.plans.restrictions import (
        BRANCHING_HIGHWAY_VALUES,
        DIRECTIONAL_VALUES,
        KNOWN_RESTRICTION_VALUES,
    )

    known = ", ".join(f"'{v}'" for v in KNOWN_RESTRICTION_VALUES)
    directional = ", ".join(f"'{v}'" for v in DIRECTIONAL_VALUES)
    allowed_hw = ", ".join(f"'{v}'" for v in BRANCHING_HIGHWAY_VALUES)
    k = "rel"
    return f"""
    WITH r AS (
        SELECT o_orderkey AS rel, (o_orderkey % 150 + 1) AS b,
               o_orderkey % 7 AS v7
        FROM orders WHERE o_orderkey % 11 = 0
    ),
    entries AS (
        SELECT rel, '' AS mode, false AS is_cond,
               CASE WHEN {_Q50_RESTR(k)} IN ({known})
                    THEN 'simple' ELSE 'unknown' END AS vclass,
               {_Q50_RESTR(k)} AS main, NULL AS cond,
               'restriction' AS key, {_Q50_RESTR(k)} AS value
        FROM r WHERE {_Q50_RESTR(k)} IS NOT NULL
        UNION ALL
        SELECT rel, '', true,
               CASE WHEN {_Q50_CONDMAIN(k)} IS NOT NULL
                    THEN 'cond' ELSE 'unknown' END,
               {_Q50_CONDMAIN(k)}, {_Q50_CONDCOND(k)},
               'restriction:conditional', {_Q50_COND(k)}
        FROM r WHERE {_Q50_COND(k)} IS NOT NULL
        UNION ALL
        SELECT rel, 'hgv', false, 'simple', {_Q50_HGV(k)}, NULL,
               'restriction:hgv', {_Q50_HGV(k)}
        FROM r WHERE {_Q50_HGV(k)} IS NOT NULL
        UNION ALL
        SELECT rel, 'hgv', true, 'cond', 'no_right_turn', '22:00-06:00',
               'restriction:hgv:conditional', {_Q50_HGVC(k)}
        FROM r WHERE {_Q50_HGVC(k)} IS NOT NULL
    ),
    tag_issues AS (
        SELECT rel, 'unknown_restriction_value' AS issue,
               key || '=' || value AS detail
        FROM entries WHERE vclass = 'unknown'
        UNION ALL
        SELECT rel, 'unknown_tag', 'restriction:spaceship=no_left_turn'
        FROM r WHERE rel % 25 = 0
        UNION ALL
        SELECT rel, 'unknown_tag', 'maxweight=5' FROM r WHERE rel % 35 = 0
        UNION ALL
        SELECT rel, 'deprecated_tag', 'day_on=Mo' FROM r WHERE rel % 14 = 0
        UNION ALL
        SELECT rel, 'unknown_exception_mode', 'hovercraft'
        FROM r WHERE rel % 10 = 5
    ),
    pm AS (
        SELECT rel, mode,
               max(CASE WHEN NOT is_cond THEN vclass END) AS p_vclass,
               max(CASE WHEN NOT is_cond THEN main END) AS p_main,
               max(CASE WHEN is_cond THEN vclass END) AS c_vclass,
               max(CASE WHEN is_cond THEN main END) AS c_main,
               max(CASE WHEN is_cond THEN cond END) AS c_cond
        FROM entries GROUP BY 1, 2
    ),
    pair_issues AS (
        SELECT rel, 'flipped_conditional' AS issue,
               mode || ':' || p_main || ' vs none @ ' || c_cond AS detail
        FROM pm WHERE p_vclass = 'simple' AND p_main <> 'none'
                  AND c_vclass = 'cond' AND c_main = 'none'
        UNION ALL
        SELECT rel, 'redundant_conditional', mode || ':' || p_main
        FROM pm WHERE p_vclass = 'simple' AND c_vclass = 'cond'
                  AND p_main = c_main
        UNION ALL
        SELECT rel, 'pointless_none', mode
        FROM pm WHERE p_vclass = 'simple' AND p_main = 'none'
                  AND c_vclass IS NULL
    ),
    pr AS (
        SELECT rel,
               list_sort(list(DISTINCT main)
                   FILTER (WHERE vclass IN ('simple', 'cond'))) AS base_values,
               list_sort(list(DISTINCT mode)) AS modes
        FROM entries GROUP BY 1
    ),
    pr2 AS (
        SELECT rel, base_values, modes,
               list_filter(base_values, v -> v <> 'none') AS non_none
        FROM pr
    ),
    cross_issues AS (
        SELECT rel, 'mixed_restriction_values' AS issue,
               list_aggregate(base_values, 'string_agg', ',') AS detail
        FROM pr2 WHERE len(non_none) > 1
        UNION ALL
        SELECT rel, 'default_and_mode_specific',
               list_aggregate(list_filter(modes, m -> m <> ''), 'string_agg', ',')
        FROM pr2 WHERE len(modes) > 1 AND list_contains(modes, '')
                   AND len(base_values) = 1
    ),
    kind AS (
        SELECT rel,
               CASE WHEN len(non_none) = 1 THEN non_none[1] END AS kind
        FROM pr2
    ),
    members AS (
        SELECT rel, 0 AS pos, 'way' AS mtype, b AS ref, 'from' AS role FROM r
        UNION ALL SELECT rel, 1, 'way', b + 2, 'from' FROM r WHERE v7 = 4
        UNION ALL SELECT rel, 2, 'node', b + 1, 'via' FROM r WHERE v7 IN (0, 1, 4, 5)
        UNION ALL SELECT rel, 2, 'way', b + 1, 'via' FROM r WHERE v7 = 2
        UNION ALL SELECT rel, 2, 'node', b + 100000, 'via' FROM r WHERE v7 = 6
        UNION ALL SELECT rel, 3, 'way',
                         CASE WHEN v7 = 1 THEN b + 3
                              WHEN v7 = 2 THEN b + 2 ELSE b + 1 END, 'to' FROM r
        UNION ALL SELECT rel, 4, 'node', b, 'stop' FROM r WHERE v7 = 5
    ),
    mcls AS (
        SELECT rel, pos, mtype, ref, role,
               CASE WHEN role = 'from' AND mtype = 'way' THEN 'from'
                    WHEN role = 'to' AND mtype = 'way' THEN 'to'
                    WHEN role = 'via' AND mtype = 'node' THEN 'via_node'
                    WHEN role = 'via' AND mtype = 'way' THEN 'via_way'
                    ELSE 'unknown' END AS cls
        FROM members
    ),
    member_issues AS (
        SELECT rel, 'invalid_member' AS issue, role || '/' || mtype AS detail
        FROM mcls WHERE cls = 'unknown'
    ),
    mc AS (
        SELECT r.rel,
               count(*) FILTER (WHERE cls = 'from') AS n_from,
               count(*) FILTER (WHERE cls = 'to') AS n_to,
               count(*) FILTER (WHERE cls IN ('via_node', 'via_way')) AS n_via,
               count(*) FILTER (WHERE cls = 'via_node') AS n_via_node,
               count(*) FILTER (WHERE cls = 'via_way') AS n_via_way,
               count(DISTINCT CASE WHEN cls IN ('via_node', 'via_way')
                     THEN mtype || '/' || CAST(ref AS VARCHAR) END) AS n_via_distinct,
               COALESCE(list_has_any(
                   list(DISTINCT mtype || '/' || CAST(ref AS VARCHAR))
                       FILTER (WHERE cls IN ('via_node', 'via_way')),
                   list(DISTINCT 'way/' || CAST(ref AS VARCHAR))
                       FILTER (WHERE cls = 'from')), false) AS via_eq_from,
               COALESCE(list_has_any(
                   list(DISTINCT mtype || '/' || CAST(ref AS VARCHAR))
                       FILTER (WHERE cls IN ('via_node', 'via_way')),
                   list(DISTINCT 'way/' || CAST(ref AS VARCHAR))
                       FILTER (WHERE cls = 'to')), false) AS via_eq_to,
               arg_min(ref, pos) FILTER (WHERE cls = 'from') AS from_ref,
               arg_min(ref, pos) FILTER (WHERE cls = 'to') AS to_ref,
               min(CASE WHEN cls = 'via_node' THEN ref END) AS via_node_ref,
               arg_min(mtype, pos) FILTER (WHERE cls IN ('via_node', 'via_way')) AS via_type,
               arg_min(ref, pos) FILTER (WHERE cls IN ('via_node', 'via_way')) AS via_ref
        FROM r LEFT JOIN mcls m ON m.rel = r.rel
        GROUP BY 1
    ),
    mk AS (
        SELECT mc.*, k.kind,
               kind IN ('no_u_turn', 'only_u_turn') AS is_uturn
        FROM mc LEFT JOIN kind k USING (rel)
    ),
    role_rows AS (
        SELECT rel, 'missing_from' AS issue FROM mk WHERE n_from = 0
        UNION ALL SELECT rel, 'multiple_from' FROM mk
            WHERE n_from > 1 AND COALESCE(kind, '') <> 'no_entry'
        UNION ALL SELECT rel, 'missing_to' FROM mk WHERE n_to = 0
        UNION ALL SELECT rel, 'multiple_to' FROM mk
            WHERE n_to > 1 AND COALESCE(kind, '') <> 'no_exit'
        UNION ALL SELECT rel, 'missing_via' FROM mk WHERE n_via = 0
        UNION ALL SELECT rel, 'via_as_way' FROM mk
            WHERE n_via = 1 AND n_via_way = 1 AND NOT COALESCE(is_uturn, false)
        UNION ALL SELECT rel, 'via_mixed_multiple' FROM mk
            WHERE n_via > 1 AND COALESCE(is_uturn, false) AND n_via_node > 0
        UNION ALL SELECT rel, 'via_repeated' FROM mk
            WHERE n_via > 1 AND COALESCE(is_uturn, false)
              AND n_via_distinct < n_via
        UNION ALL SELECT rel, 'multiple_via' FROM mk
            WHERE n_via > 1 AND NOT COALESCE(is_uturn, false)
        UNION ALL SELECT rel, 'via_equals_from' FROM mk
            WHERE n_via > 0 AND via_eq_from
        UNION ALL SELECT rel, 'via_equals_to' FROM mk
            WHERE n_via > 0 AND via_eq_to
    ),
    ok AS (
        SELECT mk.* FROM mk
        WHERE NOT EXISTS (SELECT 1 FROM role_rows rr WHERE rr.rel = mk.rel)
    ),
    -- way endpoints by the road-graph construction: w runs w -> w+1
    chains AS (
        SELECT o.rel, o.kind, o.n_via, o.n_via_node, o.via_node_ref,
               CASE WHEN o.via_type = 'node' THEN
                        o.via_ref IN (o.from_ref, o.from_ref + 1)
                        AND o.via_ref IN (o.to_ref, o.to_ref + 1)
                    ELSE
                        (o.from_ref = o.via_ref OR o.from_ref = o.via_ref + 1
                         OR o.from_ref + 1 = o.via_ref OR o.from_ref + 1 = o.via_ref + 1)
                        AND (o.to_ref = o.via_ref OR o.to_ref = o.via_ref + 1
                         OR o.to_ref + 1 = o.via_ref OR o.to_ref + 1 = o.via_ref + 1)
               END AS chained
        FROM ok o
    ),
    chain_issues AS (
        SELECT rel, 'not_chained' AS issue, '' AS detail
        FROM chains WHERE NOT chained
    ),
    hw AS (
        SELECT p_partkey AS w, {_Q50_WHV("p_partkey")} AS hv,
               (p_partkey % 20 = 0) AS rb
        FROM part
    ),
    contrib AS (
        SELECT w AS node_id, 1 AS c FROM hw WHERE hv IN ({allowed_hw})
        UNION ALL
        SELECT w + 1, 1 FROM hw WHERE hv IN ({allowed_hw})
        UNION ALL
        SELECT CASE WHEN w % 4 = 0 THEN w + 2 ELSE w + 100000 END,
               CASE WHEN rb THEN 1 ELSE 2 END
        FROM hw WHERE hv IN ({allowed_hw})
    ),
    branching AS (SELECT node_id, SUM(c) AS n FROM contrib GROUP BY 1),
    pointless AS (
        SELECT c.rel, 'pointless_turn' AS issue, c.kind AS detail
        FROM chains c LEFT JOIN branching br ON br.node_id = c.via_node_ref
        WHERE c.chained AND c.kind IN ({directional})
          AND c.n_via = 1 AND c.n_via_node = 1
          AND COALESCE(br.n, 0) <= 2
    ),
    comp AS (
        SELECT mk.rel, mk.from_ref, mk.via_node_ref, mk.to_ref, mk.kind
        FROM mk
        JOIN pr2 ON pr2.rel = mk.rel AND list_contains(pr2.modes, '')
        WHERE mk.n_from = 1 AND mk.n_to = 1 AND mk.n_via = 1
          AND mk.n_via_node = 1 AND mk.kind IN ({known})
    ),
    grp AS (
        SELECT from_ref, via_node_ref, to_ref, count(*) AS n,
               list_sort(list(DISTINCT kind)) AS kinds
        FROM comp GROUP BY 1, 2, 3 HAVING count(*) > 1
    ),
    conflict_issues AS (
        SELECT c.rel,
               CASE WHEN len(g.kinds) > 1 THEN 'conflicting_restrictions'
                    ELSE 'duplicate_restrictions' END AS issue,
               CASE WHEN len(g.kinds) > 1
                    THEN list_aggregate(g.kinds, 'string_agg', ',')
                    ELSE g.kinds[1] END AS detail
        FROM comp c
        JOIN grp g ON g.from_ref = c.from_ref
                  AND g.via_node_ref = c.via_node_ref AND g.to_ref = c.to_ref
    )
    SELECT rel AS relation_id, issue, detail FROM tag_issues
    UNION ALL SELECT rel, issue, detail FROM pair_issues
    UNION ALL SELECT rel, issue, detail FROM cross_issues
    UNION ALL SELECT rel, issue, detail FROM member_issues
    UNION ALL SELECT rel, issue, '' FROM role_rows
    UNION ALL SELECT rel, issue, detail FROM chain_issues
    UNION ALL SELECT rel, issue, detail FROM pointless
    UNION ALL SELECT rel, issue, detail FROM conflict_issues
"""


_ORACLES["q50_turn_restrictions"] = _q50_oracle_sql()


# --------------------------------------------------------------------------
# q51 — NonDefiningTaggingAnalyzer (validators.non_defining_tagging)
#
# Elements over part (type by id%3) with nine modulo-present keys that
# exercise the taxonomy paths: good exact (building), good prefix
# (disused:shop), per-type-targeted good (type->relations only,
# cycleway->nodes, maritime->ways), poor (source), editorial (note),
# strippable prefix (addr:street), and unmatched (foobar). The oracle
# constant-folds each key's match strength per element type.
# --------------------------------------------------------------------------

_Q51_TYPE = lambda k: _case_mod(k, 3, {0: "node", 1: "way", 2: "relation"})  # noqa: E731
# key -> (presence modulus, value, SQL condition template for 'good')
_Q51_KEYS: dict[str, int] = {
    "building": 5, "disused:shop": 7, "type": 9, "cycleway": 13,
    "maritime": 17, "source": 4, "note": 6, "addr:street": 8, "foobar": 10,
}


def _q51_elements(spark, sf_dir) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    i = F.col("p_partkey")
    tags = _tag_entries(
        *[(key, F.when(i % m == 0, F.lit("v"))) for key, m in _Q51_KEYS.items()]
    )
    return p.select(
        i.alias("id"), F.expr(_Q51_TYPE("p_partkey")).alias("type"), tags.alias("tags")
    )


def q51_non_defining_tags(spark, sf_dir):
    """NonDefiningTaggingAnalyzer: elements whose keys never match a
    good defining-taxonomy row — poorly-defining when a poor key
    (source) is the best match, non-defining when unmatched keys remain
    after editorial/strippable ones."""
    from osmalyzer_spark.plans.validators import non_defining_tagging

    return non_defining_tagging(_q51_elements(spark, sf_dir))


def _q51_oracle_sql() -> str:
    keys_sorted = sorted(_Q51_KEYS)
    key_arms = ", ".join(
        f"CASE WHEN id % {_Q51_KEYS[kk]} = 0 THEN '{kk}' END" for kk in keys_sorted
    )
    return f"""
    WITH e AS (
        SELECT p_partkey AS id, {_Q51_TYPE("p_partkey")} AS type FROM part
    ),
    cls AS (
        SELECT id, type,
               (id % 5 = 0) OR (id % 7 = 0)
                OR (id % 9 = 0 AND type = 'relation')
                OR (id % 13 = 0 AND type = 'node')
                OR (id % 17 = 0 AND type = 'way') AS has_good,
               (id % 4 = 0) AS has_poor,
               (id % 10 = 0)
                OR (id % 9 = 0 AND type <> 'relation')
                OR (id % 13 = 0 AND type <> 'node')
                OR (id % 17 = 0 AND type <> 'way') AS has_unmatched,
               list_aggregate(
                   list_sort(list_filter([{key_arms}], x -> x IS NOT NULL)),
                   'string_agg', ','
               ) AS all_keys
        FROM e
        WHERE (id % 5 = 0) OR (id % 7 = 0) OR (id % 9 = 0) OR (id % 13 = 0)
           OR (id % 17 = 0) OR (id % 4 = 0) OR (id % 6 = 0) OR (id % 8 = 0)
           OR (id % 10 = 0)
    )
    SELECT id AS elem_id, type,
           CASE WHEN has_poor THEN 'poorly_defining'
                ELSE 'non_defining' END AS category,
           CASE WHEN has_poor THEN 'source' ELSE all_keys END AS detail
    FROM cls
    WHERE NOT has_good AND (has_poor OR has_unmatched)
"""


_ORACLES["q51_non_defining_tags"] = _q51_oracle_sql()


# --------------------------------------------------------------------------
# q52 — SpellingAnalyzer (validators.spelling_check)
#
# Named elements over part (name class by id%10) against an embedded
# dictionary: clean names, a misspelling, protected '/' uses (A/S,
# 24/7), a multi-part name whose second part matches name:et (skipped),
# one whose second part doesn't (reported), a platform with a slash
# name (slashes preserved, reported whole), punctuation trim, and a
# per-id varying name family (Gatve G<id%7>) for grouping variety. The
# oracle constant-folds each class's expected (value, part, words).
# --------------------------------------------------------------------------

_Q52_DICT = [
    "Skolas", "iela", "Liela", "parks", "A/S", "Centrs", "Laikupe",
    "24/7", "veikals", "Abc", "Gatve",
]


def _q52_elements(spark, sf_dir) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    i = F.col("p_partkey")
    c = i % 10
    name = (
        F.when(c == 0, F.lit("Skolas iela"))
        .when(c == 1, F.lit("Skolas ielaa"))
        .when(c == 2, F.lit("A/S Centrs"))
        .when(c == 3, F.lit("Liela iela; Skolas parks"))
        .when(c == 4, F.lit("Laikupe / Latioja"))
        .when(c == 5, F.lit("Laikupe / Xyzqw"))
        .when(c == 6, F.lit("Abc/Def"))
        .when(c == 7, F.lit("Skolas, iela"))
        .when(c == 8, F.lit("24/7 veikals"))
        .otherwise(F.concat(F.lit("Gatve G"), (i % 7).cast("string")))
    )
    tags = _tag_entries(
        ("name", name),
        ("name:et", F.when(c.isin(4, 5), F.lit("Latioja"))),
        ("public_transport", F.when(c == 6, F.lit("platform"))),
    )
    return p.select(i.alias("id"), tags.alias("tags"))


def q52_spelling(spark, sf_dir):
    """SpellingAnalyzer: misspelled name parts vs a broadcast dictionary
    — known-'/' protection, platform slash names, foreign-language part
    skipping via name:xx, punctuation-trimmed tokenization, problems
    grouped per (value, part) with element counts."""
    from osmalyzer_spark.plans.validators import spelling_check

    d = spark.createDataFrame([(w,) for w in _Q52_DICT], "word string")
    return spelling_check(_q52_elements(spark, sf_dir), d)


_ORACLES["q52_spelling"] = """
    WITH e AS (SELECT p_partkey AS id, p_partkey % 10 AS c FROM part)
    SELECT 'Skolas ielaa' AS value, 'Skolas ielaa' AS part,
           COUNT(*) AS n_elements, 'ielaa' AS words
    FROM e WHERE c = 1
    UNION ALL
    SELECT 'Laikupe / Xyzqw', 'Xyzqw', COUNT(*), 'Xyzqw' FROM e WHERE c = 5
    UNION ALL
    SELECT 'Abc/Def', 'Abc/Def', COUNT(*), 'Abc/Def' FROM e WHERE c = 6
    UNION ALL
    SELECT 'Gatve G' || CAST(id % 7 AS VARCHAR),
           'Gatve G' || CAST(id % 7 AS VARCHAR),
           COUNT(*), 'G' || CAST(id % 7 AS VARCHAR)
    FROM e WHERE c = 9 GROUP BY id % 7
"""


# --------------------------------------------------------------------------
# q53 — LivingZoneSpeedAnalyzer (plans/roads.py living_zone_speeds)
#
# Living streets over part: maxspeed by id%5 covers the ok (20), the
# whitespace+sign TryParse-ok (" +20 "), the invalid integer (30), the
# non-integer ("abc"), and the untagged branches; id%4 picks the
# living_street subset, the rest are residential and drop out.
# --------------------------------------------------------------------------


def _q53_ways(spark, sf_dir) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    i = F.col("p_partkey")
    tags = _tag_entries(
        ("highway", F.when(i % 4 == 0, F.lit("living_street")).otherwise(F.lit("residential"))),
        ("maxspeed", F.expr(_case_mod("p_partkey", 5, {0: "20", 1: "30", 2: "abc", 3: " +20 "}))),
        ("name", F.when(i % 2 == 0, F.concat(F.lit("Zona "), (i % 9).cast("string")))),
    )
    return p.select(i.alias("id"), tags.alias("tags"))


def q53_living_zone(spark, sf_dir):
    """LivingZoneSpeedAnalyzer: living streets whose maxspeed is present
    but not the integer 20 — C# int.TryParse semantics (surrounding
    whitespace + sign ok), non-integers a separate issue class."""
    from osmalyzer_spark.plans.roads import living_zone_speeds

    return living_zone_speeds(_q53_ways(spark, sf_dir))


_ORACLES["q53_living_zone"] = """
    SELECT p_partkey AS way_id,
           CASE WHEN p_partkey % 2 = 0
                THEN 'Zona ' || CAST(p_partkey % 9 AS VARCHAR) END AS name,
           CASE p_partkey % 5 WHEN 1 THEN '30' WHEN 2 THEN 'abc' END AS maxspeed,
           CASE p_partkey % 5 WHEN 1 THEN 'invalid_value'
                              WHEN 2 THEN 'invalid_format' END AS kind
    FROM part
    WHERE p_partkey % 4 = 0 AND p_partkey % 5 IN (1, 2)
"""


# --------------------------------------------------------------------------
# q54 — HighwaySeasonalSpeedsAnalyzer (plans/roads.py seasonal_speeds)
#
# Ways over part with both maxspeed (id%6: 90/80/"90 km/h"/70/50/absent)
# and maxspeed:conditional (id%7: three seasonal values, a Mo-Fr timed
# value, absent, "snow"/"wet" non-seasonal); highway by id%9 includes one
# excluded class (footway). Every kind branch and the Combos report
# group (all 12 regular x seasonal pairs occur by CRT over mod 126) are
# populated; the oracle constant-folds each (id%6, id%7) class.
# --------------------------------------------------------------------------

_Q54_MS = lambda k: _case_mod(  # noqa: E731
    k, 6, {0: "90", 1: "80", 2: "90 km/h", 3: "70", 4: "50"}
)
_Q54_COND = lambda k: _case_mod(  # noqa: E731
    k, 7, {0: "70 @ (May 1 - Oct 1)", 1: "90 @ (May 1 - Oct 1)",
           2: "30 @ (Mo-Fr 07:00-19:00)", 3: "80 @ wet", 5: "60 @ (snow)",
           6: "50 @ (May 1 - Oct 1)"}
)
_Q54_HV = lambda k: _case_mod(  # noqa: E731
    k, 9, {0: "trunk", 1: "primary", 2: "secondary", 3: "tertiary",
           4: "unclassified", 5: "residential", 6: "service",
           7: "residential", 8: "footway"}
)


def _q54_ways(spark, sf_dir) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    tags = _tag_entries(
        ("highway", F.expr(_Q54_HV("p_partkey"))),
        ("maxspeed", F.expr(_Q54_MS("p_partkey"))),
        ("maxspeed:conditional", F.expr(_Q54_COND("p_partkey"))),
    )
    return p.select(F.col("p_partkey").alias("id"), tags.alias("tags"))


def q54_seasonal_speeds(spark, sf_dir):
    """HighwaySeasonalSpeedsAnalyzer: seasonal maxspeed:conditional vs
    the regular limit — same-limit issues, non-seasonal non-timed
    conditionals, unparseable regular limits, and the distinct
    (regular, seasonal) combo report."""
    from osmalyzer_spark.plans.roads import seasonal_speeds

    return seasonal_speeds(_q54_ways(spark, sf_dir))


_ORACLES["q54_seasonal_speeds"] = """
    WITH e AS (
        SELECT p_partkey AS i FROM part
        WHERE p_partkey % 9 <> 8 AND p_partkey % 7 <> 4 AND p_partkey % 6 <> 5
    )
    SELECT i AS way_id, 'unrecognized' AS kind, CAST(NULL AS BIGINT) AS regular,
           CAST(NULL AS BIGINT) AS conditional, '90 km/h' AS value
    FROM e WHERE i % 6 = 2
    UNION ALL
    SELECT i, 'same_limits', 90, 90, '90 @ (May 1 - Oct 1)'
    FROM e WHERE i % 6 = 0 AND i % 7 = 1
    UNION ALL
    SELECT i, 'same_limits', 70, 70, '70 @ (May 1 - Oct 1)'
    FROM e WHERE i % 6 = 3 AND i % 7 = 0
    UNION ALL
    SELECT i, 'same_limits', 50, 50, '50 @ (May 1 - Oct 1)'
    FROM e WHERE i % 6 = 4 AND i % 7 = 6
    UNION ALL
    SELECT i, 'not_seasonal',
           CASE i % 6 WHEN 0 THEN 90 WHEN 1 THEN 80 WHEN 3 THEN 70 WHEN 4 THEN 50 END,
           CAST(NULL AS BIGINT),
           CASE i % 7 WHEN 3 THEN '80 @ wet' WHEN 5 THEN '60 @ (snow)' END
    FROM e WHERE i % 6 IN (0, 1, 3, 4) AND i % 7 IN (3, 5)
    UNION ALL
    SELECT CAST(NULL AS BIGINT), 'combo', r.r, s.s, CAST(NULL AS VARCHAR)
    FROM (VALUES (90), (80), (70), (50)) r(r), (VALUES (70), (90), (50)) s(s)
"""


# --------------------------------------------------------------------------
# q55 — MaxspeedTypeAnalyzer (plans/roads.py maxspeed_type_check)
#
# Elements over part with one maxspeed:*type* tag each: id%12 picks the
# key layout + value + companion maxspeed so every kind branch fires
# (ok via plain int AND the "NN @ (...)" extract, mismatched urban and
# zone, unrecognized layout, invalid value, advisory non-sign, missing
# and invalid maxspeed, mode-key stripping); id%5 makes nodes for
# unexpected_element, id%11 drops highway for non_highway. The oracle
# constant-folds the kind ladder per class.
# --------------------------------------------------------------------------


def _q55_elements(spark, sf_dir) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    i = F.col("p_partkey")
    c = i % 12
    key = (
        F.when(c == 6, F.lit("maxspeed:type:wtf"))
        .when(c == 7, F.lit("maxspeed:hgv:type"))
        .when(c == 8, F.lit("maxspeed:type:forward"))
        .when(c == 11, F.lit("maxspeed:type:advisory"))
        .otherwise(F.lit("maxspeed:type"))
    )
    val = F.expr(_case_mod("p_partkey", 12, {
        0: "sign", 1: "LV:urban", 2: "LV:urban", 3: "LV:rural",
        4: "LV:zone30", 5: "LV:zone30", 6: "LV:urban", 7: "LV:rural",
        8: "LV:urban", 9: "LV:urban", 10: "nonsense", 11: "LV:urban",
    }))
    ms_key = F.when(c == 7, F.lit("maxspeed:hgv")).otherwise(F.lit("maxspeed"))
    ms_val = F.expr(_case_mod("p_partkey", 12, {
        0: "90", 1: "50", 2: "60", 3: "80 @ (Mo-Fr 06:00-20:00)", 4: "30",
        5: "50", 6: "50", 7: "90", 9: "fifty", 10: "50", 11: "50",
    }))
    hv = F.when(i % 11 != 10, F.lit("residential"))
    entries = F.array(
        F.struct(key.alias("key"), val.alias("value")),
        F.struct(ms_key.alias("key"), ms_val.alias("value")),
        F.struct(F.lit("highway").alias("key"), hv.alias("value")),
    )
    tags = F.map_from_entries(F.filter(entries, lambda e: e["value"].isNotNull()))
    return p.select(
        i.alias("id"),
        F.when(i % 5 == 4, F.lit("node")).otherwise(F.lit("way")).alias("elem_type"),
        tags.alias("tags"),
    )


def q55_maxspeed_type(spark, sf_dir):
    """MaxspeedTypeAnalyzer: every maxspeed:*type* tag classified by the
    nine key layouts, eight value variants (zone carries its own limit),
    then checked against the ":type"-stripped companion maxspeed."""
    from osmalyzer_spark.plans.roads import maxspeed_type_check

    return maxspeed_type_check(_q55_elements(spark, sf_dir))


_ORACLES["q55_maxspeed_type"] = """
    WITH e AS (
        SELECT p_partkey AS i, p_partkey % 12 AS c,
               CASE WHEN p_partkey % 5 = 4 THEN 'node' ELSE 'way' END AS et,
               (p_partkey % 11 = 10) AS nohw
        FROM part
    )
    SELECT i AS elem_id, et AS elem_type,
           CASE c WHEN 6 THEN 'maxspeed:type:wtf'
                  WHEN 7 THEN 'maxspeed:hgv:type'
                  WHEN 8 THEN 'maxspeed:type:forward'
                  WHEN 11 THEN 'maxspeed:type:advisory'
                  ELSE 'maxspeed:type' END AS key,
           CASE c WHEN 0 THEN 'sign' WHEN 3 THEN 'LV:rural'
                  WHEN 4 THEN 'LV:zone30' WHEN 5 THEN 'LV:zone30'
                  WHEN 7 THEN 'LV:rural' WHEN 10 THEN 'nonsense'
                  ELSE 'LV:urban' END AS value,
           CASE WHEN c = 6 THEN 'unrecognized_layout'
                WHEN et = 'node' THEN 'unexpected_element'
                WHEN nohw THEN 'non_highway'
                WHEN c IN (10, 11) THEN 'invalid_value'
                WHEN c = 8 THEN 'missing_maxspeed'
                WHEN c = 9 THEN 'invalid_maxspeed'
                WHEN c IN (2, 5) THEN 'mismatched'
                ELSE 'ok' END AS kind,
           CASE WHEN c = 6 OR et = 'node' OR nohw THEN CAST(NULL AS BIGINT)
                WHEN c = 2 THEN CAST(50 AS BIGINT)
                WHEN c = 5 THEN CAST(30 AS BIGINT) END AS expected
    FROM e
"""


# --------------------------------------------------------------------------
# q56 — BarrierAnalyzer (plans/roads.py barriers_not_on_ways)
#
# Barrier nodes over part (id%40 picks 8 of the 32 values, mixing
# must-be-on-way and standalone-ok flags) against the q49 thinned way
# membership; parent-way qualification ORs the highway list (way%23 via
# the q49 highway CASE), railway=tram (way%31) and man_made=pier
# (way%37). The oracle anti-joins the flat membership relation.
# --------------------------------------------------------------------------

_Q56_BV = lambda k: _case_mod(  # noqa: E731
    k, 40, {0: "gate", 5: "bollard", 10: "cattle_grid", 15: "block",
            20: "lift_gate", 25: "chain", 30: "tank_trap", 35: "stile"}
)


def _q56_nodes(spark, sf_dir) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    tags = _tag_entries(("barrier", F.expr(_Q56_BV("p_partkey"))))
    return p.select(F.col("p_partkey").alias("id"), tags.alias("tags"))


def _q56_ways(spark, sf_dir) -> DataFrame:
    w = _val_mem(
        spark, sf_dir, pred=(F.col("l_orderkey") + F.col("l_partkey")) % 9 == 0
    )
    i = F.col("id")
    tags = _tag_entries(
        ("highway", F.expr(_Q49_HV("id"))),
        ("railway", F.when(i % 31 == 0, F.lit("tram"))),
        ("man_made", F.when(i % 37 == 0, F.lit("pier"))),
    )
    return w.select("id", tags.alias("tags"), "node_ids")


def q56_barriers(spark, sf_dir):
    """BarrierAnalyzer: barrier nodes (32-value list) on no routable
    highway/railway/pier parent way; severity = the value's
    must-be-on-way flag (blocks, bollards etc. stand alone fine)."""
    from osmalyzer_spark.plans.roads import barriers_not_on_ways

    return barriers_not_on_ways(
        _q56_nodes(spark, sf_dir), _q56_ways(spark, sf_dir)
    )


def _q56_oracle_sql() -> str:
    from osmalyzer_spark.plans.roads import (
        BARRIER_VALUES,
        BARRIER_WAY_HIGHWAY_VALUES,
    )

    must = dict(BARRIER_VALUES)
    chosen = ["gate", "bollard", "cattle_grid", "block", "lift_gate",
              "chain", "tank_trap", "stile"]
    hw = ", ".join(f"'{v}'" for v in BARRIER_WAY_HIGHWAY_VALUES)
    bad = " ".join(f"WHEN '{v}' THEN {str(must[v]).lower()}" for v in chosen)
    return f"""
    WITH mem AS (
        SELECT DISTINCT l_orderkey AS way_id, l_partkey AS node_id
        FROM lineitem WHERE (l_orderkey + l_partkey) % 9 = 0
    ),
    wq AS (
        SELECT DISTINCT way_id FROM mem
        WHERE {_Q49_HV("way_id")} IN ({hw})
           OR way_id % 31 = 0 OR way_id % 37 = 0
    ),
    onway AS (SELECT DISTINCT m.node_id FROM mem m JOIN wq USING (way_id)),
    bn AS (
        SELECT p_partkey AS node_id, {_Q56_BV("p_partkey")} AS barrier
        FROM part WHERE {_Q56_BV("p_partkey")} IS NOT NULL
    )
    SELECT bn.node_id, bn.barrier, CASE bn.barrier {bad} END AS bad
    FROM bn LEFT JOIN onway o ON o.node_id = bn.node_id
    WHERE o.node_id IS NULL
"""


_ORACLES["q56_barriers"] = _q56_oracle_sql()


# --------------------------------------------------------------------------
# q57 — DuplicatePlatformsAnalyzer (plans/pt_checks.py duplicate_platforms)
#
# Platform nodes = customers (key%3==0) at synth coords; platform ways =
# suppliers (key%2==0) whose centroid sits at synth(7*key) nudged north
# by (key%5)*0.00007 deg (~0 / 7.8 / 15.6 / 23.4 / 31.1 m), so the 20 m
# radius keeps offsets 0-2 and drops 3-4. The oracle cross-joins with
# the shared haversine.
# --------------------------------------------------------------------------

_Q57_NODE_SQL = (
    "SELECT c_custkey AS id, {lat} AS lat, {lon} AS lon FROM customer "
    "WHERE c_custkey % 3 = 0"
).format(lat=synth_lat_sql("c_custkey"), lon=synth_lon_sql("c_custkey"))
_Q57_WAY_SQL = (
    "SELECT s_suppkey AS id, {lat} + (s_suppkey % 5) * 0.00007 AS lat, "
    "{lon} AS lon FROM supplier WHERE s_suppkey % 2 = 0"
).format(lat=synth_lat_sql("7 * s_suppkey"), lon=synth_lon_sql("7 * s_suppkey"))


def _q57_nodes(spark, sf_dir) -> DataFrame:
    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 3 == 0)
    return c.select(
        F.col("c_custkey").alias("id"),
        _tag_entries(("public_transport", F.lit("platform"))).alias("tags"),
        F.expr(synth_lat_sql("c_custkey")).alias("lat"),
        F.expr(synth_lon_sql("c_custkey")).alias("lon"),
    )


def _q57_ways(spark, sf_dir) -> DataFrame:
    s = _t(spark, sf_dir, "supplier").filter(F.col("s_suppkey") % 2 == 0)
    return s.select(
        F.col("s_suppkey").alias("id"),
        _tag_entries(("public_transport", F.lit("platform"))).alias("tags"),
        (
            F.expr(synth_lat_sql("7 * s_suppkey"))
            + (F.col("s_suppkey") % 5) * 0.00007
        ).alias("lat"),
        F.expr(synth_lon_sql("7 * s_suppkey")).alias("lon"),
    )


def q57_duplicate_platforms(spark, sf_dir):
    """DuplicatePlatformsAnalyzer: public_transport=platform nodes with
    platform way centroids within 20 m (cell-ring radius join, way ids
    collected sorted per node)."""
    from osmalyzer_spark.plans.pt_checks import duplicate_platforms

    return duplicate_platforms(_q57_nodes(spark, sf_dir), _q57_ways(spark, sf_dir))


_ORACLES["q57_duplicate_platforms"] = f"""
    WITH n AS ({_Q57_NODE_SQL}), w AS ({_Q57_WAY_SQL}),
    pairs AS (
        SELECT n.id AS node_id, w.id AS way_id,
               {haversine_sql("n.lat", "n.lon", "w.lat", "w.lon")} AS d
        FROM n CROSS JOIN w
    )
    SELECT node_id, COUNT(*) AS n_dup_ways,
           list_aggregate(list_sort(list(way_id)), 'string_agg', ',') AS way_ids
    FROM pairs WHERE d <= 20.0 GROUP BY node_id
"""


# --------------------------------------------------------------------------
# q58 — PublicTransportAccessAnalyzer (plans/pt_checks.py pt_access_check)
#
# Route relations = orders (key%3==0 thinned) over the lineitem
# membership; route value by key%5 covers bus/tram/trolleybus, an
# excluded railway class, and a disused:route class; member roles and
# types knock out platform members (sum%13) and node members (ref%17).
# Way tags by part-key modulo populate every issue slot and note
# variant; the oracle unions one SELECT per slot over the distinct
# resolved route-way relation.
# --------------------------------------------------------------------------

_Q58_ACCESS = lambda k: _case_mod(  # noqa: E731
    k, 7, {1: "yes", 2: "no", 3: "private", 4: "bus", 5: "permissive",
           6: "destination"}
)
_Q58_BUS = lambda k: _case_mod(  # noqa: E731
    k, 5, {1: "yes", 2: "no", 3: "designated", 4: "hello"}
)
_Q58_VEH = lambda k: _case_mod(k, 3, {1: "yes", 2: "no"})  # noqa: E731
_Q58_PSV = lambda k: _case_mod(k, 8, {1: "no", 2: "yes"})  # noqa: E731
_Q58_OW = lambda k: _case_mod(k, 9, {1: "yes", 2: "no", 3: "-1"})  # noqa: E731
_Q58_OWB = lambda k: _case_mod(k, 10, {3: "no", 7: "yes"})  # noqa: E731
_Q58_OWP = lambda k: _case_mod(k, 11, {4: "no", 5: "yes"})  # noqa: E731


def _q58_routes(spark, sf_dir) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 3 == 0)
    mem = li.groupBy(
        F.col("l_orderkey").alias("id"), F.col("l_partkey").alias("ref")
    ).agg(F.min("l_linenumber").alias("pos"))
    members = mem.groupBy("id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "ref"))),
            lambda s: F.struct(
                F.when(s["ref"] % 17 == 0, F.lit("node"))
                .otherwise(F.lit("way"))
                .alias("type"),
                s["ref"].alias("ref"),
                F.when((F.col("id") + s["ref"]) % 13 == 0, F.lit("platform"))
                .otherwise(F.lit(""))
                .alias("role"),
            ),
        ).alias("members")
    )
    i = F.col("id")
    tags = _tag_entries(
        ("type", F.lit("route")),
        ("route", F.expr(_case_mod("id", 5, {0: "bus", 1: "tram",
                                             2: "trolleybus", 3: "railway"}))),
        ("disused:route", F.when(i % 5 == 4, F.lit("trolleybus"))),
    )
    return members.select("id", tags.alias("tags"), "members")


def _q58_ways(spark, sf_dir) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    tags = _tag_entries(
        ("access", F.expr(_Q58_ACCESS("p_partkey"))),
        ("bus", F.expr(_Q58_BUS("p_partkey"))),
        ("vehicle", F.expr(_Q58_VEH("p_partkey"))),
        ("psv", F.expr(_Q58_PSV("p_partkey"))),
        ("oneway", F.expr(_Q58_OW("p_partkey"))),
        ("oneway:bus", F.expr(_Q58_OWB("p_partkey"))),
        ("oneway:psv", F.expr(_Q58_OWP("p_partkey"))),
    )
    return p.select(F.col("p_partkey").alias("id"), tags.alias("tags"))


def q58_pt_access(spark, sf_dir):
    """PublicTransportAccessAnalyzer: access/bus/vehicle/psv/oneway tag
    validation over the distinct role-'' way members of tram/bus/
    trolleybus route relations — every report group is an independent
    issue slot, so one way can emit several rows."""
    from osmalyzer_spark.plans.pt_checks import pt_access_check

    return pt_access_check(_q58_routes(spark, sf_dir), _q58_ways(spark, sf_dir))


def _q58_oracle_sql() -> str:
    a, b = _Q58_ACCESS("way_id"), _Q58_BUS("way_id")
    v, p = _Q58_VEH("way_id"), _Q58_PSV("way_id")
    ow, owb, owp = _Q58_OW("way_id"), _Q58_OWB("way_id"), _Q58_OWP("way_id")
    return f"""
    WITH w AS (
        SELECT DISTINCT l_partkey AS way_id
        FROM lineitem
        WHERE l_orderkey % 3 = 0
          AND l_orderkey % 5 <> 3
          AND (l_orderkey + l_partkey) % 13 <> 0
          AND l_partkey % 17 <> 0
    ),
    t AS (
        SELECT way_id, {a} AS access, {b} AS bus, {v} AS vehicle,
               {p} AS psv, {ow} AS oneway, {owb} AS oneway_bus,
               {owp} AS oneway_psv
        FROM w
    )
    SELECT way_id, 'blocking_bus' AS issue, bus AS value,
           CAST(NULL AS VARCHAR) AS note
    FROM t WHERE bus = 'no'
    UNION ALL
    SELECT way_id, 'redundant_bus', bus, 'no_access' FROM t
    WHERE bus = 'yes' AND access IS NULL AND vehicle IS NULL
    UNION ALL
    SELECT way_id, 'redundant_bus', bus, 'access_yes' FROM t
    WHERE bus = 'yes' AND access = 'yes'
    UNION ALL
    SELECT way_id, 'redundant_bus', bus, 'vehicle_yes' FROM t
    WHERE bus = 'yes' AND access IS NOT NULL AND access <> 'yes'
      AND vehicle = 'yes'
    UNION ALL
    SELECT way_id, 'bad_bus_on_restricted', access, 'missing_bus' FROM t
    WHERE access IN ('no', 'private', 'destination') AND bus IS NULL
      AND psv IS NULL
    UNION ALL
    SELECT way_id, 'bad_bus_on_restricted', bus, 'unexpected_bus' FROM t
    WHERE access IN ('no', 'private', 'destination') AND bus IS NOT NULL
      AND bus NOT IN ('yes', 'designated') AND psv IS NULL
    UNION ALL
    SELECT way_id, 'bus_over_access_bus', bus, CAST(NULL AS VARCHAR) FROM t
    WHERE access = 'bus' AND bus IS NOT NULL
    UNION ALL
    SELECT way_id, 'unexpected_access', access, CAST(NULL AS VARCHAR) FROM t
    WHERE access IS NOT NULL
      AND access NOT IN ('yes', 'no', 'private', 'destination', 'bus')
    UNION ALL
    SELECT way_id, 'oneway_bus_on_non_oneway', oneway_bus,
           CAST(NULL AS VARCHAR)
    FROM t WHERE oneway = 'no' AND oneway_bus IS NOT NULL
    UNION ALL
    SELECT way_id, 'unexpected_oneway', oneway, CAST(NULL AS VARCHAR) FROM t
    WHERE oneway IS NOT NULL AND oneway NOT IN ('yes', 'no')
    UNION ALL
    SELECT way_id, 'psv_should_be_bus', psv,
           CASE WHEN bus IS NULL THEN 'unset'
                WHEN bus = 'no' THEN 'already_set'
                ELSE 'bus_differs' END
    FROM t WHERE psv = 'no'
    UNION ALL
    SELECT way_id, 'psv_should_be_bus', psv, 'unexpected' FROM t
    WHERE psv IS NOT NULL AND psv <> 'no'
    UNION ALL
    SELECT way_id, 'oneway_psv_should_be_bus', oneway_psv,
           CASE WHEN oneway_bus IS NULL THEN 'unset'
                WHEN oneway_bus = 'no' THEN 'already_set'
                ELSE 'bus_differs' END
    FROM t WHERE oneway_psv = 'no'
    UNION ALL
    SELECT way_id, 'oneway_psv_should_be_bus', oneway_psv, 'unexpected' FROM t
    WHERE oneway_psv IS NOT NULL AND oneway_psv <> 'no'
"""


_ORACLES["q58_pt_access"] = _q58_oracle_sql()


# --------------------------------------------------------------------------
# q59 — PlaygroundAnalyzer (plans/playgrounds.py playground_check)
#
# Equipment = customers (key%3 thinned, key%17==1 carries
# leisure=playground and is excluded by the operator); playgrounds =
# suppliers (key%3==0 nodes, the rest ways; way key%5==0 is a broken
# polygon). Way rings are one concave pentagon template translated to
# the supplier coordinate, so the oracle can ray-cast the same absolute
# vertex arithmetic (plat + literal) that the Spark fixture builds.
# Thresholds widened (300 m node proximity / 1500 m search) so the
# sf0.01 density exercises every classification branch.
# --------------------------------------------------------------------------

_Q59_RING = [
    (-0.0016, -0.0023),
    (-0.0013, 0.0021),
    (0.0019, 0.0017),
    (0.0004, -0.0002),  # notch -> concave
    (0.0017, -0.0021),
]
_Q59_TYPE = lambda k: _case_mod(  # noqa: E731
    k, 4, {0: "swing", 1: "slide", 2: "climbing", 3: "sandpit"}
)


def _q59_ring_crossings_sql(lat: str, lon: str, plat: str, plon: str) -> str:
    """Ray-cast parity count for the translated _Q59_RING template —
    identical edge order, straddle asymmetry, and float association as
    geo/polygon.ring_contains (OsmPolygon.cs:112-128)."""
    terms = []
    n = len(_Q59_RING)
    for a in range(n):
        la, ga = _Q59_RING[a]
        lb, gb = _Q59_RING[a - 1]
        va_lat, va_lon = f"({plat} + {la!r})", f"({plon} + {ga!r})"
        vb_lat, vb_lon = f"({plat} + {lb!r})", f"({plon} + {gb!r})"
        straddle = (
            f"(({va_lon} < {lon} AND {vb_lon} >= {lon})"
            f" OR ({vb_lon} < {lon} AND {va_lon} >= {lon}))"
        )
        cross = (
            f"({va_lat} + ({lon} - {va_lon}) / ({vb_lon} - {va_lon})"
            f" * ({vb_lat} - {va_lat}))"
        )
        terms.append(f"(CASE WHEN {straddle} AND {cross} < {lat} THEN 1 ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def _q59_equipment(spark, sf_dir) -> DataFrame:
    c = _geo_customers(spark, sf_dir)
    i = F.col("elem_id")
    tags = _tag_entries(
        ("playground", F.expr(_Q59_TYPE("elem_id"))),
        ("leisure", F.when(i % 17 == 1, F.lit("playground"))),
    )
    return c.filter(i % 3 != 0).select(
        i.cast("long").alias("id"),
        tags.alias("tags"),
        F.col("elem_lat").alias("lat"),
        F.col("elem_lon").alias("lon"),
    )


def _q59_playgrounds(spark, sf_dir) -> DataFrame:
    s = _geo_suppliers(spark, sf_dir)
    i = F.col("item_id")
    is_node = i % 3 == 0
    has_ring = (~is_node) & (i % 5 != 0)
    ring = F.array(
        *[
            F.struct(
                (F.col("item_lat") + F.lit(d)).alias("lat"),
                (F.col("item_lon") + F.lit(g)).alias("lon"),
            )
            for d, g in _Q59_RING
        ]
    )
    return s.select(
        i.cast("long").alias("id"),
        F.when(is_node, F.lit("node")).otherwise(F.lit("way")).alias("ptype"),
        F.col("item_lat").alias("lat"),
        F.col("item_lon").alias("lon"),
        F.when(has_ring, ring).alias("ring"),
    )


def q59_playgrounds(spark, sf_dir):
    """PlaygroundAnalyzer: equipment vs playground features — polygon
    containment, node proximity, nearest-in-search-radius classification,
    orphans, and broken non-node playground polygons."""
    from osmalyzer_spark.plans.playgrounds import playground_check

    return playground_check(
        _q59_equipment(spark, sf_dir),
        _q59_playgrounds(spark, sf_dir),
        node_proximity_m=300.0,
        search_m=1500.0,
    )


def _q59_oracle_sql() -> str:
    d = haversine_sql("elat", "elon", "plat", "plon")
    xings = _q59_ring_crossings_sql("elat", "elon", "plat", "plon")
    return f"""
    WITH e AS (
        SELECT CAST(elem_id AS BIGINT) AS eq_id,
               {_Q59_TYPE("elem_id")} AS eq_type,
               elem_lat AS elat, elem_lon AS elon
        FROM ({_GEO_CUST_SQL})
        WHERE elem_id % 3 <> 0 AND elem_id % 17 <> 1
    ), p AS (
        SELECT CAST(item_id AS BIGINT) AS pg_id,
               CASE WHEN item_id % 3 = 0 THEN 'node' ELSE 'way' END AS ptype,
               (item_id % 3 <> 0 AND item_id % 5 <> 0) AS has_ring,
               item_lat AS plat, item_lon AS plon
        FROM ({_GEO_SUPP_SQL})
    ), pairs AS (
        SELECT e.eq_id, e.eq_type, e.elat, e.elon,
               p.pg_id, p.ptype, p.has_ring, p.plat, p.plon,
               {d} AS dd,
               (has_ring AND ({xings}) % 2 = 1) AS in_poly
        FROM e CROSS JOIN p
    ), contained AS (
        SELECT DISTINCT eq_id FROM pairs
        WHERE in_poly OR (ptype = 'node' AND dd <= 300.0)
    ), cand AS (
        SELECT * FROM pairs
        WHERE dd <= 1500.0 AND eq_id NOT IN (SELECT eq_id FROM contained)
    ), nearest AS (
        SELECT *, row_number() OVER (
            PARTITION BY eq_id ORDER BY dd ASC, pg_id ASC) AS rn
        FROM cand
    )
    SELECT eq_id, eq_type,
           CASE WHEN ptype = 'node' THEN 'outside_near_node'
                ELSE 'outside_near_area' END AS kind,
           pg_id, round(dd, 2) AS dist_m
    FROM nearest WHERE rn = 1
    UNION ALL
    SELECT eq_id, eq_type, 'orphan' AS kind,
           CAST(NULL AS BIGINT) AS pg_id, CAST(NULL AS DOUBLE) AS dist_m
    FROM e
    WHERE eq_id NOT IN (SELECT eq_id FROM contained)
      AND eq_id NOT IN (SELECT eq_id FROM cand)
    UNION ALL
    SELECT CAST(NULL AS BIGINT) AS eq_id, CAST(NULL AS VARCHAR) AS eq_type,
           'broken_polygon' AS kind, pg_id, CAST(NULL AS DOUBLE) AS dist_m
    FROM p WHERE ptype = 'way' AND NOT has_ring
    """


_ORACLES["q59_playgrounds"] = _q59_oracle_sql()


# --------------------------------------------------------------------------
# q60 — PostCodeAnalyzer (plans/postcodes.py postcode_check)
#
# Elements = customers with synthesized addr:postcode / addr:country /
# amenity tags against the concave PIP_RING boundary. Valid codes span
# a 37-value domain (regions ~25 members) plus a rare 3-value branch
# (sparse regions); key%11 in {3,7} produces the two invalid syntaxes,
# key%13 in {2,4} the foreign/explicit-LV countries, key%10==6 the
# post-office candidates (offices draw from a wider 61-code domain so
# singles, repeats, and unused codes all occur).
# --------------------------------------------------------------------------


def _q60_code_num_sql(k: str) -> str:
    return (
        f"CASE WHEN ({k}) % 100 = 99 THEN 3000 + (({k}) % 3) "
        f"WHEN ({k}) % 10 = 6 THEN 1000 + (({k}) % 61) "
        f"ELSE 1000 + (({k}) % 37) END"
    )


def _q60_postcode_sql(k: str) -> str:
    return (
        f"CASE WHEN ({k}) % 7 = 0 THEN NULL "
        f"WHEN ({k}) % 11 = 3 THEN '1234' "
        f"WHEN ({k}) % 11 = 7 THEN 'LV-12345' "
        f"ELSE 'LV-' || CAST(({_q60_code_num_sql(k)}) AS BIGINT) END"
    )


def _q60_elements(spark, sf_dir) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    i = F.col("c_custkey")
    tags = _tag_entries(
        ("addr:postcode", F.expr(_q60_postcode_sql("c_custkey"))),
        (
            "addr:country",
            F.when(i % 13 == 2, F.lit("EE")).when(i % 13 == 4, F.lit("LV")),
        ),
        ("amenity", F.when(i % 10 == 6, F.lit("post_office"))),
    )
    return c.select(
        i.cast("long").alias("id"),
        tags.alias("tags"),
        F.expr(synth_lat_sql("c_custkey")).alias("lat"),
        F.expr(synth_lon_sql("c_custkey")).alias("lon"),
    )


def q60_postcodes(spark, sf_dir):
    """PostCodeAnalyzer: regions, syntax validation, post-office
    consistency (repeat/unused/missing), and >50 km distant members,
    inside the concave PIP_RING boundary polygon."""
    import numpy as np

    from osmalyzer_spark.geo.polygon import Polygon
    from osmalyzer_spark.plans.postcodes import postcode_check

    poly = Polygon(outers=[np.array(PIP_RING, dtype=float)], polygon_id="lv")
    return postcode_check(_q60_elements(spark, sf_dir), poly)


def _q60_oracle_sql() -> str:
    dist = haversine_sql("r.avg_lat", "r.avg_lon", "m.lat", "m.lon")
    return f"""
    WITH raw AS (
        SELECT CAST(c_custkey AS BIGINT) AS id,
               {_q60_postcode_sql("c_custkey")} AS postcode,
               CASE WHEN c_custkey % 13 = 2 THEN 'EE'
                    WHEN c_custkey % 13 = 4 THEN 'LV' END AS country,
               (c_custkey % 10 = 6) AS is_po,
               {synth_lat_sql("c_custkey")} AS lat,
               {synth_lon_sql("c_custkey")} AS lon
        FROM customer
    ), base AS (
        SELECT *,
               ({_pip_crossings_sql("lat", "lon")}) % 2 = 1 AS inside,
               regexp_matches(postcode, '^LV-[0-9]{{4}}$') AS valid
        FROM raw
    ), b2 AS (
        SELECT *, (is_po AND inside) AS office FROM base
    ), members AS (
        SELECT id, postcode, lat, lon FROM b2
        WHERE NOT office AND postcode IS NOT NULL AND valid
    ), regions AS (
        SELECT postcode, count(*) AS n,
               avg(lat) AS avg_lat, avg(lon) AS avg_lon
        FROM members GROUP BY postcode
    ), off_valid AS (
        SELECT id, postcode FROM b2
        WHERE office AND coalesce(valid, false)
    ), ocounts AS (
        SELECT postcode, count(*) AS n_off FROM off_valid GROUP BY postcode
    ), singles AS (
        SELECT v.id, v.postcode FROM off_valid v
        JOIN ocounts o ON v.postcode = o.postcode AND o.n_off = 1
    )
    SELECT CASE WHEN n < 10 THEN 'region_sparse' ELSE 'region' END AS kind,
           postcode, CAST(NULL AS BIGINT) AS elem_id, n,
           round(avg_lat, 4) AS lat, round(avg_lon, 4) AS lon
    FROM regions
    UNION ALL
    SELECT 'invalid_code', postcode, id, NULL, NULL, NULL
    FROM b2
    WHERE NOT office AND postcode IS NOT NULL AND NOT valid
      AND (country IS NULL OR country = 'LV') AND inside
    UNION ALL
    SELECT 'office_no_postcode', NULL, id, NULL, NULL, NULL
    FROM b2 WHERE office AND postcode IS NULL
    UNION ALL
    SELECT 'office_invalid_code', postcode, id, NULL, NULL, NULL
    FROM b2 WHERE office AND postcode IS NOT NULL AND NOT valid
    UNION ALL
    SELECT 'office_repeat', postcode, NULL, n_off, NULL, NULL
    FROM ocounts WHERE n_off > 1
    UNION ALL
    SELECT 'office_ok', postcode, id, NULL, NULL, NULL FROM singles
    UNION ALL
    SELECT 'office_unused_code', postcode, id, NULL, NULL, NULL
    FROM singles WHERE postcode NOT IN (SELECT postcode FROM regions)
    UNION ALL
    SELECT 'region_no_office', postcode, NULL, n, NULL, NULL
    FROM regions WHERE postcode NOT IN (SELECT postcode FROM singles)
    UNION ALL
    SELECT 'distant', m.postcode, m.id, NULL, NULL, NULL
    FROM members m JOIN regions r ON m.postcode = r.postcode
    WHERE {dist} > 50000.0
    """


_ORACLES["q60_postcodes"] = _q60_oracle_sql()


# --------------------------------------------------------------------------
# q61 — DoubleMappedFeaturesAnalyzer (plans/doublemapped.py)
#
# Areas = parts (key%10 spans the amenity/leisure/place taxonomy incl.
# a bench non-feature, an isolated_dwelling skip, and a
# fitness_station way); rings are a concave hexagon template (closing
# vertex stored, OSM way convention) translated to the part
# coordinate, scaled 20x for key%13==0 so the 0.3 "km2" cap
# (reference formula units — lon deltas in degrees) fires. Nodes =
# customers (key%11 taxonomy incl. the fitness-station-node-with-key
# exception); key%4==1 nodes sit at a derived way's coordinate plus an
# in-ring offset so containment actually fires at sf0.01 density.
# --------------------------------------------------------------------------

# (dlat, dlon) offsets; LAST VERTEX REPEATS THE FIRST (stored-way shape)
_Q61_RING = [
    (-0.00015, -0.0005),
    (-0.00012, 0.0005),
    (0.00018, 0.0004),
    (0.00003, -0.00005),  # notch -> concave
    (0.00016, -0.00045),
    (-0.00015, -0.0005),
]
_Q61_BIG = [(d * 20.0, g * 20.0) for d, g in _Q61_RING]
_Q61_WCLS = lambda k: _case_mod(  # noqa: E731
    k, 10, {0: "amenity|parking", 1: "amenity|school", 2: "leisure|pitch",
            3: "leisure|park", 4: "leisure|playground", 5: "place|square",
            6: "place|isolated_dwelling", 7: "amenity|bench",
            8: "leisure|fitness_station", 9: "place|village"}
)
_Q61_NCLS = lambda k: _case_mod(  # noqa: E731
    k, 11, {0: "amenity|parking", 1: "amenity|school", 2: "leisure|pitch",
            3: "leisure|park", 4: "leisure|playground", 5: "place|square",
            6: "place|village", 7: "amenity|bench",
            8: "leisure|fitness_station", 9: "leisure|marina",
            10: "shop|bakery"}
)
_Q61_IN_DLAT, _Q61_IN_DLON = 0.00005, 0.0001  # lands inside _Q61_RING


def _q61_ring_expr(tpl, lat_col, lon_col) -> F.Column:
    return F.array(
        *[
            F.struct(
                (F.col(lat_col) + F.lit(d)).alias("lat"),
                (F.col(lon_col) + F.lit(g)).alias("lon"),
            )
            for d, g in tpl
        ]
    )


def _q61_ways(spark, sf_dir) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    i = F.col("p_partkey")
    cls = F.expr(_Q61_WCLS("p_partkey"))
    tags = F.map_from_entries(
        F.array(
            F.struct(
                F.split(cls, "\\|")[0].alias("key"),
                F.split(cls, "\\|")[1].alias("value"),
            )
        )
    )
    base = _spread(p).select(
        i.cast("long").alias("id"),
        tags.alias("tags"),
        F.expr(synth_lat_sql("p_partkey")).alias("__wlat"),
        F.expr(synth_lon_sql("p_partkey")).alias("__wlon"),
    )
    ring = F.when(
        F.col("id") % 13 == 0, _q61_ring_expr(_Q61_BIG, "__wlat", "__wlon")
    ).otherwise(_q61_ring_expr(_Q61_RING, "__wlat", "__wlon"))
    return base.select("id", "tags", ring.alias("ring"))


def _q61_nodes(spark, sf_dir) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n_parts = _t(spark, sf_dir, "part").count()
    i = F.col("c_custkey")
    cls = F.expr(_Q61_NCLS("c_custkey"))
    fs_key = F.when(
        (i % 11 == 8) & (i % 3 == 0), F.lit("a")
    )  # equipment piece -> excluded on nodes
    tags = F.map_from_entries(
        F.filter(
            F.array(
                F.struct(
                    F.split(cls, "\\|")[0].alias("key"),
                    F.split(cls, "\\|")[1].alias("value"),
                ),
                F.struct(F.lit("fitness_station").alias("key"), fs_key.alias("value")),
            ),
            lambda e: e["value"].isNotNull(),
        )
    )
    lat = F.when(
        i % 4 == 1,
        F.expr(synth_lat_sql(f"((c_custkey * 7) % {n_parts} + 1)"))
        + F.lit(_Q61_IN_DLAT),
    ).otherwise(F.expr(synth_lat_sql("c_custkey")))
    lon = F.when(
        i % 4 == 1,
        F.expr(synth_lon_sql(f"((c_custkey * 7) % {n_parts} + 1)"))
        + F.lit(_Q61_IN_DLON),
    ).otherwise(F.expr(synth_lon_sql("c_custkey")))
    return _spread(c).select(
        i.cast("long").alias("id"), tags.alias("tags"), lat.alias("lat"), lon.alias("lon")
    )


def q61_double_mapped(spark, sf_dir):
    """DoubleMappedFeaturesAnalyzer: POI nodes on top of a same-class
    area feature — OsmKnowledge taxonomy, the degree-unit 0.3 area cap,
    isolated_dwelling skip, 1 km cheap-distance prefilter, ray-cast
    containment, grouped per area."""
    from osmalyzer_spark.plans.doublemapped import double_mapped_check

    return double_mapped_check(_q61_ways(spark, sf_dir), _q61_nodes(spark, sf_dir))


def _q61_tpl_crossings_sql(tpl, lat, lon, plat, plon) -> str:
    """Ray-cast parity over a translated template ring, same edge order
    (previous-vertex wrap over ALL stored vertices, so the duplicated
    closing vertex contributes a degenerate no-op edge exactly as
    geo/polygon.ring_contains sees it)."""
    terms = []
    n = len(tpl)
    for a in range(n):
        la, ga = tpl[a]
        lb, gb = tpl[a - 1]
        va_lat, va_lon = f"({plat} + {la!r})", f"({plon} + {ga!r})"
        vb_lat, vb_lon = f"({plat} + {lb!r})", f"({plon} + {gb!r})"
        straddle = (
            f"(({va_lon} < {lon} AND {vb_lon} >= {lon})"
            f" OR ({vb_lon} < {lon} AND {va_lon} >= {lon}))"
        )
        cross = (
            f"({va_lat} + ({lon} - {va_lon}) / ({vb_lon} - {va_lon})"
            f" * ({vb_lat} - {va_lat}))"
        )
        terms.append(f"(CASE WHEN {straddle} AND {cross} < {lat} THEN 1 ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def _q61_area_sql(tpl, plat, plon) -> str:
    """GetAreaSize formula over a translated template: the lon delta is
    computed as (plon+g2)-(plon+g1) — NOT the algebraically-equal
    literal g2-g1 — to match Spark's per-vertex float arithmetic, with
    the same left-assoc fold and term order as
    plans/doublemapped.area_size_km2."""
    rad = 3.141592653589793 / 180.0
    seg = "0.0"
    for a in range(len(tpl) - 1):
        d1, g1 = tpl[a]
        d2, g2 = tpl[a + 1]
        term = (
            f"((({plon} + {g2!r}) - ({plon} + {g1!r}))"
            f" * (2.0 + sin(({plat} + {d1!r}) * {rad!r})"
            f" + sin(({plat} + {d2!r}) * {rad!r})))"
        )
        seg = f"({seg} + {term})"
    return f"abs({seg} * 6378137.0 * 6378137.0 / 2.0 / 1000000.0)"


def _q61_avg_sql(tpl, pcol, axis) -> str:
    terms = "0.0"
    for d, g in tpl:
        off = d if axis == "lat" else g
        terms = f"({terms} + ({pcol} + {off!r}))"
    return f"({terms} / {len(tpl)})"


def _q61_oracle_sql() -> str:
    w_small_xings = _q61_tpl_crossings_sql(
        _Q61_RING, "n.nlat", "n.nlon", "a.wlat", "a.wlon"
    )
    small_area = _q61_area_sql(_Q61_RING, "wlat", "wlon")
    big_area = _q61_area_sql(_Q61_BIG, "wlat", "wlon")
    s_alat = _q61_avg_sql(_Q61_RING, "wlat", "lat")
    s_alon = _q61_avg_sql(_Q61_RING, "wlon", "lon")
    b_alat = _q61_avg_sql(_Q61_BIG, "wlat", "lat")
    b_alon = _q61_avg_sql(_Q61_BIG, "wlon", "lon")
    return f"""
    WITH w0 AS (
        SELECT CAST(p_partkey AS BIGINT) AS area_id,
               {_Q61_WCLS("p_partkey")} AS cls,
               (p_partkey % 13 = 0) AS is_big,
               {synth_lat_sql("p_partkey")} AS wlat,
               {synth_lon_sql("p_partkey")} AS wlon
        FROM part
    ), w AS (
        SELECT area_id,
               string_split(cls, '|')[1] AS feature_key,
               string_split(cls, '|')[2] AS feature_value,
               wlat, wlon,
               CASE WHEN is_big THEN {big_area} ELSE {small_area} END AS km2,
               CASE WHEN is_big THEN {b_alat} ELSE {s_alat} END AS alat,
               CASE WHEN is_big THEN {b_alon} ELSE {s_alon} END AS alon,
               is_big
        FROM w0
        WHERE string_split(cls, '|')[1] IN ('amenity', 'leisure', 'place')
          AND NOT (string_split(cls, '|')[1] = 'amenity'
                   AND string_split(cls, '|')[2] = 'bench')
    ), areas AS (
        SELECT * FROM w
        WHERE km2 <= 0.3
          AND NOT (feature_key = 'place' AND feature_value = 'isolated_dwelling')
    ), n0 AS (
        SELECT CAST(c_custkey AS BIGINT) AS node_id,
               {_Q61_NCLS("c_custkey")} AS cls,
               (c_custkey % 11 = 8 AND c_custkey % 3 = 0) AS fs_equipment,
               CASE WHEN c_custkey % 4 = 1
                    THEN {synth_lat_sql("((c_custkey * 7) % (SELECT count(*) FROM part) + 1)")} + {_Q61_IN_DLAT!r}
                    ELSE {synth_lat_sql("c_custkey")} END AS nlat,
               CASE WHEN c_custkey % 4 = 1
                    THEN {synth_lon_sql("((c_custkey * 7) % (SELECT count(*) FROM part) + 1)")} + {_Q61_IN_DLON!r}
                    ELSE {synth_lon_sql("c_custkey")} END AS nlon
        FROM customer
    ), n AS (
        SELECT node_id,
               string_split(cls, '|')[1] AS nkey,
               string_split(cls, '|')[2] AS nval,
               nlat, nlon
        FROM n0
        WHERE string_split(cls, '|')[1] IN ('amenity', 'leisure', 'place')
          AND NOT (string_split(cls, '|')[1] = 'amenity'
                   AND string_split(cls, '|')[2] = 'bench')
          AND NOT fs_equipment
    ), pairs AS (
        SELECT a.area_id, a.feature_key, a.feature_value,
               round(a.km2, 3) AS area_km2, n.node_id
        FROM areas a JOIN n
          ON n.nkey = a.feature_key AND n.nval = a.feature_value
        WHERE NOT a.is_big
          AND sqrt((n.nlat - a.alat) * (n.nlat - a.alat)
                   + (n.nlon - a.alon) * (n.nlon - a.alon)) * 111139.0 <= 1000.0
          AND ({w_small_xings}) % 2 = 1
    )
    SELECT area_id, feature_key, feature_value, area_km2,
           count(*) AS n_nodes,
           string_agg(CAST(node_id AS VARCHAR), ',' ORDER BY node_id) AS node_ids
    FROM pairs
    GROUP BY area_id, feature_key, feature_value, area_km2
    """


_ORACLES["q61_double_mapped"] = _q61_oracle_sql()


# --------------------------------------------------------------------------
# q62 — StreetNameAnalyzer (plans/streetnames.py street_name_check)
#
# Ways = orders (name pool by key%23 covering every cascade branch,
# highway class by key%7 incl. excluded footway/untagged, LVM operator
# only on the two stiga groups so full/partial both occur); routes =
# nation (two clean-matching route names for one way name so the
# lowest-route-id rule is exercised); law roads = region. The oracle
# replays the cascade as chained CTEs with the identical CleanName
# replace order.
# --------------------------------------------------------------------------

_Q62_NAMES = {
    0: "Ozolu iela", 1: "Liepu iela", 2: "Kastanu gatve", 3: "Maza taka",
    4: "Juras prospekts", 5: "iela", 6: "Vecais tirgus", 7: "Jauna osta",
    8: "Riga-Liepaja", 9: "Riga – Ventspils (apvedcels)",
    10: "Valsts autostrade A7", 11: "Daugavas šoseja",
    12: "Meza stiga", 13: "Silu stiga", 14: "Kuldigas lauki",
    15: "Kuldigas — celmi", 16: "Saulespuke",
    17: "Zvaigznu laukums", 18: "Upes dambis", 19: "Annas aleja",
    20: "Rigas līnija", 21: "Ventas krastmala", 22: "Riga-Jelgava",
}
_Q62_NAME = lambda k: _case_mod(k, 23, _Q62_NAMES)  # noqa: E731
_Q62_HW = lambda k: _case_mod(  # noqa: E731
    k, 7, {0: "residential", 1: "service", 2: "track", 3: "footway",
           4: "secondary", 6: "primary"}
)
_Q62_ROUTE_NAME = lambda k: _case_mod(  # noqa: E731
    k, 25, {0: "Riga-Liepaja", 1: "Riga–Ventspils", 2: "Riga-Jelgava",
            3: "Cesis-Valmiera", 4: "Riga - Jelgava"}
)
_Q62_ROUTE_REF = lambda k: _case_mod(  # noqa: E731
    k, 25, {0: "A9", 1: "A10", 2: "A8", 3: "P20", 4: "A8b"}
)
_Q62_LAW_NAME = lambda k: _case_mod(  # noqa: E731
    k, 5, {0: "Valsts autostrade A7 (posms)", 1: "Riga-Liepaja",
           2: "Leju lini", 3: "Aizupes", 4: "Dores"}
)
_Q62_LAW_CODE = lambda k: _case_mod(  # noqa: E731
    k, 5, {0: "A7", 1: "A9L", 2: "L2", 3: "L3", 4: "L4"}
)
_Q62_KNOWN = ["Vecais tirgus", "Jauna osta"]
_Q62_KULDIGA = ["Kuldigas lauki", "Kuldigas-celmi"]


def _q62_ways(spark, sf_dir) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    i = F.col("o_orderkey")
    lvm = F.when(
        ((i % 23 == 12) & (i % 9 == 0)) | (i % 23 == 13),
        F.lit("Latvijas valsts meži"),
    )
    tags = _tag_entries(
        ("name", F.when(i % 31 != 0, F.expr(_Q62_NAME("o_orderkey")))),
        ("highway", F.expr(_Q62_HW("o_orderkey"))),
        ("operator", lvm),
    )
    return o.select(i.cast("long").alias("id"), tags.alias("tags"))


def _q62_routes(spark, sf_dir) -> DataFrame:
    n = _t(spark, sf_dir, "nation")
    return n.select(
        F.col("n_nationkey").cast("long").alias("route_id"),
        F.expr(_Q62_ROUTE_NAME("n_nationkey")).alias("route_name"),
        F.expr(_Q62_ROUTE_REF("n_nationkey")).alias("route_ref"),
    ).filter(F.col("route_name").isNotNull())


def _q62_law(spark, sf_dir) -> DataFrame:
    r = _t(spark, sf_dir, "region")
    return r.select(
        F.expr(_Q62_LAW_CODE("r_regionkey")).alias("law_code"),
        F.expr(_Q62_LAW_NAME("r_regionkey")).alias("law_name"),
    )


def q62_street_names(spark, sf_dir):
    """StreetNameAnalyzer: the street-name recognition cascade — suffix
    stats (zeros included), known names, OSM-route / law full+partial
    matches under CleanName, LVM operator groups, Kuldiga list,
    unknown leftovers."""
    from osmalyzer_spark.plans.streetnames import street_name_check

    return street_name_check(
        spark,
        _q62_ways(spark, sf_dir),
        _q62_routes(spark, sf_dir),
        _q62_law(spark, sf_dir),
        known_names=_Q62_KNOWN,
        kuldiga_names=_Q62_KULDIGA,
    )


def _q62_clean_sql(x: str) -> str:
    s = f"regexp_replace({x}, '\\([^\\)]+\\)', '', 'g')"
    s = f"replace({s}, '  ', ' ')"
    for a, b in (("—", "-"), ("–", "-"), (" - ", "-"), ("- ", "-"), (" -", "-")):
        s = f"replace({s}, '{a}', '{b}')"
    return f"trim({s})"


def _q62_clean_dash_sql(x: str) -> str:
    s = x
    for a, b in (("—", "-"), ("–", "-"), (" - ", "-"), ("- ", "-"), (" -", "-")):
        s = f"replace({s}, '{a}', '{b}')"
    return f"trim({s})"


def _q62_oracle_sql() -> str:
    from osmalyzer_spark.plans.streetnames import KNOWN_SUFFIXES

    sfx_vals = ", ".join(
        f"({i}, '{s}')" for i, s in enumerate(KNOWN_SUFFIXES)
    )
    sfx_case = "CASE " + " ".join(
        f"WHEN length(name) > {len(s)} AND ends_with(lower(name), '{s}') THEN {i}"
        for i, s in enumerate(KNOWN_SUFFIXES)
    ) + " END"
    known_in = ", ".join(f"'{s}'" for s in _Q62_KNOWN)
    kuldiga_clean = [
        s.replace("—", "-").replace("–", "-")
        .replace(" - ", "-").replace("- ", "-").replace(" -", "-").strip()
        for s in _Q62_KULDIGA
    ]
    kuldiga_in = ", ".join(f"'{s}'" for s in kuldiga_clean)
    hw = _Q62_HW("o_orderkey")
    return f"""
    WITH w AS (
        SELECT {_Q62_NAME("o_orderkey")} AS name,
               CASE WHEN ((o_orderkey % 23 = 12 AND o_orderkey % 9 = 0)
                          OR o_orderkey % 23 = 13) THEN 1 ELSE 0 END AS lvm
        FROM orders
        WHERE o_orderkey % 31 <> 0
          AND ({hw}) IN ('residential', 'service', 'track', 'secondary',
                         'primary', 'trunk', 'tertiary', 'unclassified',
                         'living_street', 'trunk_link', 'primary_link',
                         'secondary_link')
    ), g AS (
        SELECT name, count(*) AS n, sum(lvm) AS n_lvm FROM w GROUP BY name
    ), gs AS (
        SELECT *, {sfx_case} AS sidx FROM g
    ), sfx(idx, sfx) AS (
        SELECT * FROM (VALUES {sfx_vals})
    ), sstats AS (
        SELECT sidx, count(*) AS v, sum(n) AS t
        FROM gs WHERE sidx IS NOT NULL GROUP BY sidx
    ), rest0 AS (
        SELECT name, n, n_lvm, {_q62_clean_sql("name")} AS cl
        FROM gs WHERE sidx IS NULL
    ), routes AS (
        SELECT CAST(n_nationkey AS BIGINT) AS route_id,
               {_Q62_ROUTE_NAME("n_nationkey")} AS route_name,
               {_Q62_ROUTE_REF("n_nationkey")} AS route_ref
        FROM nation
        WHERE {_Q62_ROUTE_NAME("n_nationkey")} IS NOT NULL
    ), rest1 AS (
        SELECT * FROM rest0 WHERE name NOT IN ({known_in})
    ), rmatch AS (
        SELECT r1.name, r1.n, r1.n_lvm, r1.cl, min(rt.route_id) AS rid
        FROM rest1 r1
        LEFT JOIN routes rt ON {_q62_clean_sql("rt.route_name")} = r1.cl
        GROUP BY r1.name, r1.n, r1.n_lvm, r1.cl
    ), rest2 AS (
        SELECT name, n, n_lvm, cl FROM rmatch WHERE rid IS NULL
    ), law AS (
        SELECT {_Q62_LAW_CODE("r_regionkey")} AS law_code,
               {_Q62_LAW_NAME("r_regionkey")} AS law_name
        FROM region
    ), lmatch AS (
        SELECT r2.name, r2.n, r2.n_lvm, r2.cl, min(l.law_code) AS lcode
        FROM rest2 r2
        LEFT JOIN law l ON {_q62_clean_sql("l.law_name")} = r2.cl
        GROUP BY r2.name, r2.n, r2.n_lvm, r2.cl
    ), rest3 AS (
        SELECT name, n, n_lvm FROM lmatch WHERE lcode IS NULL
    ), rest4 AS (
        SELECT * FROM rest3 WHERE n_lvm < 1
    )
    SELECT 'suffix' AS kind,
           CAST(idx AS VARCHAR) || ':' || sfx AS name,
           CAST(NULL AS VARCHAR) AS ref,
           coalesce(v, 0) AS n1, coalesce(t, 0) AS n2
    FROM sfx LEFT JOIN sstats ON sfx.idx = sstats.sidx
    UNION ALL
    SELECT 'known_name', name, NULL, n, NULL
    FROM rest0 WHERE name IN ({known_in})
    UNION ALL
    SELECT CASE WHEN rt.route_name = m.name THEN 'route_full_osm'
                ELSE 'route_partial_osm' END,
           m.name, rt.route_ref, m.n, NULL
    FROM rmatch m JOIN routes rt ON rt.route_id = m.rid
    UNION ALL
    SELECT CASE WHEN l.law_name = m.name THEN 'route_full_law'
                ELSE 'route_partial_law' END,
           m.name, m.lcode, m.n, NULL
    FROM lmatch m JOIN law l ON l.law_code = m.lcode
    UNION ALL
    SELECT CASE WHEN n_lvm = n THEN 'lvm_full' ELSE 'lvm_partial' END,
           name, NULL, n_lvm,
           CASE WHEN n_lvm < n THEN n END
    FROM rest3 WHERE n_lvm >= 1
    UNION ALL
    SELECT 'kuldiga', name, NULL, n, NULL
    FROM rest4 WHERE {_q62_clean_dash_sql("name")} IN ({kuldiga_in})
    UNION ALL
    SELECT 'unknown', name, NULL, n, NULL
    FROM rest4 WHERE {_q62_clean_dash_sql("name")} NOT IN ({kuldiga_in})
    """


_ORACLES["q62_street_names"] = _q62_oracle_sql()


# --------------------------------------------------------------------------
# q63 — Administrative group (plans/admin.py): admin boundaries +
# center self-assignment + external-entry matching
#
# Relations = orders (key%31 thinned; boundary=administrative all,
# admin_level 5 for even keys only); members = distinct lineitem
# (ref%5==0 node members, roles admin_centre/label by (id+ref)%7);
# nodes = parts (place=city/town by key mods — "city" is the preferred
# center tag); the relation coordinate is the average over its node
# members, filtered centroid-inside PIP_RING. Entries = customers
# (key%3 thinned, name domain %701 shared with relations so
# missing/extra/multiple all occur; key%17==0 entries carry no coord).
# Output: external_assign kinds + 'center' rows (entry_id = the
# assigned center node).
# --------------------------------------------------------------------------

# 431: customer keys at sf0.01 run to 1500, so 3x431-spaced key pairs
# share a name -> the multiple_matches branch actually fires
_Q63_NAME_MOD = 431
_Q63_CAP_M = 75000.0  # MunicipalityAnalyzer.cs:72


def _q63_relations(spark, sf_dir) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    i = F.col("o_orderkey")
    return o.filter((i % 31 == 0) & (i % 2 == 0)).select(
        i.cast("long").alias("relation_id"),
        F.concat(F.lit("Novads "), (i % _Q63_NAME_MOD).cast("string")).alias(
            "name"
        ),
    )


def _q63_members(spark, sf_dir) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    rel = _q63_relations(spark, sf_dir).select("relation_id")
    m = (
        li.select(
            F.col("l_orderkey").cast("long").alias("relation_id"),
            F.col("l_partkey").cast("long").alias("ref"),
        )
        .dropDuplicates(["relation_id", "ref"])
        .join(rel, "relation_id")
    )
    return m.select(
        "relation_id",
        "ref",
        F.when(F.col("ref") % 5 == 0, F.lit("node"))
        .otherwise(F.lit("way"))
        .alias("mtype"),
        F.when((F.col("relation_id") + F.col("ref")) % 7 == 0, F.lit("admin_centre"))
        .when((F.col("relation_id") + F.col("ref")) % 7 == 1, F.lit("label"))
        .otherwise(F.lit(""))
        .alias("role"),
    )


def _q63_nodes(spark, sf_dir) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    i = F.col("p_partkey")
    tags = _tag_entries(
        (
            "place",
            F.when(i % 23 == 0, F.lit("city")).when(i % 5 == 1, F.lit("town")),
        )
    )
    return p.select(
        i.cast("long").alias("id"),
        tags.alias("tags"),
        F.expr(synth_lat_sql("p_partkey")).alias("lat"),
        F.expr(synth_lon_sql("p_partkey")).alias("lon"),
    )


def _q63_entries(spark, sf_dir) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    i = F.col("c_custkey")
    return c.filter(i % 3 == 0).select(
        i.cast("long").alias("entry_id"),
        F.concat(F.lit("Novads "), (i % _Q63_NAME_MOD).cast("string")).alias(
            "name"
        ),
        F.when(i % 17 != 0, F.expr(synth_lat_sql("c_custkey"))).alias("elat"),
        F.when(i % 17 != 0, F.expr(synth_lon_sql("c_custkey"))).alias("elon"),
    )


def q63_admin_boundaries(spark, sf_dir):
    """Administrative group: centroid-inside admin relations, admin
    center self-assignment (preferred place=city, then single
    admin_centre, then single label), and name-keyed external-entry
    assignment with the multiple/mismatch/missing/extra taxonomy."""
    import numpy as np

    from osmalyzer_spark.geo.polygon import Polygon, contains_expr
    from osmalyzer_spark.plans.admin import assign_admin_centers, external_assign

    rel = _q63_relations(spark, sf_dir)
    members = truncate(_q63_members(spark, sf_dir))
    nodes = truncate(_q63_nodes(spark, sf_dir))

    node_pos = members.filter(F.col("mtype") == "node").join(
        nodes.select(F.col("id").alias("ref"), "lat", "lon"), "ref"
    )
    cent = node_pos.groupBy("relation_id").agg(
        F.avg("lat").alias("lat"), F.avg("lon").alias("lon")
    )
    poly = Polygon(outers=[np.array(PIP_RING, dtype=float)], polygon_id="lv")
    # consumed by external_assign AND the center pass: truncate so the
    # centroid aggregation + polygon UDF evaluate once
    items = truncate(
        rel.join(cent, "relation_id")
        .filter(contains_expr(poly, "lat", "lon"))
        .select(F.col("relation_id").alias("item_id"), "name", "lat", "lon")
    )

    matches = external_assign(items, _q63_entries(spark, sf_dir), _Q63_CAP_M)
    centers = (
        assign_admin_centers(
            members.join(
                items.select(F.col("item_id").alias("relation_id")), "relation_id"
            ),
            nodes,
            preferred_tag_value=("place", "city"),
        )
        .select(
            F.lit("center").alias("kind"),
            F.col("relation_id").alias("item_id"),
            F.col("center_id").alias("entry_id"),
            F.lit(None).cast("long").alias("n"),
            F.lit(None).cast("double").alias("dist_m"),
        )
    )
    return matches.unionByName(centers)


def _q63_oracle_sql() -> str:
    m = _Q63_NAME_MOD
    dist = (
        "sqrt((e.elat - i.lat) * (e.elat - i.lat)"
        " + (e.elon - i.lon) * (e.elon - i.lon)) * 111139.0"
    )
    return f"""
    WITH rel AS (
        SELECT CAST(o_orderkey AS BIGINT) AS relation_id,
               'Novads ' || CAST(o_orderkey % {m} AS BIGINT) AS name
        FROM orders WHERE o_orderkey % 31 = 0 AND o_orderkey % 2 = 0
    ), mem AS (
        SELECT DISTINCT CAST(l_orderkey AS BIGINT) AS relation_id,
               CAST(l_partkey AS BIGINT) AS ref
        FROM lineitem
        WHERE l_orderkey IN (SELECT relation_id FROM rel)
    ), mem2 AS (
        SELECT relation_id, ref,
               CASE WHEN ref % 5 = 0 THEN 'node' ELSE 'way' END AS mtype,
               CASE WHEN (relation_id + ref) % 7 = 0 THEN 'admin_centre'
                    WHEN (relation_id + ref) % 7 = 1 THEN 'label'
                    ELSE '' END AS role
        FROM mem
    ), np AS (
        SELECT m2.relation_id, m2.ref, m2.role,
               {synth_lat_sql("m2.ref")} AS lat,
               {synth_lon_sql("m2.ref")} AS lon,
               (m2.ref % 23 = 0) AS is_city
        FROM mem2 m2 WHERE m2.mtype = 'node'
    ), cent AS (
        SELECT relation_id, avg(lat) AS lat, avg(lon) AS lon
        FROM np GROUP BY relation_id
    ), items AS (
        SELECT r.relation_id AS item_id, r.name, c.lat, c.lon
        FROM rel r JOIN cent c ON r.relation_id = c.relation_id
        WHERE ({_pip_crossings_sql("c.lat", "c.lon")}) % 2 = 1
    ), entries AS (
        SELECT CAST(c_custkey AS BIGINT) AS entry_id,
               'Novads ' || CAST(c_custkey % {m} AS BIGINT) AS name,
               CASE WHEN c_custkey % 17 <> 0
                    THEN {synth_lat_sql("c_custkey")} END AS elat,
               CASE WHEN c_custkey % 17 <> 0
                    THEN {synth_lon_sql("c_custkey")} END AS elon
        FROM customer WHERE c_custkey % 3 = 0
    ), per_item AS (
        SELECT i.item_id,
               count(e.entry_id) AS n_matches,
               min(e.entry_id) AS eid,
               arg_min(e.elat, e.entry_id) AS m_elat,
               arg_min(e.elon, e.entry_id) AS m_elon,
               arg_min({dist}, e.entry_id) AS m_dist
        FROM items i LEFT JOIN entries e ON e.name = i.name
        GROUP BY i.item_id
    ), flagged AS (
        SELECT *,
               (n_matches = 1 AND m_elat IS NOT NULL AND m_elon IS NOT NULL
                AND m_dist > {_Q63_CAP_M!r}) AS mismatch
        FROM per_item
    ), centers AS (
        SELECT m2.relation_id,
               sum(CASE WHEN m2.role IN ('admin_centre', 'label') AND n.is_city
                        THEN 1 ELSE 0 END) AS n_pref,
               min(CASE WHEN m2.role IN ('admin_centre', 'label') AND n.is_city
                        THEN m2.ref END) AS pref_id,
               sum(CASE WHEN m2.role = 'admin_centre' THEN 1 ELSE 0 END) AS n_ac,
               min(CASE WHEN m2.role = 'admin_centre' THEN m2.ref END) AS ac_id,
               sum(CASE WHEN m2.role = 'label' THEN 1 ELSE 0 END) AS n_label,
               min(CASE WHEN m2.role = 'label' THEN m2.ref END) AS label_id
        FROM np n JOIN mem2 m2
          ON m2.relation_id = n.relation_id AND m2.ref = n.ref
        WHERE n.relation_id IN (SELECT item_id FROM items)
        GROUP BY m2.relation_id
    )
    SELECT 'assigned' AS kind, item_id, eid AS entry_id,
           CAST(NULL AS BIGINT) AS n, CAST(NULL AS DOUBLE) AS dist_m
    FROM flagged WHERE n_matches = 1 AND NOT mismatch
    UNION ALL
    SELECT 'multiple_matches', item_id, NULL, n_matches, NULL
    FROM flagged WHERE n_matches > 1
    UNION ALL
    SELECT 'coord_mismatch', item_id, eid, NULL, round(m_dist, 0)
    FROM flagged WHERE mismatch
    UNION ALL
    SELECT 'missing', item_id, NULL, NULL, NULL
    FROM flagged WHERE n_matches <> 1 OR mismatch
    UNION ALL
    SELECT 'extra_entry', NULL, entry_id, NULL, NULL
    FROM entries
    WHERE entry_id NOT IN (
        SELECT eid FROM flagged WHERE n_matches = 1 AND NOT mismatch
    )
    UNION ALL
    SELECT 'center', relation_id,
           CASE WHEN n_pref > 0
                THEN CASE WHEN n_pref = 1 THEN pref_id END
                ELSE CASE WHEN n_ac = 1 THEN ac_id
                          WHEN n_ac = 0 AND n_label = 1 THEN label_id END
           END,
           NULL, NULL
    FROM centers
    WHERE CASE WHEN n_pref > 0
               THEN CASE WHEN n_pref = 1 THEN pref_id END
               ELSE CASE WHEN n_ac = 1 THEN ac_id
                         WHEN n_ac = 0 AND n_label = 1 THEN label_id END
          END IS NOT NULL
    """


_ORACLES["q63_admin_boundaries"] = _q63_oracle_sql()


# --------------------------------------------------------------------------
# q64 — CommonBrandsAnalyzer (plans/brands.py common_brands)
#
# Elements = customers with brand/name/operator title tags (brand %7,
# name %11 with a rare %211 'MAXIMA' variant so the reportable
# low-frequency rule fires, operator %13) and shop/amenity NSI tags
# (%9 / %17). Both the Spark fixture and the oracle consume the SAME
# SQL value expressions, so the title coalesce, diacritic cleaning,
# and variation-list canonicalization are bit-identical by
# construction.
# --------------------------------------------------------------------------

_Q64_BRAND = lambda k: _case_mod(  # noqa: E731
    k, 7, {0: "Maxima", 1: "Maxima X", 2: "Rimi", 3: "Mego", 4: "Aibe",
           5: "Top!"}
)
_Q64_NAME = lambda k: (  # noqa: E731
    f"CASE WHEN ({k}) % 211 = 5 THEN 'MAXIMA' ELSE "
    + _case_mod(
        k, 11, {0: "Maxima", 1: "maxima ", 2: "Maksima", 3: "Rimi Mini",
                4: "Veikals", 5: "Kafejnīca", 6: "Elvi", 7: "Saule"}
    )
    + " END"
)
_Q64_OP = lambda k: _case_mod(  # noqa: E731
    k, 13, {0: "Latvijas Pasts", 1: "Circle K"}
)
_Q64_SHOP = lambda k: _case_mod(  # noqa: E731
    k, 9, {0: "supermarket", 3: "supermarket", 1: "convenience",
           2: "bakery", 4: "clothes"}
)
_Q64_AMEN = lambda k: _case_mod(  # noqa: E731
    k, 17, {0: "fuel", 1: "cafe", 2: "bench"}
)
_Q64_NSI = [
    ("shop", ["supermarket", "convenience"]),
    ("shop", ["bakery"]),
    ("amenity", ["fuel", "cafe"]),
]
_Q64_KNOWN = [["maxima", "maxima x", "maksima"], ["rimi", "rimi mini"]]
_Q64_GENERIC = ["veikals", "kafejnīca"]


def _q64_elements(spark, sf_dir) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    tags = _tag_entries(
        ("brand", F.expr(_Q64_BRAND("c_custkey"))),
        ("name", F.expr(_Q64_NAME("c_custkey"))),
        ("operator", F.expr(_Q64_OP("c_custkey"))),
        ("shop", F.expr(_Q64_SHOP("c_custkey"))),
        ("amenity", F.expr(_Q64_AMEN("c_custkey"))),
    )
    return c.select(F.col("c_custkey").cast("long").alias("id"), tags.alias("tags"))


def q64_common_brands(spark, sf_dir):
    """CommonBrandsAnalyzer: per-NSI-type title grouping with
    diacritic-folded cleaning, brand-variation lists, the >=10
    threshold, generic flags, NSI-value counts, and the reportable
    low-frequency variant rule."""
    from osmalyzer_spark.plans.brands import common_brands

    return common_brands(
        _q64_elements(spark, sf_dir),
        nsi_entries=_Q64_NSI,
        known_brands=_Q64_KNOWN,
        generic_names=_Q64_GENERIC,
    )


def _q64_oracle_sql() -> str:
    def _clean(x: str) -> str:
        return (
            f"translate(lower(trim({x})), 'āčēģīķļņōšūž', 'acegiklnosuz')"
        )

    def _py_clean(s: str) -> str:
        s = s.strip().lower()
        return s.translate(str.maketrans("āčēģīķļņōšūž", "acegiklnosuz"))

    canon_case = "CASE "
    for i, lst in enumerate(_Q64_KNOWN):
        members = ", ".join(f"'{_py_clean(m)}'" for m in lst)
        canon_case += f"WHEN cln IN ({members}) THEN 'kb:{i}' "
    canon_case += "ELSE cln END"
    gen_in = ", ".join(f"'{_py_clean(g)}'" for g in _Q64_GENERIC)

    entry_sql = []
    for idx, (tag, values) in enumerate(_Q64_NSI):
        vals = ", ".join(f"'{v}'" for v in values)
        col = "shop" if tag == "shop" else "amenity"
        entry_sql.append(
            f"SELECT {idx} AS nsi_idx, title, {col} AS nsi_value FROM base "
            f"WHERE title IS NOT NULL AND {col} IN ({vals})"
        )
    matched = " UNION ALL ".join(entry_sql)
    return f"""
    WITH base AS (
        SELECT coalesce({_Q64_BRAND("c_custkey")}, {_Q64_NAME("c_custkey")},
                        {_Q64_OP("c_custkey")}) AS title,
               {_Q64_SHOP("c_custkey")} AS shop,
               {_Q64_AMEN("c_custkey")} AS amenity
        FROM customer
    ), matched AS (
        {matched}
    ), cl AS (
        SELECT *, {_clean("title")} AS cln FROM matched
    ), canon AS (
        SELECT *, {canon_case} AS canon FROM cl
    ), variants AS (
        SELECT nsi_idx, canon, title, count(*) AS cnt,
               max(CASE WHEN cln IN ({gen_in}) THEN 1 ELSE 0 END) AS gen
        FROM canon GROUP BY 1, 2, 3
    ), groups AS (
        SELECT nsi_idx, canon, sum(cnt) AS n, count(*) AS n_variants,
               max(cnt) AS max_cnt, max(gen) AS generic
        FROM variants GROUP BY 1, 2
        HAVING sum(cnt) >= 10
    )
    SELECT 'group' AS kind, nsi_idx, canon,
           CASE WHEN generic = 1 THEN 'generic-issue'
                WHEN n_variants > 1 THEN 'issue'
                ELSE 'plain' END AS value,
           n AS n1, n_variants AS n2
    FROM groups
    UNION ALL
    SELECT 'variant', v.nsi_idx, v.canon, v.title, v.cnt, NULL
    FROM variants v JOIN groups g
      ON v.nsi_idx = g.nsi_idx AND v.canon = g.canon
    UNION ALL
    SELECT 'nsi_value', c.nsi_idx, c.canon, c.nsi_value, count(*), NULL
    FROM canon c JOIN groups g
      ON c.nsi_idx = g.nsi_idx AND c.canon = g.canon
    GROUP BY 1, 2, 3, 4
    UNION ALL
    SELECT 'reportable', v.nsi_idx, v.canon, v.title, v.cnt, NULL
    FROM variants v JOIN groups g
      ON v.nsi_idx = g.nsi_idx AND v.canon = g.canon
    WHERE g.generic = 0 AND g.n_variants > 1
      AND v.cnt < 10 AND v.cnt <= floor(g.max_cnt / 2)
    """


_ORACLES["q64_common_brands"] = _q64_oracle_sql()


# --------------------------------------------------------------------------
# q65 — CityAnalyzer composite (plans/cities.py)
#
# Items = official cities from customer (%4==1) with an axis-aligned
# official boundary rectangle; OSM relations from orders (%3==0) keyed
# by rk=o_orderkey%6000 with a mapped rectangle that is the official
# one shifted by {0,4,25,150} m in lon (j%5), right-edge-extended
# (j%5==4), or displaced 0.15/0.5 deg in lat (far / beyond-far cases).
# The boundary check is GetOverlapCoveragePercent — the oracle replays
# the engine's ring sampling SAMPLE-FOR-SAMPLE over the rectangles
# (same step formula, segment parametrization, point-to-segment
# distances, epsilon compare), so the coverage doubles are
# count/count identical by construction. Tag validation compares
# element tags against item-derived expected values
# (ValidateElementValueMatchesDataItemValue). Both the Spark fixture
# and the oracle consume the SAME SQL value expressions.
# --------------------------------------------------------------------------

_Q65_W = lambda k: (  # noqa: E731
    f"(CASE WHEN ({k}) % 59 = 0 THEN 0.0001e0 "
    f"WHEN ({k}) % 47 = 0 THEN 0.03e0 "
    f"WHEN ({k}) % 53 = 0 THEN 0.016e0 "
    f"ELSE 0.002e0 + (({k}) % 5) * 0.001e0 END)"
)
_Q65_H = lambda k: (  # noqa: E731
    f"(CASE WHEN ({k}) % 59 = 0 THEN 0.0001e0 "
    f"WHEN ({k}) % 47 = 0 THEN 0.0002e0 "
    f"ELSE 0.0015e0 + (({k}) % 7) * 0.0005e0 END)"
)
_Q65_NAME = lambda k: f"('Pilseta ' || CAST({k} AS BIGINT))"  # noqa: E731
_Q65_ADDR = lambda k: f"('ADDR' || CAST({k} AS BIGINT))"  # noqa: E731
_Q65_EXP_PLACE = lambda k: (  # noqa: E731
    f"(CASE WHEN ({k}) % 11 = 0 THEN 'city' ELSE 'town' END)"
)
_Q65_EXP_ADMIN = lambda k: (  # noqa: E731
    f"(CASE WHEN ({k}) % 22 = 0 THEN '5' ELSE '7' END)"
)
_Q65_EXP_REF = lambda k: (  # noqa: E731
    f"('' || CAST((({k}) * 7) % 100000 AS BIGINT))"
)
_Q65_EXP_POP = lambda k: (  # noqa: E731
    f"('' || CAST((({k}) * 13) % 100000 + 100 AS BIGINT))"
)

_Q65_RK = "(o_orderkey % 6000)"
_Q65_NAME_TAG = (
    f"(CASE WHEN o_orderkey % 21 = 0 "
    f"THEN {_Q65_NAME(_Q65_RK)} || ' pils.' "
    f"ELSE {_Q65_NAME(_Q65_RK)} END)"
)
_Q65_ADDR_TAG = (
    f"(CASE WHEN o_orderkey % 7 = 0 THEN {_Q65_ADDR(_Q65_RK)} END)"
)
_Q65_PLACE_TAG = (
    f"(CASE WHEN o_orderkey % 43 = 0 THEN NULL "
    f"WHEN o_orderkey % 19 = 0 THEN 'village' "
    f"WHEN {_Q65_RK} % 11 = 0 THEN 'city' ELSE 'town' END)"
)
_Q65_ADMIN_TAG = (
    f"(CASE WHEN o_orderkey % 23 = 0 THEN '8' "
    f"WHEN {_Q65_RK} % 22 = 0 THEN '5' ELSE '7' END)"
)
_Q65_REF_TAG = (
    f"('' || CAST((({_Q65_RK}) * 7) % 100000 "
    f"+ (CASE WHEN o_orderkey % 29 = 0 THEN 1 ELSE 0 END) AS BIGINT))"
)
_Q65_POP_TAG = (
    f"(CASE WHEN o_orderkey % 31 = 0 THEN NULL "
    f"ELSE '' || CAST((({_Q65_RK}) * 13) % 100000 + 100 AS BIGINT) END)"
)
_Q65_DLAT = (
    f"(CASE WHEN ({_Q65_RK}) % 41 = 0 THEN 0.5e0 "
    f"WHEN ({_Q65_RK}) % 37 = 0 THEN 0.15e0 ELSE 0.0e0 END)"
)
_Q65_SHIFT = (
    "(CASE o_orderkey % 5 WHEN 1 THEN (4.0e0 / 111139.0e0) "
    "WHEN 2 THEN (25.0e0 / 111139.0e0) "
    "WHEN 3 THEN (150.0e0 / 111139.0e0) ELSE 0.0e0 END)"
)
_Q65_EXT = (
    f"(CASE WHEN o_orderkey % 5 = 4 "
    f"THEN 0.0005e0 * CAST(1 + (CAST(({_Q65_RK}) / 3 AS BIGINT) % 3) "
    f"AS DOUBLE) ELSE 0.0e0 END)"
)
_Q65_BLAT0 = f"({synth_lat_sql(_Q65_RK)} + {_Q65_DLAT})"
_Q65_BLAT1 = f"(({synth_lat_sql(_Q65_RK)} + {_Q65_H(_Q65_RK)}) + {_Q65_DLAT})"
_Q65_BLON0 = f"({synth_lon_sql(_Q65_RK)} + {_Q65_SHIFT})"
_Q65_BLON1 = (
    f"((({synth_lon_sql(_Q65_RK)} + {_Q65_W(_Q65_RK)}) + {_Q65_SHIFT}) "
    f"+ {_Q65_EXT})"
)


def _q65_items(spark, sf_dir) -> DataFrame:
    k = "c_custkey"
    c = _t(spark, sf_dir, "customer").filter("c_custkey % 4 = 1")
    df = c.select(
        F.col("c_custkey").cast("long").alias("item_id"),
        F.expr(_Q65_NAME(k)).alias("name"),
        F.expr(_Q65_ADDR(k)).alias("addr_id"),
        F.expr(_Q65_EXP_PLACE(k)).alias("exp_place"),
        F.expr(_Q65_EXP_ADMIN(k)).alias("exp_admin"),
        F.expr(_Q65_EXP_REF(k)).alias("exp_ref"),
        F.expr(_Q65_EXP_POP(k)).alias("exp_pop"),
        F.expr(synth_lat_sql(k)).alias("ilat0"),
        F.expr(synth_lon_sql(k)).alias("ilon0"),
        F.expr(f"({synth_lat_sql(k)} + {_Q65_H(k)})").alias("ilat1"),
        F.expr(f"({synth_lon_sql(k)} + {_Q65_W(k)})").alias("ilon1"),
    )
    return df.withColumn(
        "item_lat", (F.col("ilat0") + F.col("ilat1")) / F.lit(2.0)
    ).withColumn("item_lon", (F.col("ilon0") + F.col("ilon1")) / F.lit(2.0))


def _q65_relations(spark, sf_dir) -> DataFrame:
    import numpy as np

    from osmalyzer_spark.geo.polygon import Polygon, contains_expr

    o = _t(spark, sf_dir, "orders").filter("o_orderkey % 3 = 0")
    df = o.select(
        F.col("o_orderkey").cast("long").alias("elem_id"),
        F.expr(_Q65_NAME_TAG).alias("name_tag"),
        F.expr(_Q65_ADDR_TAG).alias("addr_tag"),
        F.expr(_Q65_PLACE_TAG).alias("place_tag"),
        F.expr(_Q65_ADMIN_TAG).alias("admin_tag"),
        F.expr(_Q65_REF_TAG).alias("ref_tag"),
        F.expr(_Q65_POP_TAG).alias("pop_tag"),
        F.expr("o_orderkey % 13 <> 0").alias("valid_poly"),
        F.expr(_Q65_BLAT0).alias("blat0"),
        F.expr(_Q65_BLAT1).alias("blat1"),
        F.expr(_Q65_BLON0).alias("blon0"),
        F.expr(_Q65_BLON1).alias("blon1"),
    )
    df = df.withColumn(
        "elem_lat", (F.col("blat0") + F.col("blat1")) / F.lit(2.0)
    ).withColumn("elem_lon", (F.col("blon0") + F.col("blon1")) / F.lit(2.0))
    poly = Polygon(outers=[np.array(PIP_RING, dtype=float)], polygon_id="lv")
    return df.filter(contains_expr(poly, "elem_lat", "elem_lon"))


def q65_city_analyzer(spark, sf_dir):
    """CityAnalyzer composite: name/address-keyed correlation with
    match/far distance bands, boundary overlap-coverage validation
    (GetOverlapCoveragePercent, sampled ring semantics), no-polygon
    reporting, per-item tag validation, and lone/missing reporting."""
    from osmalyzer_spark.plans.cities import (
        COVERAGE_LIMIT,
        COVERAGE_PROBLEM,
        MATCH_DISTANCE_M,
        match_cities,
        rect_coverage_udf,
        validate_tags,
    )

    # the six report branches below all fan out from items/rels/m —
    # materialize each once (they are small: ids + tags + 4 corners)
    # instead of re-running the scans, PIP filter, and match windows
    # per branch
    items = truncate(_q65_items(spark, sf_dir))
    rels = truncate(_q65_relations(spark, sf_dir))

    m = truncate(
        match_cities(
            items.select("item_id", "name", "addr_id", "item_lat", "item_lon"),
            rels.select("elem_id", "name_tag", "addr_tag", "elem_lat", "elem_lon"),
        )
    )
    mm = m.join(items, "item_id").join(rels, "elem_id")

    def _rows(df, kind, **cols):
        defaults = {
            "item_id": F.lit(None).cast("long"),
            "elem_id": F.lit(None).cast("long"),
            "rule": F.lit(None).cast("string"),
            "found": F.lit(None).cast("string"),
            "expected": F.lit(None).cast("string"),
            "coverage": F.lit(None).cast("double"),
            "dist_m": F.lit(None).cast("double"),
        }
        defaults.update(cols)
        return df.select(
            F.lit(kind).alias("kind") if isinstance(kind, str) else kind.alias("kind"),
            *[v.alias(n) for n, v in defaults.items()],
        )

    matched_rows = _rows(
        mm,
        F.when(F.col("dist_m") <= F.lit(MATCH_DISTANCE_M), F.lit("matched"))
        .otherwise(F.lit("matched_far")),
        item_id=F.col("item_id"),
        elem_id=F.col("elem_id"),
        dist_m=F.round(F.col("dist_m"), 0),
    )
    missing = _rows(
        items.join(m, "item_id", "left_anti"),
        "missing_city",
        item_id=F.col("item_id"),
    )
    lone = _rows(
        rels.filter(
            (F.col("place_tag") == "city") | F.col("place_tag").isNull()
        ).join(m, "elem_id", "left_anti"),
        "lone_relation",
        elem_id=F.col("elem_id"),
    )
    nopoly = _rows(
        mm.filter(~F.col("valid_poly")),
        "no_polygon",
        item_id=F.col("item_id"),
        elem_id=F.col("elem_id"),
    )
    cov = (
        mm.filter(F.col("valid_poly"))
        .withColumn(
            "coverage",
            rect_coverage_udf()(
                "ilat0", "ilon0", "ilat1", "ilon1",
                "blat0", "blon0", "blat1", "blon1",
            ),
        )
        .filter(F.col("coverage") < F.lit(COVERAGE_LIMIT))
    )
    boundary = _rows(
        cov,
        "boundary",
        item_id=F.col("item_id"),
        elem_id=F.col("elem_id"),
        rule=F.when(
            F.col("coverage") < F.lit(COVERAGE_PROBLEM), F.lit("problem")
        ).otherwise(F.lit("dubious")),
        coverage=F.col("coverage"),
    )
    tag_issues = _rows(
        validate_tags(
            mm,
            [
                ("name", "name_tag", "name"),
                ("place", "place_tag", "exp_place"),
                ("admin_level", "admin_tag", "exp_admin"),
                ("ref", "ref_tag", "exp_ref"),
                ("population", "pop_tag", "exp_pop"),
            ],
        ),
        "tag_issue",
        item_id=F.col("item_id"),
        elem_id=F.col("elem_id"),
        rule=F.col("rule"),
        found=F.col("found"),
        expected=F.col("expected"),
    )
    out = matched_rows
    for df in (missing, lone, nopoly, boundary, tag_issues):
        out = out.unionByName(df)
    return out


def _q65_seg_dist_sql(alat: str, alon: str, dlat: str, dlon: str) -> str:
    """Point-to-segment distance in degree space for the sample point
    (plat, plon) — mirrors geo/polygon._min_dist_to_ring's projection
    formula term-for-term."""
    dot = f"((plat - {alat}) * {dlat} + (plon - {alon}) * {dlon})"
    dd = f"({dlat} * {dlat} + {dlon} * {dlon})"
    t2 = f"least(greatest({dot} / {dd}, 0.0e0), 1.0e0)"
    px = f"(plat - ({alat} + {t2} * {dlat}))"
    py = f"(plon - ({alon} + {t2} * {dlon}))"
    return f"sqrt({px} * {px} + {py} * {py})"


def _q65_oracle_sql() -> str:
    eps = "(10.0e0 / 111139.0e0)"
    hav = haversine_sql("item_lat", "item_lon", "elem_lat", "elem_lon")
    # target rectangle segments (closed ring c0->c1->c2->c3->c0 over
    # corners (ta0,to0),(ta0,to1),(ta1,to1),(ta1,to0)):
    segs = [
        ("ta0", "to0", "0.0e0", "(to1 - to0)"),
        ("ta0", "to1", "(ta1 - ta0)", "0.0e0"),
        ("ta1", "to1", "0.0e0", "(to0 - to1)"),
        ("ta1", "to0", "(ta0 - ta1)", "0.0e0"),
    ]
    matched_pt = " OR ".join(
        f"({_q65_seg_dist_sql(*s)} <= {eps})" for s in segs
    )
    rules = [
        ("name", "name_tag", "name"),
        ("place", "place_tag", "exp_place"),
        ("admin_level", "admin_tag", "exp_admin"),
        ("ref", "ref_tag", "exp_ref"),
        ("population", "pop_tag", "exp_pop"),
    ]
    tag_union = "\n    UNION ALL\n".join(
        f"""    SELECT 'tag_issue' AS kind, item_id, elem_id, '{rule}' AS rule,
           {found} AS found, {exp} AS expected,
           CAST(NULL AS DOUBLE) AS coverage, CAST(NULL AS DOUBLE) AS dist_m
    FROM mm WHERE {found} IS DISTINCT FROM {exp}"""
        for rule, found, exp in rules
    )
    k = "c_custkey"
    return f"""
    WITH items0 AS (
        SELECT CAST(c_custkey AS BIGINT) AS item_id,
               {_Q65_NAME(k)} AS name,
               {_Q65_ADDR(k)} AS addr_id,
               {_Q65_EXP_PLACE(k)} AS exp_place,
               {_Q65_EXP_ADMIN(k)} AS exp_admin,
               {_Q65_EXP_REF(k)} AS exp_ref,
               {_Q65_EXP_POP(k)} AS exp_pop,
               {synth_lat_sql(k)} AS ilat0,
               {synth_lon_sql(k)} AS ilon0,
               ({synth_lat_sql(k)} + {_Q65_H(k)}) AS ilat1,
               ({synth_lon_sql(k)} + {_Q65_W(k)}) AS ilon1
        FROM customer WHERE c_custkey % 4 = 1
    ), items AS (
        SELECT *, (ilat0 + ilat1) / 2.0e0 AS item_lat,
               (ilon0 + ilon1) / 2.0e0 AS item_lon
        FROM items0
    ), rels0 AS (
        SELECT CAST(o_orderkey AS BIGINT) AS elem_id,
               {_Q65_NAME_TAG} AS name_tag,
               {_Q65_ADDR_TAG} AS addr_tag,
               {_Q65_PLACE_TAG} AS place_tag,
               {_Q65_ADMIN_TAG} AS admin_tag,
               {_Q65_REF_TAG} AS ref_tag,
               {_Q65_POP_TAG} AS pop_tag,
               (o_orderkey % 13 <> 0) AS valid_poly,
               {_Q65_BLAT0} AS blat0,
               {_Q65_BLAT1} AS blat1,
               {_Q65_BLON0} AS blon0,
               {_Q65_BLON1} AS blon1
        FROM orders WHERE o_orderkey % 3 = 0
    ), rels1 AS (
        SELECT *, (blat0 + blat1) / 2.0e0 AS elem_lat,
               (blon0 + blon1) / 2.0e0 AS elem_lon
        FROM rels0
    ), rels AS (
        SELECT * FROM rels1
        WHERE ({_pip_crossings_sql("elem_lat", "elem_lon")}) % 2 = 1
    ), cand AS (
        SELECT i.item_id, r.elem_id, i.item_lat, i.item_lon,
               r.elem_lat, r.elem_lon
        FROM items i JOIN rels r ON r.addr_tag = i.addr_id
        UNION
        SELECT i.item_id, r.elem_id, i.item_lat, i.item_lon,
               r.elem_lat, r.elem_lon
        FROM items i JOIN rels r ON r.name_tag = i.name
    ), dist AS (
        SELECT * FROM (SELECT item_id, elem_id, {hav} AS dist_m FROM cand)
        WHERE dist_m <= 30000.0e0
    ), r1 AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY item_id ORDER BY dist_m, elem_id) AS rn
            FROM dist)
        WHERE rn = 1
    ), fin AS (
        SELECT item_id, elem_id, dist_m FROM (
            SELECT *, row_number() OVER (
                PARTITION BY elem_id ORDER BY dist_m, item_id) AS rn2
            FROM r1)
        WHERE rn2 = 1
    ), mm AS (
        SELECT f.item_id, f.elem_id, f.dist_m, i.* EXCLUDE (item_id),
               r.* EXCLUDE (elem_id)
        FROM fin f JOIN items i ON i.item_id = f.item_id
                   JOIN rels r ON r.elem_id = f.elem_id
    ), dirs AS (
        SELECT item_id, elem_id,
               ilat0 AS sa0, ilat1 AS sa1, ilon0 AS so0, ilon1 AS so1,
               blat0 AS ta0, blat1 AS ta1, blon0 AS to0, blon1 AS to1,
               0 AS dir
        FROM mm WHERE valid_poly
        UNION ALL
        SELECT item_id, elem_id,
               blat0, blat1, blon0, blon1,
               ilat0, ilat1, ilon0, ilon1, 1
        FROM mm WHERE valid_poly
    ), geo1 AS (
        SELECT *, (so1 - so0) AS la, (sa1 - sa0) AS lb FROM dirs
    ), geo2 AS (
        SELECT *, la AS c1, (la + lb) AS c2, ((la + lb) + la) AS c3,
               (((la + lb) + la) + lb) AS total
        FROM geo1
    ), geo3 AS (
        SELECT *, least(300, greatest(10,
               CAST(floor(total / {eps}) AS BIGINT))) AS nst
        FROM geo2
    ), geo4 AS (
        SELECT *, total / CAST(nst AS DOUBLE) AS step FROM geo3
    ), geo5 AS (
        SELECT *, CAST(ceil((total + step * 0.5e0) / step) AS BIGINT) AS nsamp
        FROM geo4
    ), samp AS (
        SELECT g.*, least(CAST(u.k AS DOUBLE) * g.step, g.total) AS ds
        FROM geo5 g, UNNEST(generate_series(0, g.nsamp - 1)) AS u(k)
    ), pt AS (
        SELECT *,
           CASE WHEN ds >= c3 THEN sa1 + (sa0 - sa1) * ((ds - c3) / lb)
                WHEN ds >= c2 THEN sa1
                WHEN ds >= c1 THEN sa0 + (sa1 - sa0) * ((ds - c1) / lb)
                ELSE sa0 END AS plat,
           CASE WHEN ds >= c3 THEN so0
                WHEN ds >= c2 THEN so1 + (so0 - so1) * ((ds - c2) / la)
                WHEN ds >= c1 THEN so1
                ELSE so0 + (so1 - so0) * (ds / la) END AS plon
        FROM samp
    ), covdir AS (
        SELECT item_id, elem_id, dir,
               CAST(count(*) FILTER (WHERE {matched_pt}) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE) AS cov
        FROM pt GROUP BY 1, 2, 3
    ), pcov AS (
        SELECT item_id, elem_id, min(cov) AS coverage
        FROM covdir GROUP BY 1, 2
    )
    SELECT CASE WHEN dist_m <= 10000.0e0 THEN 'matched'
                ELSE 'matched_far' END AS kind,
           item_id, elem_id, CAST(NULL AS VARCHAR) AS rule,
           CAST(NULL AS VARCHAR) AS found, CAST(NULL AS VARCHAR) AS expected,
           CAST(NULL AS DOUBLE) AS coverage, round(dist_m, 0) AS dist_m
    FROM fin
    UNION ALL
    SELECT 'missing_city', item_id, NULL, NULL, NULL, NULL, NULL, NULL
    FROM items WHERE item_id NOT IN (SELECT item_id FROM fin)
    UNION ALL
    SELECT 'lone_relation', NULL, elem_id, NULL, NULL, NULL, NULL, NULL
    FROM rels WHERE (place_tag = 'city' OR place_tag IS NULL)
      AND elem_id NOT IN (SELECT elem_id FROM fin)
    UNION ALL
    SELECT 'no_polygon', item_id, elem_id, NULL, NULL, NULL, NULL, NULL
    FROM mm WHERE NOT valid_poly
    UNION ALL
    SELECT 'boundary', p.item_id, p.elem_id,
           CASE WHEN p.coverage < 0.95e0 THEN 'problem'
                ELSE 'dubious' END,
           NULL, NULL, p.coverage, NULL
    FROM pcov p WHERE p.coverage < 0.99e0
    UNION ALL
{tag_union}
    """


_ORACLES["q65_city_analyzer"] = _q65_oracle_sql()


# --------------------------------------------------------------------------
# q66/q67 — Parcel-locker analyzer family (plans/lockers.py)
#
# Items (listed lockers) = suppliers on an isolated 2.2 km x 1.2 km
# grid cell each (cluster isolation: max element offset 1113 m from its
# own cell center keeps every foreign item >= 794 m away, beyond the
# 700 m Strong seek distance) — so the deferred-acceptance fixed point
# degenerates to "per item: closest allowed candidate, elem_id
# tie-break", which the oracle replays with one window. The ENGINE
# still runs the full correlator (operators/correlator.py). Elements =
# orders-derived parcel lockers whose name/operator/brand tags carry
# brand substrings; offsets pick the band: ~50 m matched, ~150 m far,
# ~400 m allowed only on a Strong (fuzzy-address) match, ~1113 m never.
# --------------------------------------------------------------------------

_Q66_BRANDING = {
    "Omniva": ["omniva"],
    "DPD": ["dpd"],
    "Venipak": ["venipak"],
}
_Q66_TK = "(o_orderkey % 1500)"
_Q66_ILAT = lambda k: f"(56.0e0 + (({k}) % 97) * 0.02e0)"  # noqa: E731
_Q66_ILON = lambda k: (  # noqa: E731
    f"(21.0e0 + (CAST(floor(({k}) / 97) AS BIGINT) % 331) * 0.02e0)"
)
_Q66_OP = lambda k: _case_mod(  # noqa: E731
    k, 3, {0: "Omniva", 1: "DPD", 2: "Venipak"}
)
_Q66_ADDR = lambda k: (  # noqa: E731
    f"(CASE WHEN ({k}) % 5 = 0 THEN NULL ELSE "
    f"(CASE WHEN ({k}) % 7 = 0 THEN 'Ozolu ' ELSE 'Ozolu iela ' END "
    f"|| CAST(({k}) % 89 + 1 AS BIGINT)) END)"
)
# whole-cell band overrides guarantee the far band (tk%31: every
# element of the cell at ~150 m, so the winner is a far match) and the
# strong-only band (tk%29: ~400 m, allowed only on a Strong
# fuzzy-address match) are DECIDING outcomes, not just candidates that
# lose to a closer sibling
_Q66_OFFSET = (
    f"(CASE WHEN ({_Q66_TK}) % 31 = 0 THEN 0.00135e0 "
    f"WHEN ({_Q66_TK}) % 29 = 0 THEN 0.0036e0 "
    f"ELSE (CASE o_orderkey % 7 WHEN 2 THEN 0.00135e0 "
    f"WHEN 3 THEN 0.0036e0 WHEN 4 THEN 0.01e0 "
    f"ELSE 0.00045e0 END) END)"
)
_Q66_NAME_TAG = _case_mod(
    "o_orderkey", 11,
    {0: "Omniva paku skapis", 1: "OMNIVA", 2: "DPD paku skapis",
     3: "dpd Pickup", 4: "Venipak skapis", 5: "Itella Smartpost",
     7: "Paku skapis"},
)
_Q66_OPERATOR_TAG = _case_mod(
    "o_orderkey", 11, {8: "Omniva", 10: "venipak", 2: "DPD Latvia"}
)
_Q66_BRAND_TAG = _case_mod("o_orderkey", 11, {9: "DPD", 0: "Omniva"})
_Q66_STREET_TAG = (
    "(CASE WHEN o_orderkey % 19 = 0 THEN NULL "
    "WHEN o_orderkey % 17 = 0 THEN 'Liepu iela' ELSE 'Ozolu iela' END)"
)
_Q66_HOUSENUM_TAG = (
    f"(CASE WHEN o_orderkey % 23 = 0 THEN NULL "
    f"ELSE '' || CAST(({_Q66_TK}) % 89 + 1 "
    f"+ (CASE WHEN o_orderkey % 13 = 0 THEN 1 ELSE 0 END) AS BIGINT) END)"
)


def _q66_items(spark, sf_dir) -> DataFrame:
    k = "s_suppkey"
    return _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("item_id"),
        F.expr(_Q66_ILAT(k)).alias("item_lat"),
        F.expr(_Q66_ILON(k)).alias("item_lon"),
        F.expr(_Q66_OP(k)).alias("op"),
        F.expr(_Q66_ADDR(k)).alias("address"),
    )


def _q66_lockers(spark, sf_dir) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .select(
            F.col("o_orderkey").cast("long").alias("elem_id"),
            F.expr(f"({_Q66_ILAT(_Q66_TK)} + {_Q66_OFFSET})").alias("elem_lat"),
            F.expr(_Q66_ILON(_Q66_TK)).alias("elem_lon"),
            F.expr(_Q66_NAME_TAG).alias("name_tag"),
            F.expr(_Q66_OPERATOR_TAG).alias("operator_tag"),
            F.expr(_Q66_BRAND_TAG).alias("brand_tag"),
            F.expr(_Q66_STREET_TAG).alias("street_tag"),
            F.expr(_Q66_HOUSENUM_TAG).alias("housenum_tag"),
        )
    )


def q66_parcel_lockers(spark, sf_dir):
    """ParcelLockerAnalyzer family: per-operator brand-substring
    membership over name/operator/brand, then the REAL correlator with
    the 100/200/+500(Strong) distance ladder and a fuzzy-address match
    strength callback."""
    from osmalyzer_spark.plans.lockers import correlate_lockers

    res = correlate_lockers(
        spark,
        _q66_lockers(spark, sf_dir),
        _q66_items(spark, sf_dir),
        _Q66_BRANDING,
    )
    return res.select(
        "op",
        "kind",
        F.coalesce("osm_id", F.lit(-1)).alias("osm_id"),
        F.coalesce(F.col("item_id").cast("long"), F.lit(-1)).alias("item_id"),
        F.round(F.coalesce("distance", F.lit(-1.0)), 3).alias("distance"),
        F.coalesce("strength", F.lit(0)).alias("strength"),
        F.coalesce("far", F.lit(False)).alias("far"),
    )


def q67_unknown_lockers(spark, sf_dir):
    """UnknownParcelLockerAnalyzer: parcel lockers matching no known
    brand variation (issue rows) + compared-value stats over the known
    ones (distinct values per locker counted once)."""
    from osmalyzer_spark.plans.lockers import unknown_lockers

    out = unknown_lockers(_q66_lockers(spark, sf_dir), _Q66_BRANDING)
    return out.select(
        "kind",
        F.coalesce("elem_id", F.lit(-1)).alias("elem_id"),
        F.coalesce("value", F.lit("")).alias("value"),
        F.coalesce("n", F.lit(-1)).alias("n"),
    )


def _q66_mem_sql() -> str:
    """Brand membership join clause text over the VALUES(op, var) rows."""
    return (
        "coalesce(contains(lower(e.name_tag), b.var), FALSE) "
        "OR coalesce(contains(lower(e.operator_tag), b.var), FALSE) "
        "OR coalesce(contains(lower(e.brand_tag), b.var), FALSE)"
    )


_Q66_FIXTURE_SQL = f"""
    items AS (
        SELECT CAST(s_suppkey AS BIGINT) AS item_id,
               {_Q66_ILAT("s_suppkey")} AS item_lat,
               {_Q66_ILON("s_suppkey")} AS item_lon,
               {_Q66_OP("s_suppkey")} AS op,
               {_Q66_ADDR("s_suppkey")} AS address
        FROM supplier
    ), elems AS (
        SELECT CAST(o_orderkey AS BIGINT) AS elem_id,
               ({_Q66_ILAT(_Q66_TK)} + {_Q66_OFFSET}) AS elem_lat,
               {_Q66_ILON(_Q66_TK)} AS elem_lon,
               {_Q66_NAME_TAG} AS name_tag,
               {_Q66_OPERATOR_TAG} AS operator_tag,
               {_Q66_BRAND_TAG} AS brand_tag,
               {_Q66_STREET_TAG} AS street_tag,
               {_Q66_HOUSENUM_TAG} AS housenum_tag
        FROM orders
    )"""


def _q66_oracle_sql() -> str:
    # the engine fuses all operators into one DA run by rotating each
    # operator's longitudes +40 deg/op (plans/lockers.py
    # correlate_lockers); haversine only sees lon differences, but the
    # oracle applies the SAME rotation so the distance doubles are
    # bit-identical
    hav = haversine_sql(
        "i.item_lat",
        "(i.item_lon + CAST(b.idx AS DOUBLE) * 40.0e0)",
        "e.elem_lat",
        "(e.elem_lon + b.idx * 40.0e0)",
    )
    brands = ", ".join(
        f"('{op}', '{var[0]}', {idx})"
        for idx, (op, var) in enumerate(_Q66_BRANDING.items())
    )
    # FuzzyAddressMatcher over the fixture's two address shapes: with an
    # 'iela' suffix in the freeform address the street NAME is not
    # compared (suffix-equality branch — both tag streets end 'iela');
    # without it, the stripped tag street must be contained.
    street_ok = (
        "(CASE WHEN contains(lower(trim(address)), 'iela') THEN TRUE "
        "ELSE coalesce(contains(lower(trim(address)), "
        "trim(replace(lower(street_tag), 'iela', ''))), FALSE) END)"
    )
    strong = (
        f"(address IS NOT NULL AND street_tag IS NOT NULL "
        f"AND housenum_tag IS NOT NULL AND {street_ok} "
        f"AND housenum_tag = "
        f"regexp_extract(lower(trim(address)), '\\d+[a-z]?'))"
    )
    return f"""
    WITH {_Q66_FIXTURE_SQL}, mem AS (
        SELECT e.*, b.op, b.idx
        FROM elems e JOIN (VALUES {brands}) AS b(op, var, idx)
          ON {_q66_mem_sql()}
    ), cand0 AS (
        SELECT i.op, i.item_id, e.elem_id, {hav.replace("b.idx", "e.idx")} AS dist_m,
               CASE WHEN {strong} THEN 3 ELSE 2 END AS strength
        FROM items i JOIN mem e ON e.op = i.op
    ), cand AS (
        SELECT * FROM cand0
        WHERE dist_m <= (CASE WHEN strength = 3
                              THEN 700.0e0 ELSE 200.0e0 END)
    ), win AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY op, item_id ORDER BY dist_m, elem_id) AS rn
            FROM cand)
        WHERE rn = 1
    )
    SELECT op,
           CASE WHEN dist_m <= 100.0e0 THEN 'matched'
                ELSE 'matched_far' END AS kind,
           elem_id AS osm_id, item_id, round(dist_m, 3) AS distance,
           strength, (dist_m > 100.0e0) AS far
    FROM win
    UNION ALL
    SELECT i.op, 'unmatched_item', -1, i.item_id, -1.0e0, 0, FALSE
    FROM items i
    WHERE NOT EXISTS (SELECT 1 FROM win w
                      WHERE w.op = i.op AND w.item_id = i.item_id)
    UNION ALL
    SELECT m.op, 'unmatched_osm', m.elem_id, -1, -1.0e0, 0, FALSE
    FROM mem m
    WHERE NOT EXISTS (SELECT 1 FROM win w
                      WHERE w.op = m.op AND w.elem_id = m.elem_id)
    """


def _q67_oracle_sql() -> str:
    brands = ", ".join(
        f"('{op}', '{var[0]}')" for op, var in _Q66_BRANDING.items()
    )
    return f"""
    WITH {_Q66_FIXTURE_SQL}, known AS (
        SELECT DISTINCT e.elem_id
        FROM elems e JOIN (VALUES {brands}) AS b(op, var)
          ON {_q66_mem_sql()}
    ), vals AS (
        SELECT DISTINCT e.elem_id, v.value
        FROM elems e JOIN known k ON k.elem_id = e.elem_id,
             LATERAL (SELECT unnest([e.name_tag, e.operator_tag,
                                     e.brand_tag]) AS value) v
        WHERE v.value IS NOT NULL
    )
    SELECT 'unknown' AS kind, e.elem_id, '' AS value, CAST(-1 AS BIGINT) AS n
    FROM elems e
    WHERE e.elem_id NOT IN (SELECT elem_id FROM known)
    UNION ALL
    SELECT 'stat', -1, value, count(*) FROM vals GROUP BY value
    """


_ORACLES["q66_parcel_lockers"] = _q66_oracle_sql()
_ORACLES["q67_unknown_lockers"] = _q67_oracle_sql()


# --------------------------------------------------------------------------
# q68/q69 — CulturalMonumentsAnalyzer (plans/monuments.py; reference
# Analyzers/POIs/CulturalMonumentsAnalyzer.cs).
#
# Fixture: suppliers are VKPAI registry monuments on a sparse grid whose
# inter-item spacing (>= ~2.4 km) exceeds the correlator's seek distance
# (300 + 1200 = 1500 m), so every element has candidate pairs with AT MOST
# its own target monument and the deferred-acceptance fixed point reduces
# exactly to "each monument takes its closest surviving candidate"
# (rejections are impossible: no element ever sees two proposers). That
# lets the oracle use one window instead of the recursive GS — q27 gates
# the contended DA itself. Customers are OSM heritage elements placed at a
# target monument + a distance-band offset (0 / ~24.5 m / ~134 m / ~579 m
# / ~2 km) crossed with 12 tag shapes that drive every branch of the
# DoesOsmNodeMatchMonument cascade, the lone allowance, and the
# dead-code heritage quirk (strength is an output column, so a wrong
# branch order or a "fixed" quirk changes the hash).
# --------------------------------------------------------------------------

_Q68_TK = "((c_custkey % 90) + 1)"  # target monument; items 91-100 stay bare
_Q68_BLK = "CAST(floor(c_custkey / 100.0e0) AS INT)"
_Q68_BAND = f"({_Q68_BLK} % 5)"
_Q68_M = f"(({_Q68_TK} + {_Q68_BLK}) % 12)"
_Q68_ILAT = lambda k: f"(56.00e0 + (({k}) % 97) * 0.04e0)"  # noqa: E731
_Q68_ILON = lambda k: f"(24.00e0 + (({k}) % 89) * 0.03e0)"  # noqa: E731
# match 30 / far 300 / strong +1200: bands land at matched, matched,
# matched_far, strong-only matched_far, dead (> 1500 m seek)
_Q68_OFFSET = (
    f"(CASE {_Q68_BAND} WHEN 0 THEN 0.0e0 WHEN 1 THEN 0.00022e0 "
    f"WHEN 2 THEN 0.0012e0 WHEN 3 THEN 0.0052e0 ELSE 0.018e0 END)"
)
_Q68_TK_S = f"CAST({_Q68_TK} AS STRING)"
# m=0 name Strong (and a bad ref the cascade must NOT reach first);
# m=1 old_name Strong; m=2 valid ref Strong (heritage present, unreached);
# m=3 unknown-int ref Good; m=4 non-int ref Good; m=5 heritage Regular
# (dead-code quirk; vkpai oper present, unreached); m=6/7 vkpai operator
# Good; m=8 other operator Regular (valid wikidata present, unreached);
# m=9 wikidata Strong iff the monument has one (odd keys); m=10 non-long
# wikidata -> no strength; m=11 bare
_Q68_NAME_TAG = f"(CASE WHEN {_Q68_M} = 0 THEN 'Monument ' || {_Q68_TK_S} END)"
_Q68_OLD_NAME_TAG = (
    f"(CASE WHEN {_Q68_M} = 1 THEN ' monument ' || {_Q68_TK_S} END)"
)
_Q68_VKPAI_TAG = (
    f"(CASE WHEN {_Q68_M} = 2 THEN CAST(1000 + {_Q68_TK} AS STRING) "
    f"WHEN {_Q68_M} = 3 OR {_Q68_M} = 0 THEN CAST(5000 + {_Q68_TK} AS STRING) "
    f"WHEN {_Q68_M} = 4 THEN 'VK-' || {_Q68_TK_S} END)"
)
_Q68_HERITAGE_TAG = (
    f"(CASE WHEN {_Q68_M} = 5 THEN '2' WHEN {_Q68_M} = 2 THEN '1' END)"
)
_Q68_OPER_TAG = (
    f"(CASE WHEN {_Q68_M} = 6 THEN 'VKPAI filiāle' "
    f"WHEN {_Q68_M} = 7 THEN 'Valsts kultūras pieminekļu aizsardzības inspekcija' "
    f"WHEN {_Q68_M} = 8 THEN 'Pašvaldība' "
    f"WHEN {_Q68_M} = 5 THEN 'VKPAI' END)"
)
_Q68_WD_TAG = (
    f"(CASE WHEN {_Q68_M} = 9 OR {_Q68_M} = 8 "
    f"THEN CAST(900000 + {_Q68_TK} AS STRING) "
    f"WHEN {_Q68_M} = 10 THEN 'Q' || {_Q68_TK_S} END)"
)
_Q68_ITEM_WD = (
    "(CASE WHEN s_suppkey % 2 = 1 THEN CAST(900000 + s_suppkey AS STRING) END)"
)


def _q68_items(spark, sf_dir) -> DataFrame:
    return _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("item_id"),
        F.expr(_Q68_ILAT("s_suppkey")).alias("item_lat"),
        F.expr(_Q68_ILON("s_suppkey")).alias("item_lon"),
        F.expr("'Monument ' || CAST(s_suppkey AS STRING)").alias("item_name"),
        F.expr("1000 + s_suppkey").cast("long").alias("ref_id"),
        F.expr(_Q68_ITEM_WD).alias("item_wd"),
    )


def _q68_elements(spark, sf_dir) -> DataFrame:
    return _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("elem_id"),
        F.expr(f"({_Q68_ILAT(_Q68_TK)} + {_Q68_OFFSET})").alias("elem_lat"),
        F.expr(_Q68_ILON(_Q68_TK)).alias("elem_lon"),
        F.expr(_Q68_NAME_TAG).alias("name_tag"),
        F.expr(_Q68_OLD_NAME_TAG).alias("old_name_tag"),
        F.expr(_Q68_VKPAI_TAG).alias("vkpai_tag"),
        F.expr(_Q68_HERITAGE_TAG).alias("heritage_tag"),
        F.expr(_Q68_OPER_TAG).alias("oper_tag"),
        F.expr(_Q68_WD_TAG).alias("wikidata_tag"),
    )


def q68_cultural_monuments(spark, sf_dir):
    """CulturalMonumentsAnalyzer: the real correlator with the
    30/300/+1200(Strong) ladder, the DoesOsmNodeMatchMonument strength
    cascade (incl. the dead-code heritage quirk) and the
    IsOsmElementHeritagePoiByItself lone allowance, over synthetic
    registry monuments and tagged heritage elements."""
    from osmalyzer_spark.plans.monuments import correlate_monuments

    corr, _ = correlate_monuments(
        spark, _q68_elements(spark, sf_dir), _q68_items(spark, sf_dir)
    )
    return corr.select(
        "kind",
        F.coalesce("osm_id", F.lit(-1)).alias("osm_id"),
        F.coalesce(F.col("item_id").cast("long"), F.lit(-1)).alias("item_id"),
        F.round(F.coalesce("distance", F.lit(-1.0)), 3).alias("distance"),
        F.coalesce("strength", F.lit(0)).alias("strength"),
        F.coalesce("far", F.lit(False)).alias("far"),
    )


def q69_monument_refs(spark, sf_dir):
    """ValidateElementHasAcceptableValue('ref:LV:vkpai'): heritage
    elements whose ref value string-equals no registry ReferenceID."""
    from osmalyzer_spark.plans.monuments import monument_ref_issues

    return monument_ref_issues(
        _q68_elements(spark, sf_dir), _q68_items(spark, sf_dir)
    ).select("elem_id", "value")


def _q68_fixture_sql() -> str:
    return f"""
    i AS (
        SELECT CAST(s_suppkey AS BIGINT) AS item_id,
               {_Q68_ILAT("s_suppkey")} AS item_lat,
               {_Q68_ILON("s_suppkey")} AS item_lon,
               'Monument ' || CAST(s_suppkey AS STRING) AS item_name,
               CAST(1000 + s_suppkey AS BIGINT) AS ref_id,
               {_Q68_ITEM_WD} AS item_wd
        FROM supplier
    ), c AS (
        SELECT CAST(c_custkey AS BIGINT) AS elem_id,
               ({_Q68_ILAT(_Q68_TK)} + {_Q68_OFFSET}) AS elem_lat,
               {_Q68_ILON(_Q68_TK)} AS elem_lon,
               {_Q68_NAME_TAG} AS name_tag,
               {_Q68_OLD_NAME_TAG} AS old_name_tag,
               {_Q68_VKPAI_TAG} AS vkpai_tag,
               {_Q68_HERITAGE_TAG} AS heritage_tag,
               {_Q68_OPER_TAG} AS oper_tag,
               {_Q68_WD_TAG} AS wikidata_tag
        FROM customer
    )"""


def _q68_oracle_sql() -> str:
    fuzzy = (
        "coalesce(contains(lower(trim({e})), lower(trim(i.item_name))) "
        "OR contains(lower(trim(i.item_name)), lower(trim({e}))), FALSE)"
    )
    oper_vkpai = (
        "(coalesce(contains(lower(oper_tag), 'vkpai'), FALSE) OR "
        "coalesce(contains(lower(oper_tag), "
        "'valsts kultūras pieminekļu aizsardzības inspekcija'), FALSE))"
    )
    strength = f"""CASE
        WHEN {fuzzy.format(e="name_tag")} OR {fuzzy.format(e="old_name_tag")}
          THEN 3
        WHEN vkpai_tag IS NOT NULL THEN
          (CASE WHEN try_cast(vkpai_tag AS INTEGER) = i.ref_id
                THEN 3 ELSE 2 END)
        WHEN heritage_tag IS NOT NULL THEN 1
        WHEN oper_tag IS NOT NULL THEN
          (CASE WHEN {oper_vkpai} THEN 2 ELSE 1 END)
        WHEN i.item_wd IS NOT NULL AND wikidata_tag IS NOT NULL
             AND length(wikidata_tag) > 1
             AND try_cast(wikidata_tag AS BIGINT) IS NOT NULL
             AND CAST(try_cast(wikidata_tag AS BIGINT) AS STRING) = i.item_wd
          THEN 3
        ELSE 0
      END"""
    wd_probe = (
        "(CASE WHEN wikidata_tag IS NOT NULL AND length(wikidata_tag) > 1 "
        "AND try_cast(wikidata_tag AS BIGINT) IS NOT NULL "
        "THEN CAST(try_cast(wikidata_tag AS BIGINT) AS STRING) END)"
    )
    lone = (
        f"(vkpai_tag IS NOT NULL OR (oper_tag IS NOT NULL AND {oper_vkpai}) "
        f"OR coalesce({wd_probe} IN "
        f"(SELECT item_wd FROM i WHERE item_wd IS NOT NULL), FALSE))"
    )
    return f"""
    WITH {_q68_fixture_sql()}, cand AS (
        SELECT * FROM (
            SELECT i.item_id, c.elem_id, {_PAIR_DIST_SQL} AS dist_m,
                   ({strength}) AS strength
            FROM i CROSS JOIN c
        ) p
        WHERE strength > 0
          AND dist_m <= (CASE WHEN strength >= 3
                              THEN 1500.0e0 ELSE 300.0e0 END)
    ), matched AS (
        SELECT item_id, elem_id, strength, dist_m FROM (
            SELECT cand.*, row_number() OVER (
                PARTITION BY item_id ORDER BY dist_m, elem_id) AS rn
            FROM cand
        ) WHERE rn = 1
    )
    SELECT CASE WHEN dist_m > 30.0e0 THEN 'matched_far' ELSE 'matched' END
             AS kind,
           elem_id AS osm_id, item_id, round(dist_m, 3) AS distance,
           strength, dist_m > 30.0e0 AS far
    FROM matched
    UNION ALL
    SELECT 'unmatched_item', CAST(-1 AS BIGINT), item_id, -1.0e0, 0, FALSE
    FROM i WHERE item_id NOT IN (SELECT item_id FROM matched)
    UNION ALL
    SELECT CASE WHEN {lone} THEN 'lone_osm' ELSE 'unmatched_osm' END,
           elem_id, CAST(-1 AS BIGINT), -1.0e0, 0, FALSE
    FROM c WHERE elem_id NOT IN (SELECT elem_id FROM matched)
    """


def _q69_oracle_sql() -> str:
    return f"""
    WITH {_q68_fixture_sql()}
    SELECT elem_id, vkpai_tag AS value
    FROM c
    WHERE vkpai_tag IS NOT NULL
      AND vkpai_tag NOT IN (SELECT CAST(ref_id AS STRING) FROM i)
    """


_ORACLES["q68_cultural_monuments"] = _q68_oracle_sql()
_ORACLES["q69_monument_refs"] = _q69_oracle_sql()


# --------------------------------------------------------------------------
# q70 — LVCRoadAnalyzer (plans/lvc.py; reference
# Analyzers/Roads/LVCRoadAnalyzer.cs).
#
# Fixture: orders are ref-tagged ways (12 ref templates covering valid
# A/P/V codes at and beyond their ceilings, multi-token refs, the four
# excluded municipal patterns, plain-unrecognized refs, and the
# mixed-valid+invalid quirk case), with scope-exclusion tags and
# junction=roundabout driven by independent moduli; parts are road route
# relations (incl. wrong-route-type and multi-token raw refs); suppliers
# are the road law (codes + shared-segment pairs, built so some pairs
# are mapped, some keys are unmapped, and some partners are genuinely
# missing). Both element sets clip to PIP_RING through the engine's ray
# cast / the hand-expanded parity SQL (q12's proven pairing). The oracle
# recomputes IsValidRef/IsExcludedRef with DuckDB's regex engine against
# the engine's Java regexes — a differential test — and mirrors the
# all-token SplitValuesCheck semantics with bool_and. Ref tokens are
# distinct within every fixture ref, so the oracle's tok<tok self-join
# enumerates exactly the engine's ordered unnested pairs.
# --------------------------------------------------------------------------

_Q70_K = "o_orderkey"
_Q70_REF = f"""(CASE ({_Q70_K}) % 12
    WHEN 0 THEN 'A' || CAST(({_Q70_K}) % 30 + 1 AS STRING)
    WHEN 1 THEN 'A' || CAST(31 + ({_Q70_K}) % 20 AS STRING)
    WHEN 2 THEN 'P' || CAST(({_Q70_K}) % 300 + 1 AS STRING)
    WHEN 3 THEN 'V' || CAST(({_Q70_K}) % 3000 + 1 AS STRING)
    WHEN 4 THEN 'V' || CAST(({_Q70_K}) % 3000 + 1 AS STRING)
                || ';P' || CAST(({_Q70_K}) % 300 + 1 AS STRING)
    WHEN 5 THEN 'C-' || CAST(({_Q70_K}) % 100 + 1 AS STRING)
    WHEN 6 THEN '62' || lpad(CAST(({_Q70_K}) % 100 AS STRING), 2, '0')
                || 'B' || lpad(CAST(({_Q70_K}) % 1000 AS STRING), 3, '0')
    WHEN 7 THEN 'X' || CAST(({_Q70_K}) % 9 + 1 AS STRING)
    WHEN 8 THEN (CASE WHEN ({_Q70_K}) % 23 = 0 THEN 'A29;A30'
                 ELSE 'A' || CAST(({_Q70_K}) % 28 + 1 AS STRING)
                      || ';A' || CAST(({_Q70_K} + 7) % 28 + 1 AS STRING) END)
    WHEN 9 THEN 'A' || CAST(({_Q70_K}) % 30 + 1 AS STRING) || ';P05'
    WHEN 10 THEN 'B3.-' || lpad(CAST(({_Q70_K}) % 100 AS STRING), 2, '0')
    ELSE 'A1-' || lpad(CAST(({_Q70_K}) % 100 AS STRING), 2, '0')
    END)"""
_Q70_HW = f"(CASE WHEN ({_Q70_K}) % 19 <> 0 THEN 'secondary' END)"
_Q70_AERO = f"(CASE WHEN ({_Q70_K}) % 17 = 0 THEN 'taxiway' END)"
_Q70_ABA = f"(CASE WHEN ({_Q70_K}) % 37 = 0 THEN 'runway' END)"
_Q70_DIS = f"(CASE WHEN ({_Q70_K}) % 41 = 0 THEN 'apron' END)"
_Q70_RAIL = f"(CASE WHEN ({_Q70_K}) % 29 = 0 THEN 'rail' END)"
_Q70_RB = f"(CASE WHEN ({_Q70_K}) % 23 = 0 THEN 'roundabout' END)"

_Q70_P = "p_partkey"
_Q70_RTYPE = f"(CASE WHEN ({_Q70_P}) % 13 = 0 THEN 'multipolygon' ELSE 'route' END)"
_Q70_ROUTE = f"(CASE WHEN ({_Q70_P}) % 11 = 0 THEN 'bicycle' ELSE 'road' END)"
_Q70_RREF = f"""(CASE ({_Q70_P}) % 4
    WHEN 0 THEN 'A' || CAST(({_Q70_P}) % 30 + 1 AS STRING)
    WHEN 1 THEN 'P' || CAST(({_Q70_P}) % 300 + 1 AS STRING)
    WHEN 2 THEN 'V' || CAST(({_Q70_P}) % 3000 + 1 AS STRING)
    ELSE 'A' || CAST(({_Q70_P}) % 30 + 1 AS STRING)
         || ';P' || CAST(({_Q70_P}) % 300 + 1 AS STRING)
    END)"""

_Q70_LAW = """(CASE s_suppkey % 3
    WHEN 0 THEN 'A' || CAST(s_suppkey % 35 + 1 AS STRING)
    WHEN 1 THEN 'P' || CAST(s_suppkey * 3 % 310 + 1 AS STRING)
    ELSE 'V' || CAST(s_suppkey * 31 % 3100 + 1 AS STRING)
    END)"""
_Q70_SH_KEY = "('V' || CAST(s_suppkey % 3000 + 1 AS STRING))"
_Q70_SH_VAL = """(CASE WHEN s_suppkey % 2 = 0
    THEN 'P' || CAST(s_suppkey % 300 + 1 AS STRING)
    ELSE 'A' || CAST(s_suppkey % 30 + 1 AS STRING) END)"""


def _q70_ways(spark, sf_dir) -> DataFrame:
    tags = (
        f"map_filter(map("
        f"'ref', {_Q70_REF}, 'highway', {_Q70_HW}, 'aeroway', {_Q70_AERO}, "
        f"'abandoned:aeroway', {_Q70_ABA}, 'disused:aeroway', {_Q70_DIS}, "
        f"'railway', {_Q70_RAIL}, 'junction', {_Q70_RB}), "
        f"(k, v) -> v IS NOT NULL)"
    )
    return _t(spark, sf_dir, "orders").select(
        F.col(_Q70_K).cast("long").alias("id"),
        F.expr(tags).alias("tags"),
        F.expr(synth_lat_sql(_Q70_K)).alias("lat"),
        F.expr(synth_lon_sql(_Q70_K)).alias("lon"),
    )


def _q70_rels(spark, sf_dir) -> DataFrame:
    tags = (
        f"map('type', {_Q70_RTYPE}, 'route', {_Q70_ROUTE}, "
        f"'ref', {_Q70_RREF})"
    )
    return _t(spark, sf_dir, "part").select(
        F.col(_Q70_P).cast("long").alias("id"),
        F.expr(tags).alias("tags"),
        F.expr(synth_lat_sql(_Q70_P)).alias("lat"),
        F.expr(synth_lon_sql(_Q70_P)).alias("lon"),
    )


def q70_lvc_roads(spark, sf_dir):
    """LVCRoadAnalyzer: the road-law cross-reference report (map vs law
    membership, shared-segment pairs both directions, route-relation
    presence by raw ref, unrecognized/excluded refs) over ref-tagged
    ways clipped to the country polygon."""
    import numpy as np

    from osmalyzer_spark.geo.polygon import Polygon
    from osmalyzer_spark.plans.lvc import lvc_road_report

    poly = Polygon(outers=[np.array(PIP_RING, dtype=float)], polygon_id="lv")
    law = _t(spark, sf_dir, "supplier").select(
        F.expr(_Q70_LAW).alias("code")
    )
    shared = _t(spark, sf_dir, "supplier").select(
        F.expr(_Q70_SH_KEY).alias("code"), F.expr(_Q70_SH_VAL).alias("shared")
    )
    return lvc_road_report(
        _q70_ways(spark, sf_dir), _q70_rels(spark, sf_dir), law, shared,
        polygon=poly,
    )


def _q70_oracle_sql() -> str:
    valid = (
        "(CASE WHEN regexp_matches(tok, '^[AVP][1-9][0-9]{0,3}$') "
        "THEN try_cast(substring(tok, 2) AS INT) <= "
        "(CASE substring(tok, 1, 1) WHEN 'A' THEN 30 WHEN 'P' THEN 300 "
        "ELSE 3000 END) ELSE FALSE END)"
    )
    excluded = (
        "(regexp_matches(tok, '^C-?[1-9][0-9]{0,2}$') "
        "OR regexp_matches(tok, '^[AB][0-9]\\.-[0-9]{2}$') "
        "OR regexp_matches(tok, '^62[0-9]{2}[ABCD][0-9]{3}$') "
        "OR regexp_matches(tok, '^[ABC]1-[0-9]{2}$'))"
    )
    w_lat = synth_lat_sql(_Q70_K)
    w_lon = synth_lon_sql(_Q70_K)
    r_lat = synth_lat_sql(_Q70_P)
    r_lon = synth_lon_sql(_Q70_P)
    return f"""
    WITH w AS (
        SELECT CAST({_Q70_K} AS BIGINT) AS id, {_Q70_REF} AS ref,
               ({_Q70_K}) % 23 = 0 AS roundabout
        FROM orders
        WHERE ({_Q70_K}) % 19 <> 0 AND ({_Q70_K}) % 17 <> 0
          AND ({_Q70_K}) % 37 <> 0 AND ({_Q70_K}) % 41 <> 0
          AND ({_Q70_K}) % 29 <> 0
          AND ({_pip_crossings_sql(w_lat, w_lon)}) % 2 = 1
    ), wtok AS (
        SELECT id, roundabout, unnest(string_split(ref, ';')) AS tok FROM w
    ), wv AS (
        SELECT id, roundabout, tok, {valid} AS is_valid, {excluded} AS is_excl
        FROM wtok
    ), rec AS (
        SELECT id FROM wv GROUP BY id HAVING bool_and(is_valid)
    ), roads_by_ref AS (
        SELECT tok AS value, count(*) AS n
        FROM wv WHERE id IN (SELECT id FROM rec) GROUP BY tok
    ), law AS (
        SELECT DISTINCT {_Q70_LAW} AS code FROM supplier
    ), lshare AS (
        SELECT {_Q70_SH_KEY} AS code, {_Q70_SH_VAL} AS shared FROM supplier
    ), wpairs AS (
        SELECT a.id, a.tok AS pa, b.tok AS pb,
               a.roundabout
        FROM wv a JOIN wv b ON a.id = b.id AND a.tok < b.tok
    ), pair_groups AS (
        SELECT pa, pb, count(*) AS n, bool_and(roundabout) AS all_rb
        FROM wpairs GROUP BY pa, pb
    ), law_pairs AS (
        SELECT DISTINCT least(code, shared) AS pa, greatest(code, shared) AS pb
        FROM lshare
    ), r AS (
        SELECT CAST({_Q70_P} AS BIGINT) AS id, {_Q70_RREF} AS ref
        FROM part
        WHERE {_Q70_RTYPE} = 'route' AND {_Q70_ROUTE} = 'road'
          AND ({_pip_crossings_sql(r_lat, r_lon)}) % 2 = 1
    ), rv AS (
        SELECT id, ref FROM (
            SELECT id, ref, unnest(string_split(ref, ';')) AS tok FROM r
        ) GROUP BY id, ref HAVING bool_and({valid})
    ), rel_counts AS (
        SELECT ref AS code, count(*) AS n FROM rv GROUP BY ref
    ), all_inv AS (
        SELECT id FROM wv GROUP BY id HAVING bool_and(NOT is_valid)
    ), pre_groups AS (
        SELECT DISTINCT tok FROM wv WHERE id IN (SELECT id FROM all_inv)
    ), kept AS (
        SELECT id FROM wv WHERE id IN (SELECT id FROM all_inv)
        GROUP BY id HAVING bool_and(NOT is_excl)
    ), unrec_groups AS (
        SELECT tok AS value, count(*) AS n
        FROM wv WHERE id IN (SELECT id FROM kept) GROUP BY tok
    )
    SELECT 'mapped_not_in_law' AS kind, value AS a, '' AS b,
           CAST(n AS BIGINT) AS n
    FROM roads_by_ref WHERE value NOT IN (SELECT code FROM law)
    UNION ALL
    SELECT 'law_not_mapped', code, '', -1 FROM law
    WHERE code NOT IN (SELECT value FROM roads_by_ref)
    UNION ALL
    SELECT 'unshared', ls.code, ls.shared, -1 FROM lshare ls
    WHERE ls.code IN (SELECT value FROM roads_by_ref)
      AND NOT EXISTS (
        SELECT 1 FROM wpairs p
        WHERE p.id IN (SELECT id FROM rec)
          AND p.pa = least(ls.code, ls.shared)
          AND p.pb = greatest(ls.code, ls.shared))
    UNION ALL
    SELECT 'shared_not_in_law', pa, pb, CAST(n AS BIGINT) FROM pair_groups
    WHERE NOT all_rb
      AND NOT EXISTS (SELECT 1 FROM law_pairs lp
                      WHERE lp.pa = pair_groups.pa AND lp.pb = pair_groups.pb)
    UNION ALL
    SELECT 'shared_roundabout_only', pa, pb, -1 FROM pair_groups
    WHERE all_rb
      AND NOT EXISTS (SELECT 1 FROM law_pairs lp
                      WHERE lp.pa = pair_groups.pa AND lp.pb = pair_groups.pb)
    UNION ALL
    SELECT 'missing_relation', value, '', -1 FROM roads_by_ref
    WHERE value NOT IN (SELECT code FROM rel_counts)
    UNION ALL
    SELECT 'same_ref_relations', code, '', CAST(n AS BIGINT) FROM rel_counts
    WHERE n > 1 AND code IN (SELECT value FROM roads_by_ref)
    UNION ALL
    SELECT 'extra_relation', ref, CAST(id AS STRING), -1 FROM rv
    WHERE ref NOT IN (SELECT value FROM roads_by_ref)
    UNION ALL
    SELECT 'unrecognized', value, '', CAST(n AS BIGINT) FROM unrec_groups
    UNION ALL
    SELECT 'excluded_count', '', '',
           (SELECT count(*) FROM pre_groups)
             - (SELECT count(*) FROM unrec_groups)
    """


_ORACLES["q70_lvc_roads"] = _q70_oracle_sql()


# --------------------------------------------------------------------------
# q71 — VDB place-name pipeline (plans/vdb.py; reference
# VdbAnalysisData.cs:160-418 + VdbAnalyzer.cs:20-100).
#
# Fixture: customers are raw VDB rows whose every compared field derives
# from e = c_custkey % 600, so duplicate-candidate groups are exactly
# the e-classes: e in 1..300 has three members (left UNTOUCHED — the
# reference only resolves groups of exactly 2), e in {0, 301..599} has
# two. Even e in 302..598 has its e+600 member whitelisted (resolved:
# keep the known row, drop the twin); the rest resolve to "remove both"
# unresolved issues. The alt-names cell cycles 9 templates through the
# REAL bracket parser (pandas UDF) while the oracle predicts the
# qualifier lists structurally — a differential test of the parser —
# and the state/type/official/active stats replay the STAVOKLIS/VEIDS
# mappings in SQL.
# --------------------------------------------------------------------------

_Q71_E = "(c_custkey % 600)"
_Q71_E_S = f"CAST({_Q71_E} AS STRING)"
_Q71_MAIN = f"('Vieta ' || {_Q71_E_S})"
_Q71_SECONDARY = f"(CASE WHEN {_Q71_E} % 5 = 0 THEN 'Otrs ' || {_Q71_E_S} END)"
_Q71_OFFICIAL_NAME = (
    f"(CASE WHEN {_Q71_E} % 4 = 0 THEN 'Oficiālais ' || {_Q71_E_S} END)"
)
_Q71_ALL_NAMES = f"""(CASE {_Q71_E} % 9
    WHEN 0 THEN 'Orlas ezers [o]'
    WHEN 1 THEN 'Rokolu ezers [o, o]'
    WHEN 2 THEN 'Adamovas azars (latgaliski)'
    WHEN 3 THEN 'Vērgali [x] (agrāk arī)'
    WHEN 4 THEN 'Vylku azars (latgaliski arī), Rokuļu ezers (kļūdaini)'
    WHEN 5 THEN 'Byelaye voz.'
    WHEN 6 THEN 'Dzelzāmurs [a] [b]'
    WHEN 7 THEN NULL
    ELSE 'Ozoliņi ' || {_Q71_E_S} || ' (īslaicīgi)'
    END)"""
_Q71_STATE = f"""(CASE {_Q71_E} % 6
    WHEN 0 THEN 'pastāv' WHEN 1 THEN 'daļēji izzudis'
    WHEN 2 THEN 'nepastāv' WHEN 3 THEN 'nedarbojas'
    WHEN 4 THEN 'nezināms' ELSE 'nosusināts/ nolaists' END)"""
_Q71_TYPE = f"""(CASE {_Q71_E} % 8
    WHEN 0 THEN 'viensēta' WHEN 1 THEN 'ciems' WHEN 2 THEN 'mazciems'
    WHEN 3 THEN 'pagasts' WHEN 4 THEN 'novads'
    WHEN 5 THEN 'valstspilsēta' WHEN 6 THEN 'novada pilsēta'
    ELSE 'ezers' END)"""
_Q71_OFFICIAL = (
    f"(CASE WHEN {_Q71_E} % 2 = 0 THEN 'Oficiāls' ELSE 'Neoficiāls' END)"
)
_Q71_PARISH = f"('Pagasts ' || CAST({_Q71_E} % 30 AS STRING))"
_Q71_MUNI = f"('Novads ' || CAST({_Q71_E} % 20 AS STRING))"
_Q71_COMPARED = [
    "main_name", "secondary_name", "official_name", "all_names",
    "state_raw", "type_raw", "official_raw", "parish", "municipality",
]
_Q71_KNOWN = [(str(e + 600), f"Vieta {e}") for e in range(302, 600, 2)]


def _q71_raw(spark, sf_dir) -> DataFrame:
    return _t(spark, sf_dir, "customer").select(
        F.expr("CAST(c_custkey AS STRING)").alias("object_id"),
        F.expr("'2024-' || CAST(c_custkey % 12 + 1 AS STRING)").alias(
            "datums_izm"
        ),
        F.expr(_Q71_MAIN).alias("main_name"),
        F.expr(_Q71_SECONDARY).alias("secondary_name"),
        F.expr(_Q71_OFFICIAL_NAME).alias("official_name"),
        F.expr(_Q71_ALL_NAMES).alias("all_names"),
        F.expr(_Q71_STATE).alias("state_raw"),
        F.expr(_Q71_TYPE).alias("type_raw"),
        F.expr(_Q71_OFFICIAL).alias("official_raw"),
        F.expr(_Q71_PARISH).alias("parish"),
        F.expr(_Q71_MUNI).alias("municipality"),
    )


def q71_vdb_pipeline(spark, sf_dir):
    """VDB pipeline: duplicate-candidate resolution (pairs-only, known
    whitelist, 3+-groups untouched), typed STAVOKLIS/VEIDS parsing, and
    the analyzer's admin-category / qualifier-histogram stats through
    the real alt-names parser."""
    from osmalyzer_spark.plans.vdb import (
        vdb_resolve_duplicates,
        vdb_stats,
        vdb_typed,
    )

    survivors, issues = vdb_resolve_duplicates(
        spark, _q71_raw(spark, sf_dir), _Q71_COMPARED, _Q71_KNOWN
    )
    stats = vdb_stats(vdb_typed(survivors))
    return stats.select(
        "kind", "a", F.lit("").alias("b"), F.col("n").cast("long").alias("n")
    ).unionByName(
        issues.select(
            "kind", F.col("main_id").alias("a"),
            F.col("other_id").alias("b"), F.lit(-1).cast("long").alias("n"),
        )
    )


def _q71_oracle_sql() -> str:
    known = f"({_Q71_E} % 2 = 0 AND {_Q71_E} BETWEEN 302 AND 598)"
    quals = f"""(CASE {_Q71_E} % 9
        WHEN 0 THEN [struct_pack(t := 'pronunciation', c := 'o')]
        WHEN 1 THEN [struct_pack(t := 'pronunciation', c := 'o, o')]
        WHEN 2 THEN [struct_pack(t := 'comment', c := 'latgaliski')]
        WHEN 3 THEN [struct_pack(t := 'pronunciation', c := 'x'),
                     struct_pack(t := 'comment', c := 'agrāk arī')]
        WHEN 4 THEN [struct_pack(t := 'comment', c := 'latgaliski arī'),
                     struct_pack(t := 'comment', c := 'kļūdaini')]
        WHEN 6 THEN [struct_pack(t := 'pronunciation', c := 'a'),
                     struct_pack(t := 'pronunciation', c := 'b')]
        WHEN 8 THEN [struct_pack(t := 'comment', c := 'īslaicīgi')]
        ELSE CAST([] AS STRUCT(t VARCHAR, c VARCHAR)[])
        END)"""
    cat = f"""(CASE {_Q71_E} % 8
        WHEN 0 THEN 'hamlets' WHEN 1 THEN 'villages' WHEN 2 THEN 'hamlets'
        WHEN 3 THEN 'parishes' WHEN 4 THEN 'municipalities'
        WHEN 5 THEN 'cities' WHEN 6 THEN 'cities' END)"""
    return f"""
    WITH g AS (
        SELECT c_custkey AS cid, {_Q71_E} AS e,
               count(*) OVER (PARTITION BY {_Q71_E}) AS cnt,
               {known} AS known_grp
        FROM customer
    ), surv AS (
        SELECT cid, e FROM g
        WHERE cnt <> 2 OR (known_grp AND cid = e + 600)
    ), pair_issues AS (
        SELECT CASE WHEN known_grp THEN 'resolved_dup'
                    ELSE 'unresolved_dup' END AS kind,
               CASE WHEN known_grp THEN CAST(max(cid) AS STRING)
                    ELSE CAST(min(cid) AS STRING) END AS a,
               CASE WHEN known_grp THEN CAST(min(cid) AS STRING)
                    ELSE CAST(max(cid) AS STRING) END AS b
        FROM g WHERE cnt = 2 GROUP BY e, known_grp
    ), admin AS (
        SELECT {cat.replace("c_custkey", "cid")} AS cat,
               (({_Q71_E.replace("c_custkey", "cid")}) % 6 = 0) AS active
        FROM surv
    ), qrows AS (
        SELECT unnest({quals.replace("c_custkey", "cid")}) AS q FROM surv
    )
    SELECT 'admin_count' AS kind, cat AS a, '' AS b, CAST(count(*) AS BIGINT) AS n
    FROM admin WHERE cat IS NOT NULL GROUP BY cat
    UNION ALL
    SELECT 'admin_active', cat, '', CAST(sum(CASE WHEN active THEN 1 ELSE 0 END) AS BIGINT)
    FROM admin WHERE cat IS NOT NULL GROUP BY cat
    UNION ALL
    SELECT q.t, q.c, '', CAST(count(*) AS BIGINT) FROM qrows GROUP BY q.t, q.c
    UNION ALL
    SELECT 'total_entries', '', '', CAST(count(*) AS BIGINT) FROM surv
    UNION ALL
    SELECT kind, a, b, -1 FROM pair_issues
    """


_ORACLES["q71_vdb_pipeline"] = _q71_oracle_sql()


# --------------------------------------------------------------------------
# q72/q73 — BottleDepositPointsAnalyzer (plans/deposit.py).
#
# Fixture: suppliers become deposit-network items three times (kiosk /
# vending / manual scope grids on disjoint latitude bases, spacing
# 2.2 km > the 650 m seek distance — the same sparse-grid argument as
# q68 makes the DA fixed point window-expressible); orders become OSM
# elements whose scope (ok%3), distance band, and 8 tag shapes drive
# scope membership (including the reference's `brand ?? name` shadowing
# quirk), the Strong-on-fuzzy-address strength, every validation rule,
# and the case-insensitive shop stats. The oracle materializes the SAME
# tag-column SQL snippets the Spark fixture uses and re-applies the
# scope/rule predicates uniformly — the engine runs them as native tag
# map expressions over the real correlator.
# --------------------------------------------------------------------------

_Q72_S = "(o_orderkey % 3)"
_Q72_TK = "((o_orderkey % 95) + 1)"
_Q72_BLK = "CAST(floor(o_orderkey / 300.0e0) AS INT)"
_Q72_BAND = f"({_Q72_BLK} % 4)"
_Q72_M = f"(({_Q72_TK} + {_Q72_BLK}) % 8)"
# 75/150/+500: bands land at matched, matched_far, Strong-only
# matched_far (400 m), dead (901 m > 650 m seek)
_Q72_OFFSET = (
    f"(CASE {_Q72_BAND} WHEN 0 THEN 0.0e0 WHEN 1 THEN 0.0011e0 "
    f"WHEN 2 THEN 0.0036e0 ELSE 0.0081e0 END)"
)
_Q72_BASE = f"(CASE {_Q72_S} WHEN 0 THEN 50.00e0 WHEN 1 THEN 54.00e0 ELSE 58.00e0 END)"
_Q72_ELAT = f"({_Q72_BASE} + ({_Q72_TK} % 97) * 0.02e0 + {_Q72_OFFSET})"
_Q72_ELON = f"(24.00e0 + ({_Q72_TK} % 89) * 0.03e0)"

_Q72_TAGS = {
    "amenity": f"""(CASE {_Q72_S}
        WHEN 0 THEN (CASE WHEN {_Q72_M} = 7 THEN 'waste_basket' ELSE 'recycling' END)
        WHEN 1 THEN 'vending_machine' END)""",
    "vending": f"""(CASE WHEN {_Q72_S} = 1
        THEN (CASE WHEN {_Q72_M} = 7 THEN 'drinks' ELSE 'bottle_return' END) END)""",
    "shop": f"(CASE WHEN {_Q72_S} = 2 AND {_Q72_M} <> 7 THEN 'supermarket' END)",
    "brand": f"""(CASE {_Q72_S}
        WHEN 0 THEN (CASE {_Q72_M} WHEN 0 THEN 'Depozīta punkts DP'
                     WHEN 2 THEN 'Cits zīmols' WHEN 3 THEN 'DEPOZĪTA PUNKTS'
                     WHEN 4 THEN 'Depozīta punkts' END)
        WHEN 1 THEN (CASE WHEN {_Q72_M} <= 1 THEN 'Depozīta punkts' END) END)""",
    "name": f"""(CASE {_Q72_S}
        WHEN 0 THEN (CASE {_Q72_M} WHEN 1 THEN 'Deposit Point'
                     WHEN 2 THEN 'Depozīta punkts' WHEN 4 THEN 'Depozīta punkts'
                     WHEN 5 THEN 'Depozīta punkts' WHEN 6 THEN 'Cits' END)
        WHEN 1 THEN (CASE WHEN {_Q72_M} % 2 = 0 THEN 'Depozīta punkts' END) END)""",
    "brand:wikidata": f"""(CASE {_Q72_S}
        WHEN 0 THEN (CASE WHEN {_Q72_M} = 5 THEN 'Q999' ELSE 'Q110979381' END)
        WHEN 1 THEN (CASE WHEN {_Q72_M} <> 2 THEN 'Q110979381' END) END)""",
    "building": f"""(CASE {_Q72_S}
        WHEN 0 THEN (CASE WHEN {_Q72_M} IN (0, 1, 3) THEN 'kiosk'
                     WHEN {_Q72_M} = 5 THEN 'roof' END)
        WHEN 1 THEN (CASE WHEN {_Q72_M} = 5 THEN 'retail' END) END)""",
    "recycling:cans": f"""(CASE {_Q72_S}
        WHEN 0 THEN (CASE WHEN {_Q72_M} = 1 THEN 'no' ELSE 'yes' END)
        WHEN 1 THEN (CASE WHEN {_Q72_M} = 3 THEN 'maybe' ELSE 'yes' END)
        ELSE (CASE WHEN {_Q72_M} = 6 THEN 'no' ELSE 'yes' END) END)""",
    "recycling:glass_bottles": f"""(CASE {_Q72_S}
        WHEN 0 THEN (CASE WHEN {_Q72_M} = 3 THEN NULL ELSE 'yes' END)
        WHEN 1 THEN (CASE {_Q72_M} WHEN 0 THEN 'yes' WHEN 1 THEN 'no'
                     WHEN 2 THEN 'maybe' END)
        ELSE 'yes' END)""",
    "recycling:plastic_bottles": "'yes'",
    "recycling_type": f"(CASE WHEN {_Q72_S} = 0 AND {_Q72_M} = 0 THEN 'centre' END)",
    "fixme": f"""(CASE WHEN {_Q72_S} = 0 AND {_Q72_M} = 4 THEN 'verify'
        WHEN {_Q72_S} = 1 AND {_Q72_M} = 6 THEN 'fix' END)""",
    "addr:street": f"""(CASE WHEN {_Q72_M} % 2 = 0 THEN
        (CASE {_Q72_TK} % 3 WHEN 0 THEN 'Ozolu iela'
         WHEN 1 THEN 'Liepu iela' END) END)""",
    "addr:housenumber": f"""(CASE WHEN {_Q72_M} % 2 = 0
        THEN CAST({_Q72_TK} % 89 + 1 AS STRING)
        ELSE CAST({_Q72_TK} % 89 + 2 AS STRING) END)""",
}

_Q72_IADDR = """(CASE s_suppkey % 3
    WHEN 0 THEN 'Ozolu iela ' || CAST(s_suppkey % 89 + 1 AS STRING)
    WHEN 1 THEN 'Liepu iela ' || CAST(s_suppkey % 89 + 1 AS STRING)
    END)"""
_Q72_ISHOP = """(CASE s_suppkey % 5
    WHEN 0 THEN 'Maxima' WHEN 1 THEN 'MAXIMA' WHEN 2 THEN 'Rimi'
    WHEN 3 THEN 'DUS Viada' END)"""
_Q72_SCOPES = [("kiosk", "50.00e0"), ("vending", "54.00e0"),
               ("manual", "58.00e0")]


def _q72_elements(spark, sf_dir) -> DataFrame:
    entries = ", ".join(f"'{k}', {v}" for k, v in _Q72_TAGS.items())
    tags = f"map_filter(map({entries}), (k, v) -> v IS NOT NULL)"
    return _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("id"),
        F.expr(tags).alias("tags"),
        F.expr(_Q72_ELAT).alias("lat"),
        F.expr(_Q72_ELON).alias("lon"),
    )


def _q72_items(spark, sf_dir, base: str) -> DataFrame:
    return _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("item_id"),
        F.expr(f"({base} + (s_suppkey % 97) * 0.02e0)").alias("item_lat"),
        F.expr("(24.00e0 + (s_suppkey % 89) * 0.03e0)").alias("item_lon"),
        F.expr(_Q72_IADDR).alias("address"),
        F.expr(_Q72_ISHOP).alias("shop_name"),
    )


def q72_deposit_points(spark, sf_dir):
    """BottleDepositPointsAnalyzer correlations: three scope filters
    (incl. the brand??name shadowing quirk), each through the real
    correlator with the 75/150/+500(Strong) ladder and the
    Strong-on-fuzzy-address strength callback."""
    from osmalyzer_spark.plans.deposit import (
        correlate_deposit,
        kiosk_scope,
        manual_scope,
        vending_scope,
    )

    osm = _q72_elements(spark, sf_dir)
    scopes = {
        "kiosk": kiosk_scope(osm),
        "vending": vending_scope(osm),
        "manual": manual_scope(osm),
    }
    out = None
    for (label, base) in _Q72_SCOPES:
        corr = correlate_deposit(
            spark, scopes[label], _q72_items(spark, sf_dir, base)
        ).select(
            F.lit(label).alias("scope"),
            "kind",
            F.coalesce("osm_id", F.lit(-1)).alias("osm_id"),
            F.coalesce(F.col("item_id").cast("long"), F.lit(-1)).alias("item_id"),
            F.round(F.coalesce("distance", F.lit(-1.0)), 3).alias("distance"),
            F.coalesce("strength", F.lit(0)).alias("strength"),
            F.coalesce("far", F.lit(False)).alias("far"),
        )
        out = corr if out is None else out.unionByName(corr)
    return out


def q73_deposit_checks(spark, sf_dir):
    """BottleDepositPointsAnalyzer tagging validation (every scoped
    element against the kiosk/vending rule sets) + the case-insensitive
    shop-name stats per item list."""
    from osmalyzer_spark.plans.deposit import (
        KIOSK_RULES,
        VENDING_RULES,
        kiosk_scope,
        shop_stats,
        validate_elements,
        vending_scope,
    )

    osm = _q72_elements(spark, sf_dir)
    out = None
    for label, scoped, rules in (
        ("kiosk", kiosk_scope(osm), KIOSK_RULES),
        ("vending", vending_scope(osm), VENDING_RULES),
    ):
        part = validate_elements(scoped, rules).select(
            F.lit(label).alias("scope"),
            F.col("rule").alias("kind"),
            F.col("tag").alias("a"),
            F.col("found").alias("b"),
            F.col("elem_id").cast("long").alias("n"),
        )
        out = part if out is None else out.unionByName(part)
    for (label, base) in _Q72_SCOPES:
        stats = shop_stats(_q72_items(spark, sf_dir, base)).select(
            F.lit(label).alias("scope"),
            F.lit("shop_stat").alias("kind"),
            F.col("shop").alias("a"),
            F.lit("").alias("b"),
            F.col("n").cast("long").alias("n"),
        )
        out = out.unionByName(stats)
    return out


def _q72_elems_sql() -> str:
    cols = ",\n               ".join(
        f"{sql} AS \"{name}\""
        for name, sql in [
            ("amenity", _Q72_TAGS["amenity"]),
            ("vending", _Q72_TAGS["vending"]),
            ("shop", _Q72_TAGS["shop"]),
            ("brand", _Q72_TAGS["brand"]),
            ("name", _Q72_TAGS["name"]),
            ("wikidata", _Q72_TAGS["brand:wikidata"]),
            ("building", _Q72_TAGS["building"]),
            ("r_cans", _Q72_TAGS["recycling:cans"]),
            ("r_glass", _Q72_TAGS["recycling:glass_bottles"]),
            ("r_plastic", _Q72_TAGS["recycling:plastic_bottles"]),
            ("r_type", _Q72_TAGS["recycling_type"]),
            ("fixme", _Q72_TAGS["fixme"]),
            ("street", _Q72_TAGS["addr:street"]),
            ("housenum", _Q72_TAGS["addr:housenumber"]),
        ]
    )
    return f"""
    e0 AS (
        SELECT CAST(o_orderkey AS BIGINT) AS id, {_Q72_S} AS s,
               {_Q72_ELAT} AS lat, {_Q72_ELON} AS lon,
               {cols}
        FROM orders
    ), e AS (
        SELECT *,
               CASE
                 WHEN s = 0 AND amenity = 'recycling'
                      AND coalesce(lower(coalesce(brand, "name")), '') LIKE '%depozīta%'
                      OR s = 0 AND amenity = 'recycling'
                      AND coalesce(lower(coalesce(brand, "name")), '') LIKE '%deposit%'
                   THEN 'kiosk'
                 WHEN s = 1 AND amenity = 'vending_machine'
                      AND vending = 'bottle_return' THEN 'vending'
                 WHEN s = 2 AND shop IS NOT NULL AND r_cans = 'yes'
                      AND r_plastic = 'yes' AND r_glass = 'yes' THEN 'manual'
               END AS scope
        FROM e0
    ), items AS (
        SELECT sc.scope, CAST(s_suppkey AS BIGINT) AS item_id,
               (sc.base + (s_suppkey % 97) * 0.02e0) AS item_lat,
               (24.00e0 + (s_suppkey % 89) * 0.03e0) AS item_lon,
               {_Q72_IADDR} AS address,
               {_Q72_ISHOP} AS shop_name
        FROM supplier
        CROSS JOIN (VALUES ('kiosk', 50.00e0), ('vending', 54.00e0),
                           ('manual', 58.00e0)) AS sc(scope, base)
    )"""


def _q72_oracle_sql() -> str:
    hav = haversine_sql("i.item_lat", "i.item_lon", "e.lat", "e.lon")
    street_ok = (
        "(CASE WHEN contains(lower(trim(i.address)), 'iela') THEN "
        "coalesce(contains(lower(trim(i.address)), 'iela'), FALSE) "
        "AND e.street IS NOT NULL AND contains(lower(e.street), 'iela') "
        "ELSE coalesce(contains(lower(trim(i.address)), "
        "trim(replace(lower(e.street), 'iela', ''))), FALSE) END)"
    )
    strong = (
        f"(i.address IS NOT NULL AND e.street IS NOT NULL "
        f"AND e.housenum IS NOT NULL AND {street_ok} "
        f"AND e.housenum = "
        f"regexp_extract(lower(trim(i.address)), '\\d+[a-z]?'))"
    )
    return f"""
    WITH {_q72_elems_sql()}, cand AS (
        SELECT * FROM (
            SELECT e.scope, i.item_id, e.id AS elem_id, {hav} AS dist_m,
                   CASE WHEN {strong} THEN 3 ELSE 2 END AS strength
            FROM items i JOIN e ON e.scope = i.scope
        ) p
        WHERE dist_m <= (CASE WHEN strength >= 3
                              THEN 650.0e0 ELSE 150.0e0 END)
    ), matched AS (
        SELECT scope, item_id, elem_id, strength, dist_m FROM (
            SELECT cand.*, row_number() OVER (
                PARTITION BY scope, item_id ORDER BY dist_m, elem_id) AS rn
            FROM cand
        ) WHERE rn = 1
    )
    SELECT scope,
           CASE WHEN dist_m > 75.0e0 THEN 'matched_far' ELSE 'matched' END
             AS kind,
           elem_id AS osm_id, item_id, round(dist_m, 3) AS distance,
           strength, dist_m > 75.0e0 AS far
    FROM matched
    UNION ALL
    SELECT i.scope, 'unmatched_item', CAST(-1 AS BIGINT), i.item_id,
           -1.0e0, 0, FALSE
    FROM items i
    WHERE NOT EXISTS (SELECT 1 FROM matched m
                      WHERE m.scope = i.scope AND m.item_id = i.item_id)
    UNION ALL
    SELECT e.scope, 'unmatched_osm', e.id, CAST(-1 AS BIGINT), -1.0e0, 0, FALSE
    FROM e
    WHERE e.scope IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM matched m
                      WHERE m.scope = e.scope AND m.elem_id = e.id)
    """


def _q73_oracle_sql() -> str:
    def rule_rows(scope: str, rules: list[tuple[str, str, str]]) -> str:
        parts = []
        for kind, tag, col, bad in rules:
            parts.append(
                f"SELECT '{scope}' AS scope, '{kind}' AS kind, '{tag}' AS a, "
                f"coalesce({col}, '') AS b, id AS n "
                f"FROM e WHERE scope = '{scope}' AND ({bad})"
            )
        return "\n    UNION ALL\n    ".join(parts)

    has = lambda c, v: f"({c} IS NULL OR {c} <> '{v}')"  # noqa: E731
    kiosk = rule_rows("kiosk", [
        ("has_value", "name", '"name"', has('"name"', "Depozīta punkts")),
        ("has_value", "brand", "brand", has("brand", "Depozīta punkts")),
        ("has_value", "brand:wikidata", "wikidata", has("wikidata", "Q110979381")),
        ("has_value", "building", "building", has("building", "kiosk")),
        ("has_value", "recycling:cans", "r_cans", has("r_cans", "yes")),
        ("has_value", "recycling:glass_bottles", "r_glass", has("r_glass", "yes")),
        ("has_value", "recycling:plastic_bottles", "r_plastic", has("r_plastic", "yes")),
        ("no_tag", "recycling_type", "r_type", "r_type IS NOT NULL"),
        ("fixme", "fixme", "fixme", "fixme IS NOT NULL"),
    ])
    vending = rule_rows("vending", [
        ("has_value", "name", '"name"', has('"name"', "Depozīta punkts")),
        ("has_value", "brand", "brand", has("brand", "Depozīta punkts")),
        ("has_value", "brand:wikidata", "wikidata", has("wikidata", "Q110979381")),
        ("has_value", "recycling:cans", "r_cans", has("r_cans", "yes")),
        ("any_value", "recycling:glass_bottles", "r_glass",
         "(r_glass IS NULL OR r_glass NOT IN ('yes', 'no'))"),
        ("has_value", "recycling:plastic_bottles", "r_plastic", has("r_plastic", "yes")),
        ("no_tag", "building", "building", "building IS NOT NULL"),
        ("fixme", "fixme", "fixme", "fixme IS NOT NULL"),
    ])
    return f"""
    WITH {_q72_elems_sql()}
    {kiosk}
    UNION ALL
    {vending}
    UNION ALL
    SELECT scope, 'shop_stat', lower(shop_name), '', CAST(count(*) AS BIGINT)
    FROM items WHERE shop_name IS NOT NULL GROUP BY scope, lower(shop_name)
    UNION ALL
    SELECT scope, 'shop_stat', '', '', CAST(count(*) AS BIGINT)
    FROM items WHERE shop_name IS NULL GROUP BY scope
    """


_ORACLES["q72_deposit_points"] = _q72_oracle_sql()
_ORACLES["q73_deposit_checks"] = _q73_oracle_sql()


# --------------------------------------------------------------------------
# q74 — CulturalCenterAnalyzer (plans/poi_configs.py cultural_centers).
#
# Same sparse-grid window-DA construction as q68/q72 (inter-item spacing
# 4.45 km > the 1200 m seek). The distinctive gated semantics is the
# NamesMatch cascade: ordinal-ignore-case equality, equality after
# NormalizeName (strip a trailing " kultūras nams/centrs" and a leading
# "... novada "), and the >5-char bidirectional containment of the
# normalized forms — run as Java (?iu) regexes in Spark and mirrored by
# DuckDB's RE2 with the 'i' option (a differential test across regex
# engines), plus the official_name fallback, the fuzzy-address Good
# band, the Regular default (every in-range pair lives), and the
# keyword lone allowance.
# --------------------------------------------------------------------------

_Q74_TK = "((o_orderkey % 95) + 1)"
_Q74_BLK = "CAST(floor(o_orderkey / 300.0e0) AS INT)"
_Q74_BAND = f"({_Q74_BLK} % 4)"
_Q74_M = f"(({_Q74_TK} + {_Q74_BLK}) % 8)"
_Q74_ILAT = lambda k: f"(56.00e0 + (({k}) % 97) * 0.04e0)"  # noqa: E731
_Q74_ILON = lambda k: f"(24.00e0 + (({k}) % 89) * 0.03e0)"  # noqa: E731
# 150/500/+700: matched, matched_far, Strong-only matched_far (~700 m),
# dead (~1313 m > 1200 m seek)
_Q74_OFFSET = (
    f"(CASE {_Q74_BAND} WHEN 0 THEN 0.0e0 WHEN 1 THEN 0.0016e0 "
    f"WHEN 2 THEN 0.0063e0 ELSE 0.0118e0 END)"
)
_Q74_STEM = lambda k: f"('Nama vieta ' || CAST({k} AS STRING))"  # noqa: E731
_Q74_ITEM_NAME = f"""(CASE s_suppkey % 3
    WHEN 0 THEN {_Q74_STEM("s_suppkey")}
    WHEN 1 THEN {_Q74_STEM("s_suppkey")} || ' kultūras nams'
    ELSE 'Kāda novada ' || {_Q74_STEM("s_suppkey")} END)"""
_Q74_ITEM_ADDR = """(CASE WHEN s_suppkey % 2 = 1
    THEN 'Ozolu iela ' || CAST(s_suppkey % 89 + 1 AS STRING) ELSE '' END)"""
# scope carving so every cascade outcome WINS somewhere: monuments with
# tk%4=0 lose their band-0/1 candidates entirely (closest survivor is
# the 700 m band: Strong m2 -> matched_far, Regular m6 -> dropped ->
# lone), and tk%8=5 keeps only the address-shape m5 at band 0, whose
# Good strength wins at 0 m (the item is odd -> has an address)
_Q74_SCOPED_OUT = (
    f"(({_Q74_TK} % 4 = 0 AND {_Q74_M} IN (0, 1, 4, 5)) "
    f"OR ({_Q74_TK} % 8 = 5 AND {_Q74_M} = 1))"
)
_Q74_AMENITY = (
    f"(CASE WHEN {_Q74_SCOPED_OUT} THEN 'community_hall' "
    f"ELSE 'community_centre' END)"
)
# m0 plain stem name; m1 trailing-suffix form; m2 leading-novada form;
# m3 official_name carries the stem behind a non-matching name;
# m4 uppercase stem (ordinal-ignore-case); m5 address-only (Good when
# the item has an address); m6 keyword name (Regular + lone);
# m7 bare (Regular)
_Q74_NAME_TAG = f"""(CASE {_Q74_M}
    WHEN 0 THEN {_Q74_STEM(_Q74_TK)}
    WHEN 1 THEN {_Q74_STEM(_Q74_TK)} || ' kultūras centrs'
    WHEN 2 THEN 'Cita novada ' || {_Q74_STEM(_Q74_TK)}
    WHEN 3 THEN 'Pašvaldības ēka'
    WHEN 4 THEN 'NAMA VIETA ' || CAST({_Q74_TK} AS STRING)
    WHEN 6 THEN 'Mazais saieta nams' END)"""
_Q74_OFFICIAL_TAG = f"(CASE WHEN {_Q74_M} = 3 THEN {_Q74_STEM(_Q74_TK)} END)"
_Q74_STREET_TAG = f"(CASE WHEN {_Q74_M} = 5 THEN 'Ozolu iela' END)"
_Q74_HOUSENUM_TAG = (
    f"(CASE WHEN {_Q74_M} = 5 THEN CAST({_Q74_TK} % 89 + 1 AS STRING) END)"
)


def _q74_osm(spark, sf_dir) -> DataFrame:
    tags = (
        f"map_filter(map('amenity', {_Q74_AMENITY}, "
        f"'name', {_Q74_NAME_TAG}, 'official_name', {_Q74_OFFICIAL_TAG}, "
        f"'addr:street', {_Q74_STREET_TAG}, "
        f"'addr:housenumber', {_Q74_HOUSENUM_TAG}), "
        f"(k, v) -> v IS NOT NULL)"
    )
    return _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("id"),
        F.lit("node").alias("type"),
        F.expr(tags).alias("tags"),
        F.expr(f"({_Q74_ILAT(_Q74_TK)} + {_Q74_OFFSET})").alias("lat"),
        F.expr(_Q74_ILON(_Q74_TK)).alias("lon"),
    )


def _q74_items(spark, sf_dir) -> DataFrame:
    return _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("item_id"),
        F.expr(_Q74_ILAT("s_suppkey")).alias("item_lat"),
        F.expr(_Q74_ILON("s_suppkey")).alias("item_lon"),
        F.expr(_Q74_ITEM_NAME).alias("item_name"),
        F.expr(_Q74_ITEM_ADDR).alias("address"),
    )


def q74_cultural_centers(spark, sf_dir):
    """CulturalCenterAnalyzer: the NamesMatch normalization cascade
    (Java (?iu) regexes vs the oracle's RE2), the official_name
    fallback, the fuzzy-address Good band, the Regular default, and the
    keyword lone allowance, through the real 150/500/+700 correlator."""
    from osmalyzer_spark.plans.poi_configs import cultural_centers

    corr = cultural_centers(
        spark, _q74_osm(spark, sf_dir), _q74_items(spark, sf_dir)
    )
    return corr.select(
        "kind",
        F.coalesce("osm_id", F.lit(-1)).alias("osm_id"),
        F.coalesce(F.col("item_id").cast("long"), F.lit(-1)).alias("item_id"),
        F.round(F.coalesce("distance", F.lit(-1.0)), 3).alias("distance"),
        F.coalesce("strength", F.lit(0)).alias("strength"),
        F.coalesce("far", F.lit(False)).alias("far"),
    )


def _q74_oracle_sql() -> str:
    def norm(x: str) -> str:
        return (
            f"regexp_replace(regexp_replace(trim({x}), "
            f"'\\s+kultūras (nams|centrs)$', '', 'i'), "
            f"'^.+?\\s+novada\\s+', '', 'i')"
        )

    def names_match(a: str, b: str) -> str:
        na, nb = norm(a), norm(b)
        return (
            f"(lower({a}) = lower({b}) OR lower({na}) = lower({nb}) "
            f"OR (length({na}) > 5 AND length({nb}) > 5 "
            f"AND (contains(lower({nb}), lower({na})) "
            f"OR contains(lower({na}), lower({nb})))))"
        )

    hav = haversine_sql("i.item_lat", "i.item_lon", "e.lat", "e.lon")
    street_ok = (
        "(CASE WHEN contains(lower(trim(i.address)), 'iela') THEN "
        "e.street IS NOT NULL AND contains(lower(e.street), 'iela') "
        "ELSE coalesce(contains(lower(trim(i.address)), "
        "trim(replace(lower(e.street), 'iela', ''))), FALSE) END)"
    )
    addr_good = (
        f"(i.address IS NOT NULL AND i.address <> '' "
        f"AND e.street IS NOT NULL AND e.housenum IS NOT NULL "
        f"AND {street_ok} AND e.housenum = "
        f"regexp_extract(lower(trim(i.address)), '\\d+[a-z]?'))"
    )
    strength = f"""CASE
        WHEN (e."name" IS NOT NULL
              AND {names_match('i.item_name', 'e."name"')})
          OR (e.official_name IS NOT NULL
              AND {names_match('i.item_name', 'e.official_name')})
          THEN 3
        WHEN {addr_good} THEN 2
        ELSE 1
      END"""
    lone = (
        '(e."name" IS NOT NULL AND ('
        "coalesce(contains(lower(e.\"name\"), 'kultūras nams'), FALSE) OR "
        "coalesce(contains(lower(e.\"name\"), 'kultūras centrs'), FALSE) OR "
        "coalesce(contains(lower(e.\"name\"), 'tautas nams'), FALSE) OR "
        "coalesce(contains(lower(e.\"name\"), 'saieta nams'), FALSE) OR "
        "coalesce(contains(lower(e.\"name\"), 'saietu nams'), FALSE)))"
    )
    return f"""
    WITH i AS (
        SELECT CAST(s_suppkey AS BIGINT) AS item_id,
               {_Q74_ILAT("s_suppkey")} AS item_lat,
               {_Q74_ILON("s_suppkey")} AS item_lon,
               {_Q74_ITEM_NAME} AS item_name,
               {_Q74_ITEM_ADDR} AS address
        FROM supplier
    ), e AS (
        SELECT CAST(o_orderkey AS BIGINT) AS id,
               ({_Q74_ILAT(_Q74_TK)} + {_Q74_OFFSET}) AS lat,
               {_Q74_ILON(_Q74_TK)} AS lon,
               {_Q74_NAME_TAG} AS "name",
               {_Q74_OFFICIAL_TAG} AS official_name,
               {_Q74_STREET_TAG} AS street,
               {_Q74_HOUSENUM_TAG} AS housenum
        FROM orders
        WHERE NOT {_Q74_SCOPED_OUT}
    ), cand AS (
        SELECT * FROM (
            SELECT i.item_id, e.id AS elem_id, {hav} AS dist_m,
                   ({strength}) AS strength, {lone} AS is_lone
            FROM i CROSS JOIN e
        ) p
        WHERE dist_m <= (CASE WHEN strength >= 3
                              THEN 1200.0e0 ELSE 500.0e0 END)
    ), matched AS (
        SELECT item_id, elem_id, strength, dist_m FROM (
            SELECT cand.*, row_number() OVER (
                PARTITION BY item_id ORDER BY dist_m, elem_id) AS rn
            FROM cand
        ) WHERE rn = 1
    )
    SELECT CASE WHEN dist_m > 150.0e0 THEN 'matched_far' ELSE 'matched' END
             AS kind,
           elem_id AS osm_id, item_id, round(dist_m, 3) AS distance,
           strength, dist_m > 150.0e0 AS far
    FROM matched
    UNION ALL
    SELECT 'unmatched_item', CAST(-1 AS BIGINT), item_id, -1.0e0, 0, FALSE
    FROM i WHERE item_id NOT IN (SELECT item_id FROM matched)
    UNION ALL
    SELECT CASE WHEN {lone} THEN 'lone_osm' ELSE 'unmatched_osm' END,
           e.id, CAST(-1 AS BIGINT), -1.0e0, 0, FALSE
    FROM e WHERE e.id NOT IN (SELECT elem_id FROM matched)
    """


_ORACLES["q74_cultural_centers"] = _q74_oracle_sql()


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_pricing_summary": q01_pricing_summary,
        "q02_json_filter": q02_json_filter,
        "q03_unique_values": q03_unique_values,
        "q04_group_split_explode": q04_group_split_explode,
        "q05_topk_per_group": q05_topk_per_group,
        "q06_anti_join": q06_anti_join,
        "q07_semi_join": q07_semi_join,
        "q08_lag_gap": q08_lag_gap,
        "q09_sessionize": q09_sessionize,
        "q10_knn_radius": q10_knn_radius,
        "q11_mutual_best": q11_mutual_best,
        "q12_point_in_polygon": q12_point_in_polygon,
        "q13_tile_assignment": q13_tile_assignment,
        "q14_centroid": q14_centroid,
        "q15_dedup_tokenset": q15_dedup_tokenset,
        "q16_ngram_jaccard": q16_ngram_jaccard,
        "q17_cosine_topk": q17_cosine_topk,
        "q18_text_quality": q18_text_quality,
        "q19_lang_guess": q19_lang_guess,
        "q20_route_variants": q20_route_variants,
        "q21_minhash_lsh": q21_minhash_lsh,
        "q22_simhash": q22_simhash,
        "q23_embedding_near_dup": q23_embedding_near_dup,
        "q24_cosine_lsh": q24_cosine_lsh,
        "q25_tile_region": q25_tile_region,
        "q26_sharp_angles": q26_sharp_angles,
        "q27_correlator": q27_correlator,
        "q28_clean_corpus": q28_clean_corpus,
        "q29_fuzzy_parse": q29_fuzzy_parse,
        "q30_fuzzy_geocode": q30_fuzzy_geocode,
        "q31_opening_hours": q31_opening_hours,
        "q32_ivf_ann": q32_ivf_ann,
        "q33_pt_pipeline": q33_pt_pipeline,
        "q34_improper_translation": q34_improper_translation,
        "q35_trolleybus_wires": q35_trolleybus_wires,
        "q36_ivf_kmeans": q36_ivf_kmeans,
        "q37_checkpointed_correlator": q37_checkpointed_correlator,
        "q38_image_roundtrip": q38_image_roundtrip,
        "q39_audio_roundtrip": q39_audio_roundtrip,
        "q40_video_roundtrip": q40_video_roundtrip,
        "q41_phash_neardup": q41_phash_neardup,
        "q42_barrier_connections": q42_barrier_connections,
        "q43_bridge_water": q43_bridge_water,
        "q44_crossing_consistency": q44_crossing_consistency,
        "q45_terminating_ways": q45_terminating_ways,
        "q46_lifecycle_leftovers": q46_lifecycle_leftovers,
        "q47_street_continuity": q47_street_continuity,
        "q48_speed_limits": q48_speed_limits,
        "q49_lone_crossings": q49_lone_crossings,
        "q50_turn_restrictions": q50_turn_restrictions,
        "q51_non_defining_tags": q51_non_defining_tags,
        "q52_spelling": q52_spelling,
        "q53_living_zone": q53_living_zone,
        "q54_seasonal_speeds": q54_seasonal_speeds,
        "q55_maxspeed_type": q55_maxspeed_type,
        "q56_barriers": q56_barriers,
        "q57_duplicate_platforms": q57_duplicate_platforms,
        "q58_pt_access": q58_pt_access,
        "q59_playgrounds": q59_playgrounds,
        "q60_postcodes": q60_postcodes,
        "q61_double_mapped": q61_double_mapped,
        "q62_street_names": q62_street_names,
        "q63_admin_boundaries": q63_admin_boundaries,
        "q64_common_brands": q64_common_brands,
        "q65_city_analyzer": q65_city_analyzer,
        "q66_parcel_lockers": q66_parcel_lockers,
        "q67_unknown_lockers": q67_unknown_lockers,
        "q68_cultural_monuments": q68_cultural_monuments,
        "q69_monument_refs": q69_monument_refs,
        "q70_lvc_roads": q70_lvc_roads,
        "q71_vdb_pipeline": q71_vdb_pipeline,
        "q72_deposit_points": q72_deposit_points,
        "q73_deposit_checks": q73_deposit_checks,
        "q74_cultural_centers": q74_cultural_centers,
    }


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)
