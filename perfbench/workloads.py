"""The benchmark's workloads: named steps, each a builder call whose result
is collected and checked against a DuckDB oracle.

Why these two workloads (see also BENCHMARK.json):

- ``xref`` is the daily cross-reference batch on sf0.1: the in-memory
  correlator (q27 plan), point-in-polygon, tile assignment, the kNN radius
  join, and the Python-worker-bound signature steps (MinHash/LSH and
  SimHash). Its 1,000 x 15,000 geotags put the correlator's
  deferred-acceptance (DA) gate and the connected-components (CC) gate on
  their driver-local side.
- ``resume`` replicates the elements x3 under fixed key offsets and runs the
  checkpointed correlate (q37 plan): it crashes through the public crash
  hook after the small-component pass, then resumes into the same
  ``CheckpointedRun``. Its giant component holds ~355k DA candidates, so
  the DA gate is on its distributed side; the CC gate stays local (358k
  edges against 2M). It carries no signature work, so a change to the
  signature kernels should leave it flat.
"""

from __future__ import annotations

import inspect
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

RADIUS_JOIN_M = 5000.0


@dataclass
class Ctx:
    """Per-run state the step builders share."""

    input_dir: Path
    ck_root: Path
    pass_index: int = 0
    ck: object = None  # the CheckpointedRun a crash left behind
    info: dict = field(default_factory=dict)  # phase times of the last crash/resume


@dataclass
class Step:
    name: str
    layer: str  # the module the step's wall time is charged to
    build: Callable[[SparkSession, Ctx], DataFrame]
    # "rows": collect and digest the rows; "count": count the rows;
    # "crash": the builder must raise the injected crash
    fetch: str
    oracle: str | None  # step whose oracle digest this step must match


def correlator_params():
    """The q27/q37 correlator parameters (``plans/driver_queries.py``)."""
    from osmalyzer_spark.operators.correlator import CorrelatorParams

    return CorrelatorParams(
        match_distance=150.0,
        unmatch_distance=1500.0,
        strong_extra_distance=3000.0,
        strength_expr=lambda df: F.when(
            F.col("item_tag") == F.col("elem_tag"), F.lit(3)
        ).otherwise(F.lit(1)),
        lone_allowance_expr=lambda df: F.col("elem_id") % 11 == 0,
    )


def geo_inputs(spark: SparkSession, d: Path) -> tuple[DataFrame, DataFrame]:
    from osmalyzer_spark.plans.driver_queries import _geo_customers, _geo_suppliers

    elements = _geo_customers(spark, str(d)).withColumn(
        "elem_tag", (F.col("elem_id") % 7).cast("string")
    )
    items = _geo_suppliers(spark, str(d)).withColumn(
        "item_tag", (F.col("item_id") % 7).cast("string")
    )
    return elements, items


def q27_projection(corr: DataFrame) -> DataFrame:
    """q27's (and q37's) output columns, so the q27 oracle checks the
    checkpointed correlate too."""
    return corr.select(
        "kind",
        F.coalesce("osm_id", F.lit(-1)).alias("osm_id"),
        F.coalesce(F.col("item_id").cast("long"), F.lit(-1)).alias("item_id"),
        F.round(F.coalesce("distance", F.lit(-1.0)), 3).alias("distance"),
        F.coalesce("strength", F.lit(0)).alias("strength"),
        F.coalesce("far", F.lit(False)).alias("far"),
    )


def _checkpointed(spark: SparkSession, ctx: Ctx, **hooks) -> DataFrame:
    from osmalyzer_spark.operators.correlator import checkpointed_correlate

    elements, items = geo_inputs(spark, ctx.input_dir)
    return checkpointed_correlate(
        spark, elements, items, correlator_params(), ctx.ck, **hooks
    )


def build_crash(spark: SparkSession, ctx: Ctx) -> DataFrame:
    """A fresh checkpointed correlate (the q37 plan) that crashes before its
    first large-component batch, after the small-component pass."""
    from osmalyzer_spark.checkpoint import CheckpointedRun

    ctx.ck = CheckpointedRun(
        str(ctx.ck_root / f"pass{ctx.pass_index}"), run_id="resume",
        n_buckets=8, buckets_per_batch=8,
    )
    phases = ctx.info["crash_phases"] = {}
    return _checkpointed(spark, ctx, fail_after_batches=0, phase_times=phases)


def build_resume(spark: SparkSession, ctx: Ctx) -> DataFrame:
    phases = ctx.info["resume_phases"] = {}
    return q27_projection(_checkpointed(spark, ctx, phase_times=phases))


def build_radius_join(spark: SparkSession, ctx: Ctx) -> DataFrame:
    from osmalyzer_spark.operators.knn import radius_join

    elements, items = geo_inputs(spark, ctx.input_dir)
    return radius_join(
        items.select("item_id", "item_lat", "item_lon"),
        elements.select("elem_id", "elem_lat", "elem_lon"),
        RADIUS_JOIN_M,
        probe_coords=("item_lat", "item_lon"),
        build_coords=("elem_lat", "elem_lon"),
        broadcast_probe=True,
    )


def _query(name: str) -> Callable[[SparkSession, Ctx], DataFrame]:
    def build(spark: SparkSession, ctx: Ctx) -> DataFrame:
        from osmalyzer_spark.plans import driver_queries as dq

        return getattr(dq, name)(spark, str(ctx.input_dir))

    return build


STEPS = {
    "xref": [
        Step("q27_correlator", "correlator", _query("q27_correlator"), "rows", "q27_correlator"),
        Step("q12_point_in_polygon", "polygon", _query("q12_point_in_polygon"), "rows",
             "q12_point_in_polygon"),
        Step("q13_tile_assignment", "tiles", _query("q13_tile_assignment"), "rows",
             "q13_tile_assignment"),
        Step("radius_join", "knn", build_radius_join, "count", "radius_join"),
        Step("q21_minhash_lsh", "dedup", _query("q21_minhash_lsh"), "rows", "q21_minhash_lsh"),
        Step("q22_simhash", "dedup", _query("q22_simhash"), "rows", "q22_simhash"),
    ],
    "resume": [
        Step("ckpt_crash", "correlator", build_crash, "crash", None),
        Step("ckpt_resume", "correlator", build_resume, "rows", "q27_correlator"),
        Step("radius_join", "knn", build_radius_join, "count", "radius_join"),
    ],
}


def oracles(workload: str) -> dict[str, tuple[str, str]]:
    """{name: (kind, DuckDB SQL)} for every oracle the workload's steps use,
    plus the gate-deciding sizes ("gates")."""
    from osmalyzer_spark.plans import driver_queries as dq

    texts = dq.oracle_sql()
    # the pair count uses the same haversine_sql text as the q10/q11 oracles
    pairs = f"FROM ({dq._GEO_SUPP_SQL}) i, ({dq._GEO_CUST_SQL}) c"
    texts["radius_join"] = (
        f"SELECT count(*) {pairs} WHERE {dq._PAIR_DIST_SQL} <= {RADIUS_JOIN_M!r}"
    )
    out = {
        n: ("count" if n == "radius_join" else "rows", texts[n])
        for n in sorted({s.oracle for s in STEPS[workload] if s.oracle})
    }
    p = correlator_params()
    # q27's strength rule: strong (3) when the tags agree, else regular (1);
    # a pair is live when within its strength's allowed distance
    out["gates"] = ("values", f"""
        WITH p AS (SELECT {dq._PAIR_DIST_SQL} AS d,
                          CASE WHEN i.item_id % 7 = c.elem_id % 7 THEN 3 ELSE 1 END AS s
                   {pairs})
        SELECT count(*) FILTER (WHERE d <= {p.seek_distance!r}),
               count(*) FILTER (WHERE d <= CASE WHEN s = 1 THEN {p.unmatch_distance!r}
                                           ELSE {p.unmatch_distance + p.strong_extra_distance!r} END)
        FROM p""")
    return out


def gate_sizes(values: list[int]) -> dict:
    """The sizes the correlator's DA gate and the CC gate compare, with the
    side each implies, from the "gates" oracle of this run's inputs.

    DA: live candidate pairs (within their strength's allowed distance)
    against ``CorrelatorParams.da_local_pair_threshold``. In the
    checkpointed correlate the giant component holds nearly all of them.
    CC: the checkpointed correlate's edge-count bound (the same live pairs)
    against ``connected_components_star``'s ``local_edge_threshold``.
    """
    from osmalyzer_spark.operators.dedup import connected_components_star

    seek, live = values
    da_threshold = correlator_params().da_local_pair_threshold
    cc_threshold = (
        inspect.signature(connected_components_star)
        .parameters["local_edge_threshold"].default
    )
    return {
        "seek_pairs": seek,
        "da_pairs": live,
        "da_threshold": da_threshold,
        "da_side": "local" if live <= da_threshold else "distributed",
        "cc_edges": live,
        "cc_threshold": cc_threshold,
        "cc_side": "local" if live <= cc_threshold else "distributed",
    }
