"""The Correlator — item<->OSM-element mutual-best matching, distributed.

Reproduces the semantics of the reference's flagship operator
(Osmalyzer/Correlator/Correlator.cs:30-301):

- candidate generation within `seek_distance` = max over strengths of
  unmatch_distance + per-strength extra (Correlator.cs:69-71);
- per-pair match strength (Unmatched=0 / Regular=1 / Good=2 / Strong=3)
  from a caller-supplied column expression (the reference's
  MatchCallbackParameter, vectorized here);
- per-strength allowed distance (Correlator.cs:151-163);
- iterative mutual-best assignment: an item scans its candidates in
  ascending distance and claims the first claimable element; an element is
  stolen only by a strictly stronger match, or an equal-strength strictly
  closer one (Correlator.cs:190-217); displaced items requeue until fixed
  point (Correlator.cs:114-228);
- `far` flag when the matched distance exceeds match_distance
  (Correlator.cs:192);
- reverse pass: unmatched elements become `lone_osm` if the lone-allowance
  predicate holds, with an optional strong-match upgrade against
  still-unmatched items (Correlator.cs:236-301), else `unmatched_osm`;
- polygon prefilter of items (Correlator.cs:82-87).

Why this terminates with the same answer as the sequential loop: an
element's held match only ever improves (strict preference), so an item
rejected by an element can never claim it later — the process is
deferred-acceptance (Gale-Shapley) with item preference = (distance asc)
and element preference = (strength desc, distance asc). With strict
preferences (deterministic id tie-breaks) the proposer-optimal stable
matching is unique and independent of processing order, so a synchronous
distributed round schedule produces the reference's fixed point. (The
reference breaks exact ties by encounter order; we break by id — parity
tests construct tie-free fixtures, mirroring SURVEY.md §7.3.)

Scale discipline: the assignment loop shuffles only the slim candidate
table (item_id, elem_id, strength, dist). Payload columns — in particular
image `bytes` — are rejected at the door; re-join them by id afterwards.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from osmalyzer_spark.geo.polygon import Polygon, contains_expr
from osmalyzer_spark.lineage import truncate
from osmalyzer_spark.operators.knn import SaltSpec, radius_join
from osmalyzer_spark.session import data_partitions, shuffle_partitions

# MatchStrength (reference: Osmalyzer/Correlator/MatchStrength.cs)
UNMATCHED = 0
REGULAR = 1
GOOD = 2
STRONG = 3

KIND_MATCHED = "matched"
KIND_MATCHED_FAR = "matched_far"
KIND_UNMATCHED_ITEM = "unmatched_item"
KIND_UNMATCHED_OSM = "unmatched_osm"
KIND_LONE_OSM = "lone_osm"
KIND_OUTSIDE_BOUNDS = "outside_bounds"

# distributed DA: re-checkpoint the accumulated holds union every this
# many rounds (bounds plan depth)
_HOLDS_CHECKPOINT_EVERY = 8
# distributed DA: max rows of round state (watermarks / contested
# acceptors) that may be broadcast; larger round states use a shuffle join
_BROADCAST_ROW_LIMIT = 1_000_000


@dataclass
class CorrelatorParams:
    """Mirrors Osmalyzer/Correlator/Parameters/* defaults."""

    match_distance: float = 15.0  # MatchDistanceParamater default
    unmatch_distance: float = 75.0  # MatchFarDistanceParamater default
    good_extra_distance: float = 0.0  # MatchExtraDistanceParamater(Good)
    strong_extra_distance: float = 0.0  # MatchExtraDistanceParamater(Strong)
    match_anywhere: bool = False  # MatchAnywhereParamater
    # pair DataFrame -> int strength column (MatchCallbackParameter);
    # None => every in-range pair is Regular (Correlator.cs:138-140)
    strength_expr: Callable[[DataFrame], Column] | None = None
    # element DataFrame -> bool column (LoneElementAllowanceParameter)
    lone_allowance_expr: Callable[[DataFrame], Column] | None = None
    # MatchLoneElementsOnStrongMatchParamater: minimum strength to upgrade
    lone_strong_match_strength: int | None = None
    # the upgrade pass reaches seek_distance, so its pairs are a subset of
    # the candidate pairs. The reference's unbounded semantics (a lone
    # element may upgrade against an arbitrarily distant item) is an
    # explicit opt-in because it is a crossJoin — quadratic in the
    # residual sizes at scale.
    lone_upgrade_unbounded: bool = False
    polygon: Polygon | None = None  # FilterItemsToPolygonParamater
    report_outside_polygon: bool = True
    salt: SaltSpec | None = None
    max_rounds: int = 64
    # the one row bound on candidate pairs: correlate()'s candidate
    # tables at or below it are solved by the driver-local Gale-Shapley
    # (same discipline as the CC local-edge gate: a bounded ~30 MB
    # collect replaces per-round job latency), and checkpointed_correlate
    # gives each component above it a bucket of its own. 0 forces
    # correlate()'s distributed round loop and makes every pair-bearing
    # component of checkpointed_correlate big (each is still solved in
    # one task, by the grouped-map solver)
    da_local_pair_threshold: int = 300_000

    @property
    def seek_distance(self) -> float:
        return max(
            self.unmatch_distance,
            self.unmatch_distance + self.good_extra_distance,
            self.unmatch_distance + self.strong_extra_distance,
        )


@dataclass
class CorrelationResult:
    matched: DataFrame  # item_id, elem_id, strength, dist_m, far
    unmatched_items: DataFrame  # item_id
    unmatched_elements: DataFrame  # elem_id
    lone_elements: DataFrame  # elem_id
    outside_items: DataFrame | None = None  # item_id
    rounds: int = 0

    @property
    def correlations(self) -> DataFrame:
        """Unified six-kind correlation DataFrame
        (reference: Correlator.cs:558-576 Correlation list)."""
        m = self.matched.select(
            F.when(F.col("far"), F.lit(KIND_MATCHED_FAR))
            .otherwise(F.lit(KIND_MATCHED))
            .alias("kind"),
            F.col("elem_id").alias("osm_id"),
            "item_id",
            F.col("dist_m").alias("distance"),
            "strength",
            "far",
        )

        def _only(df: DataFrame, kind: str, id_col: str, as_osm: bool) -> DataFrame:
            return df.select(
                F.lit(kind).alias("kind"),
                (F.col(id_col) if as_osm else F.lit(None).cast("long")).alias("osm_id"),
                (F.lit(None).cast("string") if as_osm else F.col(id_col)).alias(
                    "item_id"
                ),
                F.lit(None).cast("double").alias("distance"),
                F.lit(None).cast("int").alias("strength"),
                F.lit(None).cast("boolean").alias("far"),
            )

        out = m
        out = out.unionByName(_only(self.unmatched_items, KIND_UNMATCHED_ITEM, "item_id", False))
        out = out.unionByName(_only(self.unmatched_elements, KIND_UNMATCHED_OSM, "elem_id", True))
        out = out.unionByName(_only(self.lone_elements, KIND_LONE_OSM, "elem_id", True))
        if self.outside_items is not None:
            out = out.unionByName(
                _only(self.outside_items, KIND_OUTSIDE_BOUNDS, "item_id", False)
            )
        return out

    @property
    def summary(self) -> DataFrame:
        """Per-kind tallies (reference report summary, Correlator.cs:315+)."""
        return self.correlations.groupBy("kind").agg(F.count(F.lit(1)).alias("n"))


def _no_binary(df: DataFrame, side: str) -> None:
    for f in df.schema.fields:
        if isinstance(f.dataType, T.BinaryType):
            raise ValueError(
                f"{side} carries binary column {f.name!r}: strip payload before "
                "correlating and re-join by id afterwards (shuffle discipline)"
            )


def _gale_shapley(prop: np.ndarray, acc: np.ndarray, rank: np.ndarray) -> np.ndarray:
    """The single-process deferred-acceptance kernel (round-parallel
    McVitie-Wilson).

    Rows are candidate pairs sorted by (proposer, proposer key) with
    exact-key duplicates dropped. `prop` is an integer proposer code per
    row, `acc` an integer acceptor code in [0, n) and `rank` the
    acceptor's preference (lower wins, distinct within an acceptor).
    Each round every free proposer proposes its next row, each acceptor
    keeps the lowest rank among its holder and the new offers, and the
    losers advance. With strict preferences the proposer-optimal stable
    matching is unique, so this schedule holds exactly what a sequential
    loop or the distributed rounds hold; disjoint components share no
    codes, so one call over many components solves each of them.

    Returns the held row indices, ascending.
    """
    n = len(prop)
    if n == 0:
        return np.empty(0, np.intp)
    starts = np.flatnonzero(np.r_[True, prop[1:] != prop[:-1]])
    ends = np.r_[starts[1:], n]
    owner = np.repeat(np.arange(len(starts)), ends - starts)
    held = np.full(int(acc.max()) + 1, -1, np.intp)
    nxt = starts.copy()
    free = np.arange(len(starts))
    while True:
        free = free[nxt[free] < ends[free]]
        if len(free) == 0:
            break
        offers = nxt[free]
        nxt[free] += 1
        holders = held[np.unique(acc[offers])]
        rows = np.concatenate([offers, holders[holders >= 0]])
        rows = rows[np.lexsort((rank[rows], acc[rows]))]
        a = acc[rows]
        best = np.r_[True, a[1:] != a[:-1]]
        held[a[best]] = rows[best]
        free = owner[rows[~best]]
    return np.sort(held[held >= 0])


def _da_holds(prop, pkey: tuple, acc, akey: tuple, ppay: tuple, apay: tuple) -> np.ndarray:
    """Deferred acceptance over parallel integer/float arrays, with the
    distributed rounds' tie-breaks: proposers walk ascending `pkey`, then
    `ppay` (which only picks among exact-key duplicates, as the
    distributed watermark walk `pkey > lost` skips the rest), and
    acceptors prefer ascending (`akey`, `apay`) — `_da_rounds`'
    min(struct(key, payload)). `acc` must be non-negative integer codes.
    Returns the held positions in the given arrays, in walk order."""
    walk = [prop, *pkey]
    order = np.lexsort([*walk, *ppay][::-1])
    if len(order) == 0:
        return order
    keys = [k[order] for k in walk]
    order = order[np.r_[True, np.any([k[1:] != k[:-1] for k in keys], axis=0)]]
    rank = np.empty(len(order), np.intp)
    rank[np.lexsort([k[order] for k in [*akey, *apay][::-1]])] = np.arange(len(order))
    return order[_gale_shapley(prop[order], acc[order], rank)]


def _local_da(
    spark: SparkSession,
    cand: DataFrame,
    proposer: str,
    acceptor: str,
    proposer_order: list[Column],
    acceptor_order: list[Column],
) -> DataFrame:
    """Driver-local Gale-Shapley over a collected candidate table.

    Produces EXACTLY the distributed round loop's holds (same rows, same
    schema): with strict preferences the proposer-optimal stable matching
    is unique and independent of proposal scheduling, and `_da_holds`
    reproduces the distributed aggregates' tie-breaks once every column
    is replaced by its order-preserving code (nulls last).

    This is a latency optimization with the same discipline as the CC
    local-edge gate: a bounded driver-side solve (rows <= threshold, tens
    of MB) replaces O(displacement-chain) rounds of multi-job shuffle
    latency. Beyond the gate the distributed loop runs unchanged.
    """
    data_cols = list(cand.columns)
    pcols = [f"__p{i}" for i in range(len(proposer_order))]
    acols = [f"__a{i}" for i in range(len(acceptor_order))]
    # key COMPONENTS as flat scalar columns — struct columns would arrive
    # in pandas as per-row dicts, an order-of-magnitude slower conversion
    pdf = cand.select(
        "*",
        *[c.alias(pcols[i]) for i, c in enumerate(proposer_order)],
        *[c.alias(acols[i]) for i, c in enumerate(acceptor_order)],
    ).toPandas()

    def code(col: str) -> np.ndarray:
        return pd.factorize(pdf[col], sort=True, use_na_sentinel=False)[0]

    held = _da_holds(
        code(proposer), tuple(map(code, pcols)),
        code(acceptor), tuple(map(code, acols)),
        ppay=tuple(code(c) for c in data_cols if c != proposer),
        apay=tuple(code(c) for c in data_cols if c != acceptor),
    )
    if len(held) == 0:
        return spark.createDataFrame([], cand.schema)
    return spark.createDataFrame(pdf.iloc[held][data_cols], schema=cand.schema)


def deferred_acceptance(
    spark: SparkSession,
    cand: DataFrame,
    proposer: str,
    acceptor: str,
    proposer_order: list[Column],
    acceptor_order: list[Column],
    max_rounds: int = 64,
    local_pair_threshold: int = 300_000,
) -> tuple[DataFrame, int]:
    """Distributed Gale-Shapley over a candidate-pair DataFrame.

    Returns (holds, rounds): holds has one row per matched acceptor, the
    proposer-optimal stable matching.

    `proposer_order` / `acceptor_order` are lists of ASCENDING key
    component columns (negate a numeric column for descending) — they
    form lexicographic key structs. NO global sort or rank is ever
    computed: each round's proposals are a hash-aggregated
    `min(key, row)` struct aggregate per proposer (map-side partial combine — the
    shuffle carries at most one row per proposer per map task, not the
    candidate table), and acceptors choose with the same aggregate. The
    old implementation ranked the full candidate table with a window —
    an O(pairs log pairs) sort and a full-table shuffle that dominated
    correlate() wall time (BENCH.md).

    Per-round cost is O(contested), not O(holds): after round 1 only the
    acceptors that actually receive a new proposal are re-chosen — held
    pairs whose acceptor is uncontested pass through untouched.
    Rejections are one per-proposer ORDER-KEY WATERMARK (the max lost
    key): a proposer's proposals move strictly up its key order (a lost
    acceptor is lost forever — its hold only improves), so the next
    proposal is min_by over candidates with key > watermark. The small
    watermark table replaces both a rejected-pair blacklist and a
    displaced-holder set.

    Lineage: each round's proposal slice, winners and watermarks are
    truncated once through `lineage.truncate`; the full holds union is
    re-truncated every `_HOLDS_CHECKPOINT_EVERY` rounds, bounding plan
    depth and per-round materialization.
    """
    # keys are computed ON THE FLY (cheap expressions) — materializing
    # them into the checkpointed candidate table costs real bytes at 10^8
    # rows; consistent field aliases keep the watermark struct comparison
    # well-typed across rounds
    pkey = F.struct(*[c.alias(f"__k{i}") for i, c in enumerate(proposer_order)])
    akey = F.struct(*[c.alias(f"__k{i}") for i, c in enumerate(acceptor_order)])
    # the count below is the first action, so one job both sizes the
    # table and materializes the truncation
    cand = truncate(cand)
    n_cand = cand.count()
    if n_cand <= local_pair_threshold:
        # small candidate sets: the matching is latency-bound (each round
        # is several sequential jobs), not volume-bound — solve at the
        # driver (same gate discipline as connected_components_star's
        # local_edge_threshold; ~30 MB of slim rows at the default).
        # Identical holds by GS uniqueness; tests force both paths.
        return (
            _local_da(spark, cand, proposer, acceptor, proposer_order, acceptor_order),
            0,
        )
    # round jobs are sized from the DATA (`data_partitions`): the
    # candidate table's scan runs the same task count at N and 4N
    # executors, and every round-state shuffle (proposal/winner/watermark
    # aggregates — all bounded small by the watermark design) is pinned
    # to a matching small constant
    cand_parts = data_partitions(n_cand)
    cand = cand.coalesce(cand_parts)
    state_parts = min(32, cand_parts)
    data_cols = list(cand.columns)

    def best_by(df: DataFrame, group: str, key: Column) -> DataFrame:
        # min over struct(key, payload) == min_by(payload, key), but the
        # plain declarative min aggregate measured ~2x faster; keys are
        # unique (id tie-breakers), so payload fields never decide
        cols = [c for c in data_cols if c != group]
        packed = F.struct(key.alias("__key"), F.struct(*cols).alias("__p"))
        return (
            df.groupBy(group)
            .agg(F.min(packed).alias("__b"))
            .select(group, "__b.__p.*")
        )

    def hinted(df: DataFrame, n_rows: int) -> DataFrame:
        # round-state tables are USUALLY tiny (displacement-chain tails),
        # but adversarial inputs (items >> elements, a mass displacement
        # wave) make round-1 state O(proposers) — a FORCED broadcast of
        # that is a driver OOM at scale. Guard with the known row count
        # (free: the tables are checkpointed when counted) and fall back
        # to a plain shuffle join above the limit.
        return F.broadcast(df) if n_rows <= _BROADCAST_ROW_LIMIT else df

    holds = spark.createDataFrame([], cand.schema)
    with shuffle_partitions(spark, state_parts):
        return _da_rounds(
            spark, cand, holds, proposer, acceptor, pkey, akey, best_by,
            hinted, max_rounds, state_parts, cand_parts,
        )


def _da_rounds(
    spark, cand, holds, proposer, acceptor, pkey, akey, best_by, hinted,
    max_rounds, state_parts, cand_parts,
):
    """The deferred-acceptance round loop (shuffle partitions pinned to
    `state_parts` by the caller for the duration). The big candidate
    table is immutable after round 0; per-round state is only the SMALL
    unassigned-proposer watermark table, so later rounds
    (displacement-chain tails) stay cheap no matter how large the
    candidate set is."""
    unassigned = None  # round 1: every proposer proposes — no join needed
    n_unassigned = 0
    rounds = 0
    for rounds in range(1, max_rounds + 1):
        if unassigned is None:
            sl = cand
        else:
            # walk each unassigned proposer strictly past its watermark
            sl = (
                cand.join(hinted(unassigned, n_unassigned), proposer)
                .filter(pkey > F.col("__wm"))
                .drop("__wm")
            )
        # ONE scan of the candidate table per round, materialized small:
        # everything downstream reads the truncated proposal slice
        props = truncate(best_by(sl, proposer, pkey))
        if unassigned is None:
            # holds is empty: everything is contested, nothing untouched
            untouched = holds
            contenders = props
        else:
            # only acceptors receiving a new proposal can change hands;
            # the rest of holds passes through this round untouched.
            # |contested| <= |props| <= |unassigned| (each unassigned
            # proposer contributes at most one proposal), so last round's
            # already-known watermark count is a safe broadcast-size
            # bound — no extra count job per round.
            contested = hinted(props.select(acceptor).distinct(), n_unassigned)
            touched = holds.join(contested, acceptor, "left_semi")
            untouched = holds.join(contested, acceptor, "left_anti")
            contenders = touched.unionByName(props)
        winners = truncate(best_by(contenders, acceptor, akey))
        # losers covers BOTH rejected new proposals and displaced holders
        # (a displaced hold is a contender whose acceptor chose another);
        # each carries its pair's key — the next watermark is the max
        losers = (
            contenders.join(
                winners.select(F.col(acceptor), F.col(proposer).alias("__wp")),
                acceptor,
            )
            .filter(F.col(proposer) != F.col("__wp"))
            .select(proposer, pkey.alias("__lost"))
        )
        holds = untouched.unionByName(winners)
        if rounds % _HOLDS_CHECKPOINT_EVERY == 0:
            # unions accumulate ~state_parts partitions per round; narrow
            # back to data-sized parallelism at the periodic checkpoint
            holds = truncate(holds.coalesce(max(state_parts, cand_parts)))
        unassigned = truncate(losers.groupBy(proposer).agg(F.max("__lost").alias("__wm")))
        # this count is the round's ONE materializing action: it computes
        # winners -> losers -> unassigned and stores all three truncations
        n_unassigned = unassigned.count()
        # no conflicts => every proposal was accepted => every proposer
        # with remaining candidates is now held: stable, stop.
        if n_unassigned == 0:
            break
    else:
        # loop exhausted without the no-losers break: the matching has NOT
        # reached the stable fixed point — returning it silently would
        # diverge from the reference (ADVICE r1). Displacement chains are
        # at most O(acceptors), so a sufficient max_rounds always exists.
        raise RuntimeError(
            f"deferred_acceptance did not converge in {max_rounds} rounds; "
            "raise max_rounds (chains are bounded by the acceptor count)"
        )
    return holds, rounds


def _allowed_expr(p: CorrelatorParams) -> Column:
    """Per-strength allowed distance (Correlator.cs:151-163)."""
    return (
        F.when(F.col("strength") == REGULAR, F.lit(p.unmatch_distance))
        .when(F.col("strength") == GOOD, F.lit(p.unmatch_distance + p.good_extra_distance))
        .otherwise(F.lit(p.unmatch_distance + p.strong_extra_distance))
    )


def _slim_inputs(
    spark: SparkSession,
    elements: DataFrame,
    items: DataFrame,
    p: CorrelatorParams,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Evaluate every caller expression ONCE, distributed, and reduce the
    matching problem to three slim frames:

      elems_slim(elem_id, elem_lat, elem_lon, __lone)
      items_slim(item_id, item_lat, item_lon, __outside)
      pairs_all (item_id, elem_id, strength, dist_m) — every pair that can
                INFLUENCE the result: within the per-strength allowed
                distance (forward pass) OR eligible for the bounded
                lone-upgrade pass (strength >= lone minimum). Dead
                pairs — beyond allowed for their evaluated strength and
                unusable by any upgrade — are pruned at generation,
                exactly as the reference's scan loop skips them
                (Correlator.cs:151-163): at a 1M-row benchmark config
                with strong_extra=700 but no strength callback, this is
                a 119M -> ~1M pair reduction that everything downstream
                (CC, staging, DA) inherits. When no strength
                callback exists at all, every pair is Regular, so the
                candidate join itself runs at the EFFECTIVE seek radius
                (unmatch_distance) instead of the declared maximum.

    Everything downstream (distributed DA, the checkpointed component
    decomposition, the vectorized small-component solver) consumes only
    these — no caller Column expression survives past this point, which is
    what lets a pandas task replay a component exactly.
    """
    _no_binary(elements, "elements")
    _no_binary(items, "items")
    # each side feeds BOTH the candidate join and its reverse-pass slim
    # frame (and the anti-joins re-read the latter): truncate once so the
    # caller's element/item construction — the polygon test included —
    # is planned and evaluated once
    outside = (
        ~contains_expr(p.polygon, "item_lat", "item_lon")
        if p.polygon is not None
        else F.lit(False)
    )
    elements = truncate(elements)
    items = truncate(items.withColumn("__outside", outside))
    inside = items.filter(~F.col("__outside"))

    # without a strength callback every pair is Regular, so pairs beyond
    # unmatch_distance can never match or upgrade — don't generate them
    effective_seek = (
        p.seek_distance if p.strength_expr is not None else p.unmatch_distance
    )
    if p.match_anywhere:
        pairs = inside.crossJoin(elements).withColumn("dist_m", F.lit(0.0))
    else:
        pairs = radius_join(
            inside,
            elements,
            effective_seek,
            probe_coords=("item_lat", "item_lon"),
            build_coords=("elem_lat", "elem_lon"),
            dist_col="dist_m",
            salt=p.salt,
        )
    strength = (
        p.strength_expr(pairs) if p.strength_expr is not None else F.lit(REGULAR)
    )
    pairs_all = (
        pairs.withColumn("strength", strength.cast("int"))
        .filter(F.col("strength") > UNMATCHED)
        .select("item_id", "elem_id", "strength", "dist_m")
    )
    if not p.match_anywhere:
        # prune DEAD pairs: farther than their strength allows AND not
        # reachable by the bounded lone-upgrade pass. _assign/_solver
        # re-apply the same conditions, so dropping these rows here
        # changes no output — only the volume CC/staging/DA carry.
        live = F.col("dist_m") <= _allowed_expr(p)
        if (
            p.lone_strong_match_strength is not None
            and p.strength_expr is not None
            and not p.lone_upgrade_unbounded
        ):
            live = live | (F.col("strength") >= F.lit(p.lone_strong_match_strength))
        pairs_all = pairs_all.filter(live)
    lone = (
        p.lone_allowance_expr(elements)
        if p.lone_allowance_expr is not None
        else F.lit(False)
    )
    elems_slim = elements.select(
        "elem_id", "elem_lat", "elem_lon", lone.alias("__lone")
    )
    items_slim = items.select("item_id", "item_lat", "item_lon", "__outside")
    return elems_slim, items_slim, pairs_all


def _assign(
    spark: SparkSession,
    elems_slim: DataFrame,
    items_slim: DataFrame,
    pairs_all: DataFrame,
    p: CorrelatorParams,
    full_elements: DataFrame | None = None,
    full_items: DataFrame | None = None,
) -> CorrelationResult:
    """Forward DA + reverse pass + lone upgrade over _slim_inputs frames.

    `full_elements` / `full_items` are only needed for the one pair set
    pairs_all cannot cover — unbounded lone upgrades — because those
    re-evaluate the strength callback over fresh pairs.
    """
    outside = None
    if p.polygon is not None and p.report_outside_polygon:
        outside = items_slim.filter(F.col("__outside")).select("item_id")
    items_in = items_slim.filter(~F.col("__outside"))

    cand = (
        pairs_all
        if p.match_anywhere
        else pairs_all.filter(F.col("dist_m") <= _allowed_expr(p))
    ).select("item_id", "elem_id", "strength", "dist_m")

    # --- forward assignment (items propose) ------------------------------
    # ascending key components (descending = negate), per the DA contract
    if p.match_anywhere:
        # distance is meaningless; the reference takes the "first" element
        # (list order) — we define first = lowest elem_id (SURVEY §7.3)
        proposer_order = [F.col("elem_id")]
        acceptor_order = [-F.col("strength"), F.col("item_id")]
    else:
        proposer_order = [F.col("dist_m"), F.col("elem_id")]
        acceptor_order = [
            -F.col("strength"),
            F.col("dist_m"),
            F.col("item_id"),
        ]
    holds, rounds = deferred_acceptance(
        spark, cand, "item_id", "elem_id", proposer_order, acceptor_order,
        p.max_rounds, local_pair_threshold=p.da_local_pair_threshold,
    )
    # truncate for the many downstream consumers; the blocks materialize
    # inside the first consuming job (three eager actions per correlate()
    # call measured ~1 s each at sf0.1)
    matched = truncate(
        holds.withColumn(
            "far",
            F.lit(False) if p.match_anywhere else F.col("dist_m") > F.lit(p.match_distance),
        )
    )

    # --- reverse pass (unmatched elements) --------------------------------
    unmatched_items = truncate(items_in.join(matched.select("item_id"), "item_id", "left_anti"))
    unmatched_elems = truncate(elems_slim.join(matched.select("elem_id"), "elem_id", "left_anti"))
    lone_cand = unmatched_elems.filter(F.col("__lone"))
    plain_unmatched = unmatched_elems.filter(~F.col("__lone"))

    # --- lone strong-match upgrade (Correlator.cs:249-287) ----------------
    if (
        p.lone_strong_match_strength is not None
        and p.strength_expr is not None
        and not p.match_anywhere
    ):
        if p.lone_strong_match_strength < REGULAR:
            raise ValueError("lone_strong_match_strength must be >= REGULAR")
        if p.lone_upgrade_unbounded:
            # beyond-seek pairs don't exist in pairs_all: rebuild them from
            # the full frames and re-evaluate the strength callback
            if full_elements is None or full_items is None:
                raise ValueError(
                    "unbounded lone upgrades need the full element/item frames"
                )
            from osmalyzer_spark.geo.distance import haversine_m

            lone_full = full_elements.join(
                lone_cand.select("elem_id"), "elem_id", "left_semi"
            )
            un_items_full = full_items.join(
                unmatched_items.select("item_id"), "item_id", "left_semi"
            )
            up_pairs = lone_full.crossJoin(un_items_full).withColumn(
                "dist_m",
                haversine_m("item_lat", "item_lon", "elem_lat", "elem_lon"),
            )
            up_cand = (
                up_pairs.withColumn("strength", p.strength_expr(up_pairs).cast("int"))
                .filter(F.col("strength") >= F.lit(p.lone_strong_match_strength))
                .select("item_id", "elem_id", "strength", "dist_m")
            )
        else:
            # in-seek upgrades are a subset of pairs_all (strengths already
            # evaluated there, on the same pair rows — row-wise identical)
            up_cand = (
                pairs_all.join(lone_cand.select("elem_id"), "elem_id", "left_semi")
                .join(unmatched_items.select("item_id"), "item_id", "left_semi")
                .filter(F.col("strength") >= F.lit(p.lone_strong_match_strength))
                .select("item_id", "elem_id", "strength", "dist_m")
            )
        # elements propose for their best item; items accept their best
        up_holds, _ = deferred_acceptance(
            spark,
            up_cand,
            proposer="elem_id",
            acceptor="item_id",
            proposer_order=[
                -F.col("strength"),
                F.col("dist_m"),
                F.col("item_id"),
            ],
            acceptor_order=[
                -F.col("strength"),
                F.col("dist_m"),
                F.col("elem_id"),
            ],
            max_rounds=p.max_rounds,
            local_pair_threshold=p.da_local_pair_threshold,
        )
        upgrades = truncate(up_holds.withColumn("far", F.col("dist_m") > F.lit(p.match_distance)))
        matched = matched.unionByName(upgrades)
        lone_cand = lone_cand.join(upgrades.select("elem_id"), "elem_id", "left_anti")
        unmatched_items = unmatched_items.join(
            upgrades.select("item_id"), "item_id", "left_anti"
        )

    return CorrelationResult(
        matched=matched,
        unmatched_items=unmatched_items.select("item_id"),
        unmatched_elements=plain_unmatched.select("elem_id"),
        lone_elements=lone_cand.select("elem_id"),
        outside_items=outside,
        rounds=rounds,
    )


def _make_component_solver(p: CorrelatorParams):
    """Small-component solver for applyInPandas: maps one Arrow group of
    slim component rows ('e'/'i'/'p' sides, many whole components) to
    its correlation rows with whole-array code — the forward DA, the
    reverse pass and the strong-match lone upgrade (Correlator.cs:110-301)
    are each one pass over the group. Components share no ids, so one
    `_gale_shapley` call over the group solves every component in it,
    and by matching uniqueness the answer is EXACTLY the distributed DA
    answer (randomized equivalence tests assert it).

    Only plain scalars are captured — the caller's Column expressions were
    already evaluated into __lone / __outside / strength by _slim_inputs.
    """
    match_d = p.match_distance
    allowed = (
        p.unmatch_distance,
        p.unmatch_distance + p.good_extra_distance,
        p.unmatch_distance + p.strong_extra_distance,
    )
    upgrade_on = p.lone_strong_match_strength is not None and p.strength_expr is not None
    lone_min = p.lone_strong_match_strength
    if upgrade_on and lone_min < REGULAR:
        raise ValueError("lone_strong_match_strength must be >= REGULAR")

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        side = pdf["__side"].to_numpy()
        is_e, is_i = side == "e", side == "i"
        # dense codes in id order: acceptor codes and the id tie-breaks
        ic = pd.factorize(pdf["item_id"], sort=True)[0]
        ec = pd.factorize(pdf["elem_id"], sort=True)[0]
        pr = np.flatnonzero(side == "p")
        pi, pe = ic[pr], ec[pr]
        s = pdf["strength"].to_numpy()[pr].astype(np.int64)
        d = pdf["dist_m"].to_numpy()[pr].astype(np.float64)

        # forward: items propose by (dist, elem_id); elements accept by
        # (strength desc, dist, item_id)
        fwd = np.flatnonzero(
            d <= np.select([s == REGULAR, s == GOOD], allowed[:2], allowed[2])
        )
        held = fwd[
            _da_holds(pi[fwd], (d[fwd], pe[fwd]), pe[fwd],
                      (-s[fwd], d[fwd], pi[fwd]), ppay=(s[fwd],), apay=())
        ]

        # reverse pass: unmatched items, lone / plain unmatched elements
        un_item = is_i & ~np.isin(ic, pi[held])
        free_elem = is_e & ~np.isin(ec, pe[held])
        lone_flag = pdf["__lone"].eq(True).to_numpy()
        plain = free_elem & ~lone_flag
        lone = free_elem & lone_flag
        if upgrade_on:
            # elements propose by (strength desc, dist, item_id); items
            # accept by (strength desc, dist, elem_id)
            up = np.flatnonzero(
                np.isin(pe, ec[lone]) & np.isin(pi, ic[un_item])
                & (s >= lone_min)
            )
            ups = up[
                _da_holds(pe[up], (-s[up], d[up], pi[up]), pi[up],
                          (-s[up], d[up], pe[up]), ppay=(pi[up],), apay=())
            ]
            lone &= ~np.isin(ec, pe[ups])
            un_item &= ~np.isin(ic, pi[ups])
            held = np.r_[held, ups]

        # 'p' rows carry both ids, 'i' rows only item_id and 'e' rows
        # only elem_id: each output row reads its ids, distance, strength
        # and bucket straight off its source row
        rows = np.concatenate([
            pr[held], np.flatnonzero(un_item), np.flatnonzero(plain),
            np.flatnonzero(lone),
        ])
        far_m = d[held] > match_d
        far = np.full(len(rows), None, dtype=object)
        far[: len(held)] = far_m
        kind = np.concatenate([
            np.where(far_m, KIND_MATCHED_FAR, KIND_MATCHED),
            np.repeat(
                [KIND_UNMATCHED_ITEM, KIND_UNMATCHED_OSM, KIND_LONE_OSM],
                [un_item.sum(), plain.sum(), lone.sum()],
            ),
        ])
        return pd.DataFrame({
            "kind": kind,
            "osm_id": pdf["elem_id"].to_numpy()[rows],
            "item_id": pdf["item_id"].to_numpy()[rows],
            "distance": pdf["dist_m"].to_numpy()[rows],
            "strength": pdf["strength"].to_numpy()[rows],
            "far": far,
            "__bucket": pdf["__bucket"].to_numpy()[rows],
        })

    return solve


_CORR_OUT_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("osm_id", T.LongType()),
        T.StructField("item_id", T.StringType()),
        T.StructField("distance", T.DoubleType()),
        T.StructField("strength", T.IntegerType()),
        T.StructField("far", T.BooleanType()),
        T.StructField("__bucket", T.IntegerType()),
    ]
)


def _stage_corr_input(
    spark: SparkSession,
    elements: DataFrame,
    items: DataFrame,
    p: CorrelatorParams,
    ck,
    fingerprint: str,
    pt: dict,
) -> tuple[DataFrame, int, list[int]]:
    """Build and stage `checkpointed_correlate`'s one slim input table:
    element, item and pair rows tagged with their candidate component and
    bucket. Returns the staged frame, the candidate-pair count and the
    dedicated buckets of the big components."""
    from osmalyzer_spark.operators.dedup import connected_components_star

    t0 = time.time()
    elems_slim, items_slim, pairs_all = _slim_inputs(spark, elements, items, p)
    pairs_all = truncate(pairs_all)  # reused 3x below
    # the first action: materializes the truncation; doubles as the CC
    # edge-count bound so the small-graph path skips its own sizing
    n_pairs_all = pairs_all.count()
    pt["slim_pairs_s"] = round(time.time() - t0, 2)
    t0 = time.time()

    # CC node ids are LONGS, not tagged strings: each side maps to an
    # xxhash64 code whose low bit encodes the side (elements even, items
    # odd — pure bitwise, no overflow on full-range ids). 8 star rounds
    # shuffle the edge set ~6 times each — fixed 8-byte keys beat variable
    # strings in every one of those exchanges (measured: the CC phase was
    # 66% of checkpointed-correlate wall at 1M rows before this change).
    # A hash collision (either side) is HARMLESS: it can only merge two
    # components into one work unit, and a union of disconnected
    # components is still an exact decomposition of the matching (solved
    # together => identical per-pair results); it is also deterministic
    # across crash/resume, which the bucket layout requires.
    def elem_code(col: str) -> Column:
        return F.xxhash64(F.col(col).cast("long")).bitwiseAND(F.lit(-2))

    def item_code(col: str) -> Column:
        return F.xxhash64(F.col(col).cast("string")).bitwiseOR(F.lit(1))

    edges = pairs_all.select(
        item_code("item_id").alias("id_a"), elem_code("elem_id").alias("id_b")
    )
    # two-phase star CC: O(log n) rounds regardless of component diameter
    # (min-label propagation is O(diameter) — a dense hotspot component's
    # diameter ~ extent/seek, measured in BENCH.md; the star algorithm's
    # round count is 8 on the 1M/775 m giant component, measured)
    cc_pair_counts: dict = {}
    comps = truncate(
        connected_components_star(
            edges, edge_count_bound=n_pairs_all, edge_counts_out=cc_pair_counts
        )
    )
    pt["cc_star_s"] = round(time.time() - t0, 2)
    t_sizes = time.time()

    # split components by WORK size (candidate-pair count, the matching
    # cost driver) at the row bound; the big list is tiny and
    # deterministic, so bucket ids n_buckets+rank are stable across
    # crash/resume recomputation. The join + aggregate are node/pair-
    # sized — pin them to the same data-proportional partitioning the
    # star rounds used, not the cluster-sized session default.
    bound = p.da_local_pair_threshold
    if cc_pair_counts or n_pairs_all == 0:
        # the driver-local CC solve already counted edge rows (== pair
        # rows, one edge per candidate pair) per component: the sizing
        # join + aggregate + collect (3 jobs and a shuffle) is free here
        big = sorted(c for c, n in cc_pair_counts.items() if n > bound)
    else:
        with shuffle_partitions(spark, data_partitions(n_pairs_all)):
            sizes = (
                pairs_all.join(
                    comps.select(F.col("id").alias("__k"), "component"),
                    elem_code("elem_id") == F.col("__k"),
                )
                .groupBy("component")
                .agg(F.count(F.lit(1)).alias("n_pairs"))
            )
            big = sorted(
                r["component"]
                for r in sizes.filter(F.col("n_pairs") > bound).collect()
            )
    big_bucket = {c: ck.n_buckets + rank for rank, c in enumerate(big)}
    pt["cc_sizes_s"] = round(time.time() - t_sizes, 2)
    pt["connected_components_s"] = round(time.time() - t0, 2)

    def bucket_of(selfkey: Column) -> Column:
        small = F.pmod(
            F.xxhash64(F.coalesce(F.col("component"), selfkey)), F.lit(ck.n_buckets)
        ).cast("int")
        if not big_bucket:
            return small
        mapping = F.create_map(
            *[F.lit(x) for c_b in big_bucket.items() for x in c_b]
        )
        return F.coalesce(mapping[F.col("component")].cast("int"), small)

    def tag(df: DataFrame, code_fn, id_col: str) -> DataFrame:
        key = code_fn(id_col)
        return (
            df.join(
                comps.select(F.col("id").alias("__k"), "component"),
                key == F.col("__k"),
                "left",
            )
            .drop("__k")
            .withColumn("__single", F.col("component").isNull())
            .withColumn("__comp", F.coalesce(F.col("component"), key))
            .withColumn("__cbucket", bucket_of(key))
            .drop("component")
        )

    null = F.lit(None)
    e_rows = tag(elems_slim, elem_code, "elem_id").select(
        F.lit("e").alias("__side"),
        F.col("elem_id").cast("long").alias("elem_id"),
        null.cast("string").alias("item_id"),
        null.cast("int").alias("strength"),
        null.cast("double").alias("dist_m"),
        F.col("__lone"),
        F.lit(False).alias("__outside"),
        "__single", "__comp", "__cbucket",
    )
    i_rows = tag(items_slim, item_code, "item_id").select(
        F.lit("i").alias("__side"),
        null.cast("long").alias("elem_id"),
        F.col("item_id").cast("string").alias("item_id"),
        null.cast("int").alias("strength"),
        null.cast("double").alias("dist_m"),
        F.lit(False).alias("__lone"),
        F.col("__outside"),
        "__single", "__comp", "__cbucket",
    )
    p_rows = tag(pairs_all, elem_code, "elem_id").select(
        F.lit("p").alias("__side"),
        F.col("elem_id").cast("long").alias("elem_id"),
        F.col("item_id").cast("string").alias("item_id"),
        F.col("strength"),
        F.col("dist_m"),
        F.lit(False).alias("__lone"),
        F.lit(False).alias("__outside"),
        "__single", "__comp", "__cbucket",
    )
    # ONE staged slim table, partitioned by bucket: every per-bucket read
    # below is partition-pruned (plan-asserted in tests)
    t0 = time.time()
    big_buckets = sorted(big_bucket.values())
    staged = ck.stage_bucketed(
        spark,
        e_rows.unionByName(i_rows).unionByName(p_rows),
        "corr_input",
        fingerprint=fingerprint,
        info={"n_pairs": n_pairs_all, "big_buckets": big_buckets},
    )
    pt["staging_s"] = round(time.time() - t0, 2)
    return staged, n_pairs_all, big_buckets


def checkpointed_correlate(
    spark: SparkSession,
    elements: DataFrame,
    items: DataFrame,
    params: "CorrelatorParams | None",
    ck,
    input_snapshot: str = "",
    fail_after_batches: int | None = None,  # crash-simulation test hook (big phase)
    phase_times: dict | None = None,  # filled with per-phase wall seconds
) -> DataFrame:
    """Resumable correlate with EXACT global semantics.

    Naive spatial bucketing breaks the matching: a displacement chain (or
    simply a best match) can cross any fixed geographic boundary. The
    correct unit of checkpointing is a CONNECTED COMPONENT of the
    candidate graph (all strength-carrying pairs within seek_distance): no
    candidate edge crosses components, so the matching decomposes exactly.

    Execution is two-phase by measured component structure (BENCH.md §4:
    tens of thousands of components, p50 ~20 nodes, plus the occasional
    dense giant):

    - SMALL components (candidate pairs <= `da_local_pair_threshold`,
      the row bound that splits the phases) are solved inside
      single Arrow tasks — a grouped applyInPandas whose one vectorized
      solver call covers every component of its group — and written for
      ALL pending hash buckets in ONE single-pass job. Wall time no
      longer scales with component COUNT (VERDICT r3 item 1);
      candidate-less singletons don't even enter the grouped map
      (native expressions).
    - Each LARGE component gets its own dedicated bucket id
      (n_buckets + rank), one `ck.run` `process` call per giant, and is
      solved as ONE Arrow group by the same vectorized solver — one task,
      no per-round driver latency and no distributed DA loop.

    Both phases share one staged slim input (elements/items/pairs rows
    partitioned by bucket — every per-bucket read is partition-pruned)
    and one progress table; crash/resume semantics come from
    CheckpointedRun's idempotent dynamic-overwrite writes. A resume reads
    the staging marker first: when it matches, the staged table, the pair
    count and the big-component buckets recorded with it are used as they
    are, and the slim inputs, connected components and tagging are not
    recomputed (`phase_times["staging_reused"]`).

    Returns the unified correlations DataFrame (== correlate(...)
    .correlations on the same inputs).
    """
    p = params or CorrelatorParams()
    if p.match_anywhere:
        raise ValueError("checkpointed_correlate requires distance-bounded matching")
    if p.lone_upgrade_unbounded:
        raise ValueError(
            "unbounded lone upgrades can cross candidate components; use a "
            "upgrade bounded by seek_distance"
        )

    pt = phase_times if phase_times is not None else {}
    # the layout depends on the bucket count and the big-component bound
    # too, so a resume with other values must not reuse it
    fingerprint = json.dumps(
        [input_snapshot, ck.n_buckets, p.da_local_pair_threshold]
    )
    t0 = time.time()
    hit = ck.staged(spark, "corr_input", fingerprint=fingerprint)
    pt["staging_reused"] = hit is not None
    if hit is None:
        staged, n_pairs_all, big_buckets = _stage_corr_input(
            spark, elements, items, p, ck, fingerprint, pt
        )
    else:
        # a resume: the staged layout already holds the slim inputs, the
        # component tags and the bucket ids, and the marker holds the
        # pair count and the big-component buckets it was built with
        staged, info = hit
        n_pairs_all, big_buckets = info["n_pairs"], info["big_buckets"]
        pt["staging_s"] = round(time.time() - t0, 2)
    # recorded before the phases, so a crash in them still reports it
    pt["n_big_components"] = len(big_buckets)

    solver = _make_component_solver(p)
    drop_outside = p.polygon is None or not p.report_outside_polygon

    def process_small(sl: DataFrame) -> DataFrame:
        nul = F.lit(None)
        # candidate-less singletons: pure expressions, no grouped map
        singles = sl.filter(F.col("__single"))
        se = singles.filter(F.col("__side") == "e").select(
            F.when(F.col("__lone"), F.lit(KIND_LONE_OSM))
            .otherwise(F.lit(KIND_UNMATCHED_OSM))
            .alias("kind"),
            F.col("elem_id").alias("osm_id"),
            nul.cast("string").alias("item_id"),
            nul.cast("double").alias("distance"),
            nul.cast("int").alias("strength"),
            nul.cast("boolean").alias("far"),
            F.col("__bucket"),
        )
        si = singles.filter(F.col("__side") == "i")
        if drop_outside:
            si = si.filter(~F.col("__outside"))
        si = si.select(
            F.when(F.col("__outside"), F.lit(KIND_OUTSIDE_BOUNDS))
            .otherwise(F.lit(KIND_UNMATCHED_ITEM))
            .alias("kind"),
            nul.cast("long").alias("osm_id"),
            F.col("item_id"),
            nul.cast("double").alias("distance"),
            nul.cast("int").alias("strength"),
            nul.cast("boolean").alias("far"),
            F.col("__bucket"),
        )
        # MANY components per Arrow task: grouping by __comp directly costs
        # one JVM->Arrow->Python round-trip per component (tens of
        # thousands of ~20-node components, measured p50=20 in BENCH.md),
        # so group by a hash of the component id instead and solve every
        # component of the group in one vectorized call. Components never
        # split across groups (hash of the whole id), so outputs are
        # identical; per-task memory is O(small rows / groups), uniform by
        # hash. Data-proportional group count: each group is ONE solver
        # call (its own Arrow round-trip), so a fixed high count makes
        # small inputs pay ~1000 near-empty calls; target ~25k candidate
        # pairs per group, floored at 4x parallelism for wave balance
        # and capped at 65536 groups. Nothing caps one group's size: each
        # component in it is at most the small-component bound, but hash
        # collisions can put several near-bound components in one group
        n_groups = max(
            spark.sparkContext.defaultParallelism * 4,
            min(65536, -(-n_pairs_all // 25_000)),
        )

        grouped = (
            sl.filter(~F.col("__single"))
            .groupBy(F.pmod(F.xxhash64("__comp"), F.lit(n_groups)).alias("__sg"))
            .applyInPandas(solver, _CORR_OUT_SCHEMA)
        )
        return se.unionByName(si).unionByName(grouped)

    # phase A: ALL small buckets in one job (the grouped map solves each
    # component inside one Arrow task; tiny components cost no driver round)
    t0 = time.time()
    result = ck.run_single_pass(
        spark,
        staged,
        process_small,
        bucket_expr=F.col("__cbucket"),
        input_snapshot=input_snapshot,
        buckets=list(range(ck.n_buckets)),
    )
    pt["small_pass_s"] = round(time.time() - t0, 2)

    # phase B: each giant component = one dedicated bucket and one
    # `process` call of `ck.run` (few of these by construction), solved
    # as one Arrow group by phase A's solver
    t0 = time.time()
    if big_buckets:

        def process_big(df: DataFrame) -> DataFrame:
            return (
                df.withColumn("__bucket", F.col("__cbucket"))
                .groupBy("__cbucket")
                .applyInPandas(solver, _CORR_OUT_SCHEMA)
            )

        result = ck.run(
            spark,
            staged,
            process_big,
            bucket_expr=F.col("__cbucket"),
            input_snapshot=input_snapshot,
            buckets=big_buckets,
            fail_after_batches=fail_after_batches,
        )
    elif fail_after_batches is not None and fail_after_batches <= 0:
        raise RuntimeError("simulated crash before batch 0")
    pt["big_da_s"] = round(time.time() - t0, 2)
    return result


def correlate(
    spark: SparkSession,
    elements: DataFrame,
    items: DataFrame,
    params: CorrelatorParams | None = None,
) -> CorrelationResult:
    """Run the correlator.

    `elements` needs columns (elem_id, elem_lat, elem_lon) plus whatever
    the strength / lone-allowance expressions reference; `items` needs
    (item_id, item_lat, item_lon) likewise. All other columns ride into
    the candidate pairs — keep the inputs slim (no binary payloads).
    """
    p = params or CorrelatorParams()
    elems_slim, items_slim, pairs_all = _slim_inputs(spark, elements, items, p)
    return _assign(
        spark, elems_slim, items_slim, pairs_all, p,
        full_elements=elements, full_items=items,
    )
