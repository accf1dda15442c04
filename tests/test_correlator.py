"""Correlator parity: micro-scenes with hand-computed outcomes (FIXTURES §6)
plus randomized equivalence against the sequential oracle replaying
Correlator.cs:110-301."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from osmalyzer_spark.geo.polygon import Polygon
from osmalyzer_spark.operators.correlator import (
    GOOD,
    REGULAR,
    STRONG,
    CorrelatorParams,
    correlate,
)
from tests.oracle_correlator import correlate_oracle, haversine

LAT0, LON0 = 56.95, 24.10


def at(d_north_m, d_east_m, lat0=LAT0, lon0=LON0):
    lat = lat0 + d_north_m / 111_320.0
    lon = lon0 + d_east_m / (111_320.0 * math.cos(math.radians(lat0)))
    return lat, lon


def make_dfs(spark, elements, items):
    edf = spark.createDataFrame(
        [(e["elem_id"], e["lat"], e["lon"], e.get("tag")) for e in elements],
        "elem_id long, elem_lat double, elem_lon double, elem_tag string",
    )
    idf = spark.createDataFrame(
        [(i["item_id"], i["lat"], i["lon"], i.get("tag")) for i in items],
        "item_id string, item_lat double, item_lon double, item_tag string",
    )
    return edf, idf


def tag_strength_expr(df):
    return (
        F.when(
            F.col("item_tag").isNotNull() & (F.col("item_tag") == F.col("elem_tag")),
            F.lit(STRONG),
        )
        .otherwise(F.lit(REGULAR))
    )


def tag_strength_fn(item, elem):
    if item.get("tag") is not None and item.get("tag") == elem.get("tag"):
        return STRONG
    return REGULAR


def run_both(spark, elements, items, params: CorrelatorParams, lone_fn=None):
    edf, idf = make_dfs(spark, elements, items)
    res = correlate(spark, edf, idf, params)
    oracle = correlate_oracle(
        elements,
        items,
        tag_strength_fn,
        match_distance=params.match_distance,
        unmatch_distance=params.unmatch_distance,
        good_extra=params.good_extra_distance,
        strong_extra=params.strong_extra_distance,
        lone_fn=lone_fn,
        lone_strong_strength=params.lone_strong_match_strength,
    )
    got_matched = {
        r["elem_id"]: (r["item_id"], r["strength"], r["dist_m"], r["far"])
        for r in res.matched.collect()
    }
    assert set(got_matched) == set(oracle.matched), (
        f"matched elem sets differ: extra={set(got_matched)-set(oracle.matched)} "
        f"missing={set(oracle.matched)-set(got_matched)}"
    )
    for eid, (iid, s, d, far) in oracle.matched.items():
        giid, gs, gd, gfar = got_matched[eid]
        assert giid == iid, f"elem {eid}: {giid} != {iid}"
        assert gs == s and gfar == far
        assert gd == pytest.approx(d, rel=1e-9)
    assert sorted(r["item_id"] for r in res.unmatched_items.collect()) == oracle.unmatched_items
    assert sorted(r["elem_id"] for r in res.unmatched_elements.collect()) == oracle.unmatched_elements
    assert sorted(r["elem_id"] for r in res.lone_elements.collect()) == oracle.lone_elements
    return res, oracle


def test_scene_contention_closer_wins(spark):
    """Two items contend for one element; closer wins, loser takes next."""
    e1 = dict(elem_id=1, **dict(zip(("lat", "lon"), at(0, 0))))
    e2 = dict(elem_id=2, **dict(zip(("lat", "lon"), at(0, 60))))
    i1 = dict(item_id="a", **dict(zip(("lat", "lon"), at(0, 10))))  # 10 m from e1
    i2 = dict(item_id="b", **dict(zip(("lat", "lon"), at(0, 20))))  # 20 m from e1, 40 from e2
    res, oracle = run_both(spark, [e1, e2], [i1, i2], CorrelatorParams())
    assert oracle.matched[1][0] == "a"
    assert oracle.matched[2][0] == "b"


def test_scene_strength_beats_distance(spark):
    """Strong @60m steals from Regular @10m (Correlator.cs:197)."""
    e1 = dict(elem_id=1, tag="T", **dict(zip(("lat", "lon"), at(0, 0))))
    i_near = dict(item_id="near", **dict(zip(("lat", "lon"), at(0, 10))))
    i_strong = dict(item_id="strong", tag="T", **dict(zip(("lat", "lon"), at(0, -60))))
    res, oracle = run_both(
        spark, [e1], [i_near, i_strong], CorrelatorParams(strength_expr=tag_strength_expr)
    )
    assert oracle.matched[1][0] == "strong"
    assert "near" in oracle.unmatched_items


def test_scene_far_flag(spark):
    """Matched at ~40 m with matchDistance=15 -> far (Correlator.cs:192)."""
    e1 = dict(elem_id=1, **dict(zip(("lat", "lon"), at(0, 0))))
    i1 = dict(item_id="a", **dict(zip(("lat", "lon"), at(0, 40))))
    res, oracle = run_both(spark, [e1], [i1], CorrelatorParams())
    assert oracle.matched[1][3] is True  # far
    kinds = {r["kind"] for r in res.correlations.collect()}
    assert "matched_far" in kinds


def test_scene_strong_extra_distance(spark):
    """Strong item at ~400 m matches with strong_extra=700 (allowed 775);
    a regular item at 400 m would not."""
    e1 = dict(elem_id=1, tag="ADDR", **dict(zip(("lat", "lon"), at(0, 0))))
    i_strong = dict(item_id="s", tag="ADDR", **dict(zip(("lat", "lon"), at(0, 400))))
    i_reg = dict(item_id="r", **dict(zip(("lat", "lon"), at(300, 400))))
    params = CorrelatorParams(strong_extra_distance=700.0, strength_expr=tag_strength_expr)
    res, oracle = run_both(spark, [e1], [i_strong, i_reg], params)
    assert oracle.matched[1][0] == "s"
    assert oracle.matched[1][3] is True  # still far (> 15 m)
    assert "r" in oracle.unmatched_items


def test_scene_lone_allowance_and_strong_upgrade(spark):
    """Unmatched element with lone allowance; one is upgraded to a match
    against a far-away strong item (Correlator.cs:249-287), the other stays
    lone; a third unmatched element without allowance is unmatched_osm."""
    e_upgr = dict(elem_id=1, tag="REF9", **dict(zip(("lat", "lon"), at(0, 0))))
    e_lone = dict(elem_id=2, tag="LONE", **dict(zip(("lat", "lon"), at(5000, 0))))
    e_plain = dict(elem_id=3, **dict(zip(("lat", "lon"), at(-5000, 0))))
    i_far_strong = dict(item_id="x", tag="REF9", **dict(zip(("lat", "lon"), at(0, 2000))))
    params = CorrelatorParams(
        strength_expr=tag_strength_expr,
        lone_allowance_expr=lambda df: F.col("elem_tag").isNotNull(),
        lone_strong_match_strength=STRONG,
        # the reference's upgrade pass is unbounded (Correlator.cs:249-287);
        # explicit opt-in here because the distributed default bounds it
        lone_upgrade_unbounded=True,
    )
    res, oracle = run_both(
        spark,
        [e_upgr, e_lone, e_plain],
        [i_far_strong],
        params,
        lone_fn=lambda e: e.get("tag") is not None,
    )
    assert oracle.matched[1][0] == "x"
    assert oracle.lone_elements == [2]
    assert oracle.unmatched_elements == [3]


def test_lone_upgrade_default_is_bounded_radius_join(spark):
    """Default upgrade pass = radius_join at seek_distance: same result as
    unbounded when the strong item is in range, and the physical plan has
    no cartesian product (scale guard)."""
    e_upgr = dict(elem_id=1, tag="REF9", **dict(zip(("lat", "lon"), at(0, 0))))
    i_strong = dict(item_id="x", tag="REF9", **dict(zip(("lat", "lon"), at(0, 60))))
    base = dict(
        strength_expr=tag_strength_expr,
        lone_allowance_expr=lambda df: F.col("elem_tag").isNotNull(),
        lone_strong_match_strength=STRONG,
    )
    edf, idf = make_dfs(spark, [e_upgr], [i_strong])
    bounded = correlate(spark, edf, idf, CorrelatorParams(**base))
    unbounded = correlate(
        spark, edf, idf, CorrelatorParams(**base, lone_upgrade_unbounded=True)
    )
    b = {(r["item_id"], r["elem_id"]) for r in bounded.matched.collect()}
    u = {(r["item_id"], r["elem_id"]) for r in unbounded.matched.collect()}
    assert b == u == {("x", 1)}
    plan = bounded.matched._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_deferred_acceptance_raises_on_nonconvergence(spark):
    """max_rounds too small for the displacement chain -> explicit error,
    never a silently unstable matching (ADVICE r1)."""
    import pytest

    # chain: items a,b,c all prefer elem 1; each displacement requeues one
    elems = [dict(elem_id=i, **dict(zip(("lat", "lon"), at(0, i * 10)))) for i in range(1, 4)]
    items = [dict(item_id=s, **dict(zip(("lat", "lon"), at(0, 1)))) for s in "abc"]
    edf, idf = make_dfs(spark, elems, items)
    with pytest.raises(RuntimeError, match="did not converge"):
        # da_local_pair_threshold=0: the gate would otherwise solve this
        # tiny scene at the driver (which always converges)
        correlate(
            spark, edf, idf,
            CorrelatorParams(max_rounds=1, da_local_pair_threshold=0),
        )


def test_scene_polygon_prefilter(spark):
    box = Polygon(
        outers=[np.array([(56.0, 23.0), (56.0, 25.0), (58.0, 25.0), (58.0, 23.0)])],
        polygon_id="bounds",
    )
    e1 = dict(elem_id=1, **dict(zip(("lat", "lon"), at(0, 0))))
    i_in = dict(item_id="in", **dict(zip(("lat", "lon"), at(0, 10))))
    i_out = dict(item_id="out", lat=59.5, lon=24.0)
    edf, idf = make_dfs(spark, [e1], [i_in, i_out])
    res = correlate(spark, edf, idf, CorrelatorParams(polygon=box))
    assert [r["item_id"] for r in res.outside_items.collect()] == ["out"]
    assert {r["item_id"]: r["elem_id"] for r in res.matched.collect()} == {"in": 1}
    kinds = dict(res.summary.collect())
    assert kinds.get("outside_bounds") == 1


def test_polygon_correlate_leaves_no_cached_frame(spark):
    """The polygon prefilter is evaluated inside the one truncation of the
    items: a correlate with a polygon registers nothing with the
    session's cache manager, which nothing would ever release."""
    box = Polygon(
        outers=[np.array([(56.0, 23.0), (56.0, 25.0), (58.0, 25.0), (58.0, 23.0)])],
        polygon_id="bounds",
    )
    e1 = dict(elem_id=1, **dict(zip(("lat", "lon"), at(0, 0))))
    i_in = dict(item_id="in", **dict(zip(("lat", "lon"), at(0, 10))))
    i_out = dict(item_id="out", lat=59.5, lon=24.0)
    edf, idf = make_dfs(spark, [e1], [i_in, i_out])
    spark.catalog.clearCache()
    rows = correlate(spark, edf, idf, CorrelatorParams(polygon=box)).correlations.collect()
    assert {r["kind"] for r in rows} == {"matched", "outside_bounds"}
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_match_anywhere(spark):
    """matchAnywhere: distance ignored, first (lowest-id) element wins."""
    e1 = dict(elem_id=7, tag="T", lat=56.0, lon=24.0)
    e2 = dict(elem_id=9, tag="T", lat=57.9, lon=27.0)
    i1 = dict(item_id="a", tag="T", lat=55.7, lon=21.0)
    edf, idf = make_dfs(spark, [e1, e2], [i1])
    res = correlate(
        spark,
        edf,
        idf,
        CorrelatorParams(match_anywhere=True, strength_expr=tag_strength_expr),
    )
    rows = res.matched.collect()
    assert len(rows) == 1 and rows[0]["elem_id"] == 7 and rows[0]["far"] is False
    assert [r["elem_id"] for r in res.unmatched_elements.collect()] == [9]


def test_payload_discipline_rejects_binary(spark):
    edf = spark.createDataFrame(
        [(1, 56.0, 24.0, bytearray(b"x"))],
        "elem_id long, elem_lat double, elem_lon double, payload binary",
    )
    idf = spark.createDataFrame(
        [("a", 56.0, 24.0)], "item_id string, item_lat double, item_lon double"
    )
    with pytest.raises(ValueError, match="binary"):
        correlate(spark, edf, idf, CorrelatorParams())


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_randomized_oracle_equivalence(spark, seed):
    """Distributed deferred acceptance reaches the sequential fixed point
    on dense random scenes with mixed strengths."""
    rng = np.random.default_rng(seed)
    n_elem, n_item = 120, 90
    tags = ["A", "B", "C", None]
    elements = []
    for j in range(n_elem):
        lat, lon = at(float(rng.uniform(-400, 400)), float(rng.uniform(-400, 400)))
        elements.append(
            dict(elem_id=j, lat=lat, lon=lon, tag=tags[int(rng.integers(0, 4))])
        )
    items = []
    for j in range(n_item):
        lat, lon = at(float(rng.uniform(-400, 400)), float(rng.uniform(-400, 400)))
        items.append(
            dict(item_id=f"it{j:03d}", lat=lat, lon=lon, tag=tags[int(rng.integers(0, 4))])
        )
    params = CorrelatorParams(
        match_distance=15.0,
        unmatch_distance=75.0,
        strong_extra_distance=120.0,
        strength_expr=tag_strength_expr,
    )
    run_both(spark, elements, items, params)


def test_empty_sides(spark):
    """Degenerate inputs: empty items => every element unmatched_osm;
    empty elements => every item unmatched_item; both run clean."""
    e1 = dict(elem_id=1, **dict(zip(("lat", "lon"), at(0, 0))))
    i1 = dict(item_id="a", **dict(zip(("lat", "lon"), at(0, 10))))
    edf, idf = make_dfs(spark, [e1], [i1])
    no_items = correlate(spark, edf, idf.limit(0), CorrelatorParams())
    assert no_items.matched.count() == 0
    assert [r["elem_id"] for r in no_items.unmatched_elements.collect()] == [1]
    no_elems = correlate(spark, edf.limit(0), idf, CorrelatorParams())
    assert no_elems.matched.count() == 0
    assert [r["item_id"] for r in no_elems.unmatched_items.collect()] == ["a"]


def _sequential_gale_shapley(prefs, acc_rank):
    """Textbook sequential Gale-Shapley: prefs maps proposer -> acceptor
    list in preference order, acc_rank maps (acceptor, proposer) -> rank
    (lower wins). Returns {acceptor: proposer}."""
    hold, nxt, stack = {}, dict.fromkeys(prefs, 0), list(prefs)
    while stack:
        q = stack.pop()
        while nxt[q] < len(prefs[q]):
            a = prefs[q][nxt[q]]
            nxt[q] += 1
            cur = hold.get(a)
            if cur is None or acc_rank[a, q] < acc_rank[a, cur]:
                hold[a] = q
                if cur is not None:
                    stack.append(cur)
                break
    return hold


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_gale_shapley_kernel_matches_sequential(seed):
    """The vectorized kernel, given many disjoint components in ONE call
    (as the small-component solver gives it an Arrow group), holds exactly
    the pairs a plain sequential Gale-Shapley holds on random strict
    preferences. No Spark."""
    from osmalyzer_spark.operators.correlator import _gale_shapley

    rng = np.random.default_rng(seed)
    prefs, acc_rank = {}, {}
    n_p = n_a = 0
    for _ in range(300):
        cp, ca = int(rng.integers(1, 12)), int(rng.integers(1, 12))
        for q in range(n_p, n_p + cp):
            k = int(rng.integers(0, ca + 1))
            prefs[q] = [n_a + int(a) for a in rng.permutation(ca)[:k]]
        for a in range(n_a, n_a + ca):
            for r, q in enumerate(rng.permutation(np.arange(n_p, n_p + cp))):
                acc_rank[a, int(q)] = r
        n_p, n_a = n_p + cp, n_a + ca
    rows = [(q, a) for q in sorted(prefs) for a in prefs[q]]
    prop = np.array([q for q, _ in rows])
    acc = np.array([a for _, a in rows])
    rank = np.array([acc_rank[a, q] for q, a in rows])
    held = _gale_shapley(prop, acc, rank)
    got = {int(acc[r]): int(prop[r]) for r in held}
    assert len(got) == len(held)
    assert got == _sequential_gale_shapley(prefs, acc_rank)
    assert list(held) == sorted(held)


def _corr_rows(df):
    return {
        (r["kind"], r["osm_id"], r["item_id"],
         round(r["distance"], 6) if r["distance"] is not None else None,
         r["strength"], r["far"])
        for r in df.collect()
    }


def test_checkpointed_correlate_exact_vs_global(spark, tmp_path):
    """Component bucketing preserves the global fixed point, including a
    displacement chain that any fixed spatial boundary would cut."""
    import numpy as np

    from osmalyzer_spark.checkpoint import CheckpointedRun
    from osmalyzer_spark.operators.correlator import checkpointed_correlate

    # chain: items all prefer leftward elements; displacement propagates
    chain_elems = [dict(elem_id=i, **dict(zip(("lat", "lon"), at(0, i * 60)))) for i in range(5)]
    chain_items = [dict(item_id=f"c{i}", **dict(zip(("lat", "lon"), at(0, i * 60 + 5)))) for i in range(4)]
    # plus random scatter (some candidate-less)
    rng = np.random.default_rng(11)
    far_elems = [
        dict(elem_id=100 + i, **dict(zip(("lat", "lon"), at(float(rng.uniform(2000, 50000)), float(rng.uniform(-50000, 50000))))))
        for i in range(40)
    ]
    far_items = [
        dict(item_id=f"f{i}", **dict(zip(("lat", "lon"), at(float(rng.uniform(2000, 50000)), float(rng.uniform(-50000, 50000))))))
        for i in range(15)
    ]
    edf, idf = make_dfs(spark, chain_elems + far_elems, chain_items + far_items)
    params = CorrelatorParams(match_distance=15, unmatch_distance=75)

    expected = _corr_rows(correlate(spark, edf, idf, params).correlations)
    ck = CheckpointedRun(str(tmp_path / "ckc"), run_id="cc1", n_buckets=4, buckets_per_batch=2)
    got = _corr_rows(checkpointed_correlate(spark, edf, idf, params, ck))
    assert got == expected


def _crash_scene(spark):
    elems = [dict(elem_id=i, **dict(zip(("lat", "lon"), at(float(i * 3000), 0.0)))) for i in range(12)]
    items = [dict(item_id=f"x{i}", **dict(zip(("lat", "lon"), at(float(i * 3000), 10.0)))) for i in range(12)]
    return make_dfs(spark, elems, items)


def test_checkpointed_correlate_crash_resume_small_phase(spark, tmp_path):
    """Crash in the dangerous window of the small-component single pass
    (data written, progress missing): resume overwrites the remnant
    partitions idempotently and the final answer equals the global one."""
    import pytest as _pytest

    from osmalyzer_spark.checkpoint import CheckpointedRun
    from osmalyzer_spark.operators.correlator import checkpointed_correlate

    edf, idf = _crash_scene(spark)
    params = CorrelatorParams(match_distance=15, unmatch_distance=75)
    expected = _corr_rows(correlate(spark, edf, idf, params).correlations)

    def crash(self, spark, rows):
        raise RuntimeError("simulated crash after data, before progress")

    ck = CheckpointedRun(str(tmp_path / "ckr"), run_id="cc2", n_buckets=4, buckets_per_batch=1)
    with _pytest.MonkeyPatch.context() as mp, _pytest.raises(RuntimeError, match="simulated crash"):
        mp.setattr(CheckpointedRun, "_write_progress", crash)
        checkpointed_correlate(spark, edf, idf, params, ck)
    assert len(ck.done_buckets(spark)) == 0
    got = _corr_rows(checkpointed_correlate(spark, edf, idf, params, ck))
    assert got == expected


def test_checkpointed_correlate_crash_resume_big_phase(spark, tmp_path):
    """da_local_pair_threshold=0 forces every pair-bearing component
    through the big-component phase (one dedicated bucket each).
    Crash after 2 big buckets; done = all 4 small buckets (phase A)
    + 2 big; the resumed run completes the rest and equals the global
    answer. Also proves the big-path one-task solve on slim staged rows, and
    that the resume reuses the staged layout: connected components raise
    if called, yet the answer and the big-component count are unchanged."""
    import dataclasses

    import pytest as _pytest

    import osmalyzer_spark.operators.dedup as dedup
    from osmalyzer_spark.checkpoint import CheckpointedRun
    from osmalyzer_spark.operators.correlator import checkpointed_correlate

    edf, idf = _crash_scene(spark)
    params = CorrelatorParams(match_distance=15, unmatch_distance=75)
    expected = _corr_rows(correlate(spark, edf, idf, params).correlations)
    params = dataclasses.replace(params, da_local_pair_threshold=0)

    ck = CheckpointedRun(str(tmp_path / "ckb"), run_id="cc3", n_buckets=4, buckets_per_batch=1)
    crash_pt, resume_pt = {}, {}
    with _pytest.raises(RuntimeError, match="simulated crash"):
        checkpointed_correlate(
            spark, edf, idf, params, ck, fail_after_batches=2,
            phase_times=crash_pt,
        )
    assert len(ck.done_buckets(spark)) == 4 + 2  # 12 pair components are big
    assert crash_pt["staging_reused"] is False

    def no_cc(*a, **kw):
        raise AssertionError("resume recomputed the connected components")

    with _pytest.MonkeyPatch.context() as mp:
        mp.setattr(dedup, "connected_components_star", no_cc)
        got = _corr_rows(
            checkpointed_correlate(
                spark, edf, idf, params, ck, phase_times=resume_pt,
            )
        )
    assert got == expected
    assert resume_pt["staging_reused"] is True
    assert resume_pt["n_big_components"] == crash_pt["n_big_components"] == 12


def test_checkpointed_correlate_splits_at_pair_threshold(spark, tmp_path, monkeypatch):
    """One bound splits the phases: components with more candidate pairs
    than da_local_pair_threshold get their own big bucket, the rest go
    through the grouped-map solver. Eleven clusters 3 km apart, each a
    complete candidate graph of n_e x n_i pairs (every point within 20 m
    of its centre): three clusters of 9 or 12 pairs sit above a bound of
    6, eight of 1-6 pairs at or below it, and the answer is correlate()'s.
    Each giant is solved in one task: the distributed DA loop raises if
    it runs."""
    import dataclasses

    import osmalyzer_spark.operators.correlator as correlator
    from osmalyzer_spark.checkpoint import CheckpointedRun
    from osmalyzer_spark.operators.correlator import checkpointed_correlate

    rng = np.random.default_rng(3)
    sizes = [(3, 3), (3, 4), (4, 3), (1, 1), (2, 2), (2, 3), (3, 2), (1, 4),
             (6, 1), (1, 2), (2, 1)]
    elements, items = [], []
    for c, (n_e, n_i) in enumerate(sizes):
        for _ in range(n_e):
            elements.append(dict(elem_id=len(elements), **dict(zip(("lat", "lon"), at(
                float(rng.uniform(-10, 10)), c * 3000.0 + float(rng.uniform(-10, 10)))))))
        for _ in range(n_i):
            items.append(dict(item_id=f"i{len(items):03d}", **dict(zip(("lat", "lon"), at(
                float(rng.uniform(-10, 10)), c * 3000.0 + float(rng.uniform(-10, 10)))))))
    edf, idf = make_dfs(spark, elements, items)
    params = CorrelatorParams(match_distance=15, unmatch_distance=75)
    expected = _corr_rows(correlate(spark, edf, idf, params).correlations)

    def no_rounds(*a, **kw):
        raise AssertionError("a giant took the distributed DA loop")

    monkeypatch.setattr(correlator, "_da_rounds", no_rounds)
    ck = CheckpointedRun(str(tmp_path / "cks"), run_id="t1", n_buckets=4)
    pt = {}
    got = _corr_rows(checkpointed_correlate(
        spark, edf, idf, dataclasses.replace(params, da_local_pair_threshold=6),
        ck, phase_times=pt,
    ))
    assert got == expected
    assert pt["n_big_components"] == sum(e * i > 6 for e, i in sizes) == 3
    assert ck.done_buckets(spark) == set(range(4 + 3))


def test_checkpointed_correlate_rejects_unbounded_upgrade(spark, tmp_path):
    from osmalyzer_spark.checkpoint import CheckpointedRun
    from osmalyzer_spark.operators.correlator import checkpointed_correlate
    import pytest as _pytest

    edf, idf = make_dfs(spark, [dict(elem_id=1, **dict(zip(("lat", "lon"), at(0, 0))))],
                        [dict(item_id="a", **dict(zip(("lat", "lon"), at(0, 10))))])
    ck = CheckpointedRun(str(tmp_path / "x"), run_id="r", n_buckets=2)
    with _pytest.raises(ValueError, match="components"):
        checkpointed_correlate(
            spark, edf, idf,
            CorrelatorParams(lone_upgrade_unbounded=True), ck,
        )


def test_checkpointed_correlate_partition_pruned_reads(spark, tmp_path):
    """The staged bucket layout must make per-bucket filters partition-
    pruned directory reads (VERDICT r2 item 3): both sides are written
    under staged/<name>/__cbucket=<b>/, and a per-bucket filter's physical
    plan carries a PartitionFilters entry on __cbucket — one source scan
    of exactly that bucket's files, not a rescan of the input. The
    per-bucket slices `run` hands to `process` carry the same pruning."""
    import os
    import re

    from osmalyzer_spark.checkpoint import CheckpointedRun
    from osmalyzer_spark.operators.correlator import checkpointed_correlate

    elems = [dict(elem_id=i, **dict(zip(("lat", "lon"), at(0, i * 500)))) for i in range(12)]
    items = [dict(item_id=f"i{i}", **dict(zip(("lat", "lon"), at(0, i * 500 + 5)))) for i in range(10)]
    edf, idf = make_dfs(spark, elems, items)
    ck = CheckpointedRun(str(tmp_path / "ckp"), run_id="p1", n_buckets=4, buckets_per_batch=4)
    checkpointed_correlate(spark, edf, idf, CorrelatorParams(), ck)

    base = os.path.join(str(tmp_path / "ckp"), "staged", "p1", "corr_input")
    assert os.path.exists(os.path.join(base, "_STAGED"))
    parts = [d for d in os.listdir(base) if d.startswith("__cbucket=")]
    assert parts, f"no partition directories under {base}"
    staged = spark.read.parquet(base)
    pruned = staged.filter(F.col("__cbucket") == 1)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    # the bucket equality sits in PartitionFilters (directory pruning),
    # and the scan carries NO post-scan Filter on __cbucket — the
    # partition filter IS the whole predicate, i.e. one bucket's files
    assert "__cbucket" in pf and "= 1" in pf, plan
    assert "Filter (" not in plan.split("FileScan")[0], plan

    # the per-bucket slice `run` hands to `process` prunes the same way:
    # each call's PartitionFilters hold its own bucket equality
    eqs = []

    def capture(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        pf = plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
        eqs.append(re.findall(r"__cbucket#\d+ = (\d+)\)", pf))
        return df.select("__side")

    CheckpointedRun(str(tmp_path / "ckq"), run_id="p2", n_buckets=4, buckets_per_batch=4).run(
        spark, staged, capture, bucket_expr=F.col("__cbucket")
    )
    assert eqs == [["0"], ["1"], ["2"], ["3"]], eqs


def test_stage_bucketed_reused_on_resume(spark, tmp_path):
    """Staging is idempotent per (out_path, run_id, name): a second call
    reuses the files (same mtimes) instead of rewriting."""
    import os

    from osmalyzer_spark.checkpoint import CheckpointedRun

    ck = CheckpointedRun(str(tmp_path / "cks"), run_id="s1", n_buckets=4)
    df = spark.range(100).withColumn("__cbucket", (F.col("id") % 4).cast("int"))
    ck.stage_bucketed(spark, df, "side")
    base = os.path.join(str(tmp_path / "cks"), "staged", "s1", "side")
    mtimes = {f: os.path.getmtime(os.path.join(base, f)) for f in os.listdir(base)}
    out2 = ck.stage_bucketed(spark, df, "side")
    assert {f: os.path.getmtime(os.path.join(base, f)) for f in os.listdir(base)} == mtimes
    assert out2.count() == 100


def test_stage_bucketed_rejects_changed_input(spark, tmp_path):
    """Resuming a staging against a CHANGED input must raise, not silently
    correlate from the stale staged files (ADVICE r3): the _STAGED marker
    records (run_id, fingerprint, schema) and a mismatch fails loudly."""
    import pytest as _pytest

    from osmalyzer_spark.checkpoint import CheckpointedRun

    ck = CheckpointedRun(str(tmp_path / "ckf"), run_id="f1", n_buckets=4)
    df = spark.range(50).withColumn("__cbucket", (F.col("id") % 4).cast("int"))
    ck.stage_bucketed(spark, df, "side", fingerprint="snap-A")
    # same name + run, different declared input snapshot -> refuse reuse
    with _pytest.raises(ValueError, match="different input"):
        ck.stage_bucketed(spark, df, "side", fingerprint="snap-B")
    # schema drift is caught even with no explicit fingerprint
    df2 = df.withColumn("extra", F.lit(1))
    with _pytest.raises(ValueError, match="different input"):
        ck.stage_bucketed(spark, df2, "side", fingerprint="snap-A")
    # a NEW run_id against the same out_path stages fresh (no cross-run reuse)
    ck2 = CheckpointedRun(str(tmp_path / "ckf"), run_id="f2", n_buckets=4)
    assert ck2.stage_bucketed(spark, df2, "side").count() == 50


def test_da_shuffle_join_path_matches_broadcast_path(spark, monkeypatch):
    """Adversarial shape (items >> elements => round-1 displacement wave
    creates a large unassigned set): with _BROADCAST_ROW_LIMIT=0 every
    round-state join takes the guarded SHUFFLE path (VERDICT r3 "what's
    wrong" #1) and the matching is identical to the broadcast path."""
    rng = np.random.default_rng(404)
    elements = [
        dict(elem_id=e, **dict(zip(("lat", "lon"), at(0, e * 30.0))))
        for e in range(8)
    ]
    # 60 items clustered over 8 elements: long displacement chains
    items = [
        dict(item_id=f"i{k:03d}",
             **dict(zip(("lat", "lon"),
                        at(float(rng.uniform(-40, 40)), float(rng.uniform(-40, 250))))))
        for k in range(60)
    ]
    import osmalyzer_spark.operators.correlator as correlator

    edf, idf = make_dfs(spark, elements, items)
    base = correlate(spark, edf, idf, CorrelatorParams(unmatch_distance=75.0))
    monkeypatch.setattr(correlator, "_BROADCAST_ROW_LIMIT", 0)
    guarded = correlate(
        spark, edf, idf,
        CorrelatorParams(unmatch_distance=75.0, da_local_pair_threshold=0),
    )
    key = lambda r: (r["elem_id"], r["item_id"], r["strength"], round(r["dist_m"], 9), r["far"])
    assert sorted(map(key, base.matched.collect())) == sorted(
        map(key, guarded.matched.collect())
    )
    assert sorted(r["item_id"] for r in base.unmatched_items.collect()) == sorted(
        r["item_id"] for r in guarded.unmatched_items.collect()
    )
    # and the oracle agrees with the guarded path too
    run_both(spark, elements, items,
             CorrelatorParams(unmatch_distance=75.0, da_local_pair_threshold=0))


def test_da_local_gate_matches_distributed(spark):
    """The driver-local GS gate (da_local_pair_threshold, r6) must
    reproduce the distributed round loop EXACTLY — full parameter surface
    (strengths, extra distances, lone allowance + strong upgrade) on a
    dense random scene with contested elements and displacement chains."""
    rng = np.random.default_rng(515)
    elements = [
        dict(elem_id=e, tag=str(e % 5),
             **dict(zip(("lat", "lon"),
                        at(float(rng.uniform(-50, 50)), float(rng.uniform(-300, 300))))))
        for e in range(40)
    ]
    items = [
        dict(item_id=f"i{k:03d}", tag=str(k % 5),
             **dict(zip(("lat", "lon"),
                        at(float(rng.uniform(-60, 60)), float(rng.uniform(-320, 320))))))
        for k in range(120)
    ]
    edf, idf = make_dfs(spark, elements, items)
    kw = dict(
        unmatch_distance=75.0,
        good_extra_distance=30.0,
        strong_extra_distance=60.0,
        strength_expr=tag_strength_expr,
        lone_allowance_expr=lambda df: F.col("elem_id") % 3 == 0,
        lone_strong_match_strength=STRONG,
    )
    local = correlate(spark, edf, idf, CorrelatorParams(**kw))
    dist = correlate(
        spark, edf, idf, CorrelatorParams(**kw, da_local_pair_threshold=0)
    )
    # the scene's value is its long displacement chains (22 rounds)
    assert dist.rounds >= 20, dist.rounds
    key = lambda r: (r["elem_id"], r["item_id"], r["strength"],
                     round(r["dist_m"], 9), r["far"])
    assert sorted(map(key, local.matched.collect())) == sorted(
        map(key, dist.matched.collect())
    )
    for attr in ("unmatched_items", "unmatched_elements", "lone_elements"):
        assert sorted(map(tuple, getattr(local, attr).collect())) == sorted(
            map(tuple, getattr(dist, attr).collect())
        ), attr


def test_da_gate_probe_overflow_runs_distributed(spark):
    """A small-but-nonzero da_local_pair_threshold (3) sits below the
    scene's candidate count, so the gate's count() exceeds it: the
    distributed round loop must engage and agree with the driver-local
    default."""
    rng = np.random.default_rng(616)
    elements = [
        dict(elem_id=e, tag=str(e % 3),
             **dict(zip(("lat", "lon"),
                        at(float(rng.uniform(-30, 30)), float(rng.uniform(-200, 200))))))
        for e in range(25)
    ]
    items = [
        dict(item_id=f"i{k:03d}", tag=str(k % 3),
             **dict(zip(("lat", "lon"),
                        at(float(rng.uniform(-40, 40)), float(rng.uniform(-220, 220))))))
        for k in range(70)
    ]
    edf, idf = make_dfs(spark, elements, items)
    kw = dict(unmatch_distance=75.0, strength_expr=tag_strength_expr)
    local = correlate(spark, edf, idf, CorrelatorParams(**kw))
    overflow = correlate(
        spark, edf, idf, CorrelatorParams(**kw, da_local_pair_threshold=3)
    )
    assert local.rounds == 0 and overflow.rounds >= 1
    key = lambda r: (r["elem_id"], r["item_id"], r["strength"],
                     round(r["dist_m"], 9), r["far"])
    assert sorted(map(key, local.matched.collect())) == sorted(
        map(key, overflow.matched.collect())
    )
    assert sorted(r["item_id"] for r in local.unmatched_items.collect()) == sorted(
        r["item_id"] for r in overflow.unmatched_items.collect()
    )


def test_checkpointed_grouped_map_solver_full_semantics(spark, tmp_path):
    """The vectorized small-component solver must reproduce the global
    answer under the FULL parameter surface: strengths, per-strength
    extra distances, lone allowance, and the strong-match lone-upgrade
    pass. ~100 dense clusters spaced far beyond the seek distance give
    every Arrow group many components, each with contested elements and
    displacement chains; Good pairs between 75 m and the 175 m seek
    distance can only match through the lone upgrade. A second run with
    a small da_local_pair_threshold sends some clusters through phase
    B's one-task path and must give the same rows."""
    import dataclasses

    from osmalyzer_spark.checkpoint import CheckpointedRun
    from osmalyzer_spark.operators.correlator import (
        KIND_LONE_OSM, KIND_MATCHED, KIND_MATCHED_FAR, KIND_UNMATCHED_ITEM,
        KIND_UNMATCHED_OSM, checkpointed_correlate,
    )

    rng = np.random.default_rng(77)
    tags = ["a", "b", "c", None]
    elements, items = [], []
    for c in range(100):
        north, east = (c // 10) * 3000.0, (c % 10) * 3000.0
        for _ in range(int(rng.integers(2, 8))):
            elements.append(dict(
                elem_id=len(elements),
                tag=tags[int(rng.integers(0, 4))],
                **dict(zip(("lat", "lon"), at(
                    north + float(rng.uniform(-120, 120)),
                    east + float(rng.uniform(-120, 120))))),
            ))
        for _ in range(int(rng.integers(2, 8))):
            items.append(dict(
                item_id=f"i{len(items):04d}",
                tag=tags[int(rng.integers(0, 4))],
                **dict(zip(("lat", "lon"), at(
                    north + float(rng.uniform(-120, 120)),
                    east + float(rng.uniform(-120, 120))))),
            ))
    edf, idf = make_dfs(spark, elements, items)

    def strength(df):
        both = F.col("item_tag").isNotNull() & F.col("elem_tag").isNotNull()
        return (
            F.when(both & (F.col("item_tag") == F.col("elem_tag")), F.lit(STRONG))
            .when(both, F.lit(GOOD))
            .otherwise(F.lit(REGULAR))
        )

    params = CorrelatorParams(
        match_distance=15,
        unmatch_distance=75,
        strong_extra_distance=100.0,
        strength_expr=strength,
        lone_allowance_expr=lambda df: F.col("elem_tag").isNotNull(),
        lone_strong_match_strength=GOOD,
    )
    expected = _corr_rows(correlate(spark, edf, idf, params).correlations)
    ck = CheckpointedRun(str(tmp_path / "ckg"), run_id="g1", n_buckets=8)
    got = _corr_rows(checkpointed_correlate(spark, edf, idf, params, ck))
    assert got == expected
    # every component went through the grouped-map small phase
    assert max(ck.done_buckets(spark)) < 8
    # the scene exercises every kind, and the lone upgrade pass
    assert {r[0] for r in got} == {
        KIND_MATCHED, KIND_MATCHED_FAR, KIND_UNMATCHED_ITEM,
        KIND_UNMATCHED_OSM, KIND_LONE_OSM,
    }
    assert any(r[4] == GOOD and r[3] > 75 for r in got)

    # a bound of 25 pairs makes four clusters giants: phase B solves each
    # in one task with the same solver, lone upgrade included
    ck2 = CheckpointedRun(str(tmp_path / "ckg2"), run_id="g2", n_buckets=8)
    pt = {}
    got2 = _corr_rows(checkpointed_correlate(
        spark, edf, idf, dataclasses.replace(params, da_local_pair_threshold=25),
        ck2, phase_times=pt,
    ))
    assert got2 == expected
    assert pt["n_big_components"] == 4
    big = _corr_rows(ck2._read_data(spark).filter(F.col("__bucket") >= 8).drop("__bucket"))
    assert KIND_LONE_OSM in {r[0] for r in big}
    assert any(r[4] == STRONG for r in big)
    assert any(r[4] == GOOD and r[3] > 75 for r in big)
