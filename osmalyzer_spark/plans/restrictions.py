"""Turn-restriction relation validator (RestrictionRelationAnalyzer.cs).

Re-expresses the reference's deepest structural validator as native
DataFrame stages over (relations, ways) tables:

1. tag grammar — `restriction[:<mode>][:conditional]` keys with simple /
   conditional / unknown value classes (:962-1010, :1086-1130), `except`
   vehicle lists (:1029-1052), deprecated day/hour window tags
   (:1054-1067), the ignored-keys list, and unknown-tag fallout;
2. per-mode primary↔conditional pairing rules — flipped conditionals
   (:283-318), redundant same-value conditionals (:329-352),
   pointless `restriction=none` without conditionals (:355-368), mixed
   restriction values across modes (:372-390), default+mode-specific
   redundancy (:393-412);
3. member-role structure — role/type combos, from/to/via multiplicity
   with the no_entry / no_exit / u-turn allowances (:441-528),
   via-repeats-from/to (:521-531 — NOTE: the reference compares
   OsmRelationMember object identity there, which never matches
   across roles, making its check a no-op; this implementation uses
   the documented intent, element identity by (type, ref));
4. connectivity — the from → via(s) → to chain must connect through
   terminal nodes (OsmAlgorithms.IsChained, OsmAlgorithms.cs:111-199),
   evaluated natively over an ordered array of (type, first, last)
   structs;
5. pointless turns — a no_*/only_* restriction whose single via node
   has <= 2 branching highways (CountBranchingHighways, :1196-1225:
   terminal touch counts 1, pass-through 2, roundabout pass-through 1);
6. inter-conflicts — comparable default-mode restrictions grouped by the
   exact (from, via node, to) triple: different kinds => conflicting,
   same kind repeated => duplicates (:612-729).

Output: one row per finding — (relation_id, issue, detail). Detail
strings are minimal deterministic renderings (key=value, sorted value
lists), not the reference's prose.

Scale: tag and member stages are explode+filter over the relation table
only; connectivity/branching join member way-refs against the way table
on id/node id (the only shuffles), so the validator is a constant number
of hash joins regardless of relation count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmalyzer_spark.functions.tags import get_value
from osmalyzer_spark.lineage import truncate

# RestrictionRelationAnalyzer.cs:1012-1027
KNOWN_VEHICLE_MODES = [
    "psv", "bicycle", "hgv", "motorcar", "motorcycle", "bus", "caravan",
    "agricultural", "tractor", "emergency", "hazmat", "taxi", "moped",
]

# RestrictionRelationAnalyzer.cs:1069-1083
KNOWN_RESTRICTION_VALUES = [
    "none",
    "no_right_turn", "no_left_turn", "no_u_turn", "no_straight_on",
    "only_right_turn", "only_left_turn", "only_u_turn", "only_straight_on",
    "no_entry", "no_exit",
]

UTURN_VALUES = ["no_u_turn", "only_u_turn"]
# NoRestriction/OnlyRestriction kinds (incl. u-turns), i.e. everything
# known except the NoPass pair (:582-585 switch arms)
DIRECTIONAL_VALUES = [
    "no_right_turn", "no_left_turn", "no_u_turn", "no_straight_on",
    "only_right_turn", "only_left_turn", "only_u_turn", "only_straight_on",
]

IGNORED_KEYS = ["note", "fixme", "description", "check_date", "source", "implicit"]

DEPRECATED_KEYS = ["day_on", "day_off", "hour_on", "hour_off"]

# RestrictionRelationAnalyzer.cs:1190-1191
BRANCHING_HIGHWAY_VALUES = [
    "motorway", "trunk", "primary", "secondary", "tertiary", "unclassified",
    "residential", "motorway_link", "trunk_link", "primary_link",
    "secondary_link", "tertiary_link", "living_street", "pedestrian",
    "service", "track",
]

_VALUES_ALT = "|".join(KNOWN_RESTRICTION_VALUES)
# TryParseConditionalRestrictionValue (:1095-1130). The reference's
# trailing extra-days group is subsumed by the greedy (.+); condition is
# everything after '@' (inside the brackets when present).
COND_BRACKET_RE = f"^({_VALUES_ALT}) *@ *\\((.+)\\)$"
COND_PLAIN_RE = f"^({_VALUES_ALT}) *@ *(.+)$"


def _issue(df: DataFrame, issue: str, detail) -> DataFrame:
    return df.select(
        "relation_id", F.lit(issue).alias("issue"), detail.alias("detail")
    )


def _classify_tags(relations: DataFrame) -> DataFrame:
    """Explode the tag map and classify every key
    (TryParseAsEntry / exceptions / deprecated / ignored / unknown).

    Returns (relation_id, key, value, cls, mode, is_conditional, vclass,
    main_value, condition); cls in {entry, except, deprecated, ignored,
    unknown}; mode='' for the default mode; vclass in
    {simple, cond, unknown} for entries."""
    t = relations.select(
        F.col("id").alias("relation_id"), F.explode("tags").alias("key", "value")
    ).filter(F.col("key") != "type")
    parts = F.split(F.col("key"), ":")
    n = F.size(parts)
    # F.get is 0-based and returns NULL beyond the end (ANSI-safe)
    p0, p1, p2 = F.get(parts, 0), F.get(parts, 1), F.get(parts, 2)
    known_mode = p1.isin(KNOWN_VEHICLE_MODES)
    is_entry = (p0 == "restriction") & (
        (n == 1)  # restriction
        | ((n == 2) & (p1 == "conditional"))  # restriction:conditional
        | ((n == 2) & known_mode)  # restriction:<mode>
        | ((n == 3) & known_mode & (p2 == "conditional"))  # restriction:<mode>:conditional
    )
    is_conditional = is_entry & (
        ((n == 2) & (p1 == "conditional")) | ((n == 3) & (p2 == "conditional"))
    )
    mode = F.when(is_entry & (n >= 2) & known_mode, p1).otherwise(F.lit(""))
    cls = (
        F.when(is_entry, F.lit("entry"))
        .when(F.col("key") == "except", F.lit("except"))
        .when(F.col("key").isin(DEPRECATED_KEYS), F.lit("deprecated"))
        .when(F.col("key").isin(IGNORED_KEYS), F.lit("ignored"))
        .otherwise(F.lit("unknown"))
    )
    v = F.col("value")
    simple_ok = v.isin(KNOWN_RESTRICTION_VALUES)
    cm = F.regexp_extract(v, COND_BRACKET_RE, 1)
    cc = F.regexp_extract(v, COND_BRACKET_RE, 2)
    pm = F.regexp_extract(v, COND_PLAIN_RE, 1)
    pc = F.regexp_extract(v, COND_PLAIN_RE, 2)
    cond_main = F.when(cm != "", cm).when(pm != "", pm)
    cond_cond = F.when(cm != "", cc).when(pm != "", pc)
    vclass = F.when(
        is_conditional,
        F.when(cond_main.isNotNull(), F.lit("cond")).otherwise(F.lit("unknown")),
    ).otherwise(F.when(simple_ok, F.lit("simple")).otherwise(F.lit("unknown")))
    return t.select(
        "relation_id",
        "key",
        "value",
        cls.alias("cls"),
        mode.alias("mode"),
        is_conditional.alias("is_conditional"),
        F.when(cls == "entry", vclass).alias("vclass"),
        F.when(cls == "entry", F.when(is_conditional, cond_main).otherwise(v)).alias(
            "main_value"
        ),
        F.when(cls == "entry", cond_cond).alias("condition"),
    )


def _classify_members(relations: DataFrame) -> DataFrame:
    """(relation_id, pos, role, mtype, ref, cls) with cls in
    {from, to, via_node, via_way, unknown} (:92-123)."""
    m = relations.select(
        F.col("id").alias("relation_id"), F.posexplode("members").alias("pos", "m")
    ).select(
        "relation_id", "pos",
        F.col("m.role").alias("role"),
        F.col("m.type").alias("mtype"),
        F.col("m.ref").alias("ref"),
    )
    cls = (
        F.when((F.col("role") == "from") & (F.col("mtype") == "way"), F.lit("from"))
        .when((F.col("role") == "to") & (F.col("mtype") == "way"), F.lit("to"))
        .when((F.col("role") == "via") & (F.col("mtype") == "node"), F.lit("via_node"))
        .when((F.col("role") == "via") & (F.col("mtype") == "way"), F.lit("via_way"))
        .otherwise(F.lit("unknown"))
    )
    return m.withColumn("cls", cls)


def turn_restriction_check(relations: DataFrame, ways: DataFrame) -> DataFrame:
    """All RestrictionRelationAnalyzer report groups as issue rows.

    relations: (id, tags map, members array<struct<type,ref,role>>) with
    type=restriction and all members resolvable (compose
    osm.unresolved_relations upstream for the reference's
    RelationMustHaveAllMembersDownloaded prefilter; the Latvia-polygon
    fuzzy containment likewise).
    ways: (id, tags map, node_ids array).

    Returns (relation_id, issue, detail).
    """
    # truncate, not cache: downstream issue branches re-analyze
    # and re-optimize the shared subplan on every reference — truncating
    # the lineage keeps every branch's plan a short LogicalRDD scan
    # (guide §3.3 plan-size note). rels/ways are truncated FIRST because
    # even a lazy truncation plans its subplan (Dataset.checkpoint
    # resolves queryExecution.toRdd), and planning the caller's
    # expression-heavy way/relation constructions repeatedly was most of
    # q50's wall (cProfile: 8.7 of 12.3 s in 6 checkpoint calls).
    rels = truncate(relations.filter(get_value("tags", "type") == "restriction"))
    ways = truncate(ways)
    tags = truncate(_classify_tags(rels))
    members = truncate(_classify_members(rels))

    issues = []

    # ---- tag-level findings ------------------------------------------
    entries = tags.filter(F.col("cls") == "entry")
    issues.append(
        _issue(
            entries.filter(F.col("vclass") == "unknown"),
            "unknown_restriction_value",
            F.concat("key", F.lit("="), "value"),
        )
    )
    issues.append(
        _issue(
            tags.filter(F.col("cls") == "unknown"),
            "unknown_tag",
            F.concat("key", F.lit("="), "value"),
        )
    )
    issues.append(
        _issue(
            tags.filter(F.col("cls") == "deprecated"),
            "deprecated_tag",
            F.concat("key", F.lit("="), "value"),
        )
    )
    exc = tags.filter(F.col("cls") == "except").select(
        "relation_id",
        F.explode(F.transform(F.split("value", ";"), lambda s: F.trim(s))).alias("tok"),
    )
    issues.append(
        _issue(
            exc.filter(~F.col("tok").isin(KNOWN_VEHICLE_MODES)),
            "unknown_exception_mode",
            F.col("tok"),
        )
    )

    # ---- per-mode primary/conditional pairing ------------------------
    # tag keys are unique, so each (relation, mode) has at most one
    # primary and one conditional entry (SingleOrDefault, :297-300)
    pm = truncate(  # 3 filter branches below
        entries.groupBy("relation_id", "mode")
        .agg(
            F.max(F.when(~F.col("is_conditional"), F.col("vclass"))).alias("p_vclass"),
            F.max(F.when(~F.col("is_conditional"), F.col("main_value"))).alias("p_main"),
            F.max(F.when(F.col("is_conditional"), F.col("vclass"))).alias("c_vclass"),
            F.max(F.when(F.col("is_conditional"), F.col("main_value"))).alias("c_main"),
            F.max(F.when(F.col("is_conditional"), F.col("condition"))).alias("c_cond"),
        )
    )
    issues.append(
        _issue(
            pm.filter(
                (F.col("p_vclass") == "simple") & (F.col("p_main") != "none")
                & (F.col("c_vclass") == "cond") & (F.col("c_main") == "none")
            ),
            "flipped_conditional",
            F.concat("mode", F.lit(":"), "p_main", F.lit(" vs none @ "), "c_cond"),
        )
    )
    issues.append(
        _issue(
            pm.filter(
                (F.col("p_vclass") == "simple") & (F.col("c_vclass") == "cond")
                & (F.col("p_main") == F.col("c_main"))
            ),
            "redundant_conditional",
            F.concat("mode", F.lit(":"), "p_main"),
        )
    )
    issues.append(
        _issue(
            pm.filter(
                (F.col("p_vclass") == "simple") & (F.col("p_main") == "none")
                & F.col("c_vclass").isNull()
            ),
            "pointless_none",
            F.col("mode"),
        )
    )

    # ---- cross-mode value consistency --------------------------------
    # base values = simple primaries + conditional mains, unknowns
    # excluded (:137-149); modes come from ALL entries incl. unknown-
    # valued ones (:133). NOTE: the reference takes the main value with
    # SingleOrDefault (:152), which THROWS on >1 non-none values — the
    # size guard here treats that case as the mixed kind instead.
    per_rel = truncate(  # feeds 2 issues + kind + has_default
        entries.groupBy("relation_id").agg(
            F.array_sort(
                F.collect_set(
                    F.when(F.col("vclass").isin("simple", "cond"), F.col("main_value"))
                )
            ).alias("base_values"),
            F.array_sort(F.collect_set("mode")).alias("modes"),
        )
    )
    non_none = F.filter(F.col("base_values"), lambda v: v != "none")
    issues.append(
        _issue(
            per_rel.filter(F.size(non_none) > 1),
            "mixed_restriction_values",
            F.concat_ws(",", "base_values"),
        )
    )
    issues.append(
        _issue(
            per_rel.filter(
                (F.size("modes") > 1)
                & F.array_contains("modes", "")
                & (F.size("base_values") == 1)
            ),
            "default_and_mode_specific",
            F.concat_ws(",", F.filter(F.col("modes"), lambda m: m != "")),
        )
    )

    # restriction kind: the single non-none base value, else mixed (:152-157)
    kind = per_rel.select(
        "relation_id",
        F.when(F.size(non_none) == 1, F.element_at(non_none, 1)).alias("kind"),
    )

    # ---- member-role structure ----------------------------------------
    issues.append(
        _issue(
            members.filter(F.col("cls") == "unknown"),
            "invalid_member",
            F.concat("role", F.lit("/"), "mtype"),
        )
    )
    mc = members.groupBy("relation_id").agg(
        F.count(F.when(F.col("cls") == "from", 1)).alias("n_from"),
        F.count(F.when(F.col("cls") == "to", 1)).alias("n_to"),
        F.count(F.when(F.col("cls").isin("via_node", "via_way"), 1)).alias("n_via"),
        F.count(F.when(F.col("cls") == "via_node", 1)).alias("n_via_node"),
        F.count(F.when(F.col("cls") == "via_way", 1)).alias("n_via_way"),
        F.countDistinct(
            F.when(F.col("cls").isin("via_node", "via_way"), F.concat("mtype", F.lit("/"), "ref"))
        ).alias("n_via_distinct"),
        F.size(
            F.array_intersect(
                F.collect_set(F.when(F.col("cls").isin("via_node", "via_way"), F.concat("mtype", F.lit("/"), "ref"))),
                F.collect_set(F.when(F.col("cls") == "from", F.concat(F.lit("way/"), "ref"))),
            )
        ).alias("n_via_eq_from"),
        F.size(
            F.array_intersect(
                F.collect_set(F.when(F.col("cls").isin("via_node", "via_way"), F.concat("mtype", F.lit("/"), "ref"))),
                F.collect_set(F.when(F.col("cls") == "to", F.concat(F.lit("way/"), "ref"))),
            )
        ).alias("n_via_eq_to"),
        F.min(F.when(F.col("cls") == "from", F.col("ref"))).alias("from_ref"),
        F.min(F.when(F.col("cls") == "to", F.col("ref"))).alias("to_ref"),
        F.min(F.when(F.col("cls") == "via_node", F.col("ref"))).alias("via_node_ref"),
    )
    # every restriction relation gets a role evaluation, even member-less
    rel_ids = rels.select(F.col("id").alias("relation_id"))
    mk = (
        rel_ids.join(mc, "relation_id", "left")
        .na.fill(0, [c for c in mc.columns if c.startswith("n_")])
        .join(kind, "relation_id", "left")
    )
    is_uturn = F.col("kind").isin(UTURN_VALUES)
    role_rules = [
        ("missing_from", F.col("n_from") == 0),
        (
            "multiple_from",
            (F.col("n_from") > 1)
            & (F.coalesce(F.col("kind"), F.lit("")) != "no_entry"),
        ),
        ("missing_to", F.col("n_to") == 0),
        (
            "multiple_to",
            (F.col("n_to") > 1) & (F.coalesce(F.col("kind"), F.lit("")) != "no_exit"),
        ),
        ("missing_via", F.col("n_via") == 0),
        (
            "via_as_way",
            (F.col("n_via") == 1) & (F.col("n_via_way") == 1) & ~F.coalesce(is_uturn, F.lit(False)),
        ),
        (
            "via_mixed_multiple",
            (F.col("n_via") > 1)
            & F.coalesce(is_uturn, F.lit(False))
            & (F.col("n_via_node") > 0),
        ),
        (
            "via_repeated",
            (F.col("n_via") > 1)
            & F.coalesce(is_uturn, F.lit(False))
            & (F.col("n_via_distinct") < F.col("n_via")),
        ),
        (
            "multiple_via",
            (F.col("n_via") > 1) & ~F.coalesce(is_uturn, F.lit(False)),
        ),
        (
            "via_equals_from",
            (F.col("n_via") > 0) & (F.col("n_via_eq_from") > 0),
        ),
        (
            "via_equals_to",
            (F.col("n_via") > 0) & (F.col("n_via_eq_to") > 0),
        ),
    ]
    fired = F.filter(
        F.array(*[F.when(cond, F.lit(name)) for name, cond in role_rules]),
        lambda x: x.isNotNull(),
    )
    mk = truncate(mk.withColumn("role_issues", fired))
    issues.append(
        mk.filter(F.size("role_issues") > 0).select(
            "relation_id",
            F.explode("role_issues").alias("issue"),
            F.lit("").alias("detail"),
        )
    )

    # ---- connectivity (role-valid relations only) ---------------------
    ok = mk.filter(F.size("role_issues") == 0).select(
        "relation_id", "kind", "from_ref", "to_ref", "via_node_ref", "n_via", "n_via_node"
    )
    wends = ways.select(
        F.col("id").alias("ref"),
        F.element_at("node_ids", 1).alias("w_first"),
        F.element_at("node_ids", -1).alias("w_last"),
    )
    # ordered chain: FIRST from (order -1), vias by pos, FIRST to (order
    # max) — the reference chains FromMembers[0] / ToMembers[0] (:553-554),
    # relevant when no_entry/no_exit legitimately carry several
    from pyspark.sql import Window

    wspec = Window.partitionBy("relation_id", "cls").orderBy("pos")
    chain_members = (
        members.filter(F.col("cls").isin("from", "to", "via_node", "via_way"))
        .withColumn("rn", F.row_number().over(wspec))
        .filter(F.col("cls").isin("via_node", "via_way") | (F.col("rn") == 1))
    )
    chain_members = chain_members.withColumn(
        "ord",
        F.when(F.col("cls") == "from", F.lit(-1))
        .when(F.col("cls") == "to", F.lit(1_000_000_000))
        .otherwise(F.col("pos")),
    )
    ch = chain_members.join(
        ok.select("relation_id"), "relation_id"
    ).join(wends, "ref", "left")
    links = ch.select(
        "relation_id", "ord",
        F.struct(
            F.col("mtype").alias("t"),
            F.when(F.col("mtype") == "node", F.col("ref")).otherwise(F.col("w_first")).alias("a"),
            F.when(F.col("mtype") == "node", F.col("ref")).otherwise(F.col("w_last")).alias("b"),
        ).alias("link"),
    )
    chains = links.groupBy("relation_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ord", "link"))), lambda s: s["link"]
        ).alias("chain")
    )

    def adj(x, y):
        both_ways = (x["t"] == "way") & (y["t"] == "way")
        share = (
            (x["a"] == y["a"]) | (x["a"] == y["b"]) | (x["b"] == y["a"]) | (x["b"] == y["b"])
        )
        way_node = (x["t"] == "way") & (y["t"] == "node")
        node_way = (x["t"] == "node") & (y["t"] == "way")
        n_in_w = lambda node, w: (node["a"] == w["a"]) | (node["a"] == w["b"])  # noqa: E731
        return (
            F.when(both_ways, share)
            .when(way_node, n_in_w(y, x))
            .when(node_way, n_in_w(x, y))
            .otherwise(F.lit(False))
        )

    idx = F.sequence(F.lit(1), F.size("chain") - 1)
    chained = F.forall(
        F.transform(idx, lambda i: adj(F.element_at("chain", i), F.element_at("chain", i + 1))),
        lambda b: b,
    )
    # an unresolvable way ref yields null endpoints -> fail closed (the
    # reference's all-members-downloaded prefilter makes this unreachable)
    # not_chained issue + pointless-turn join
    chains = truncate(chains.withColumn("chained", F.coalesce(chained, F.lit(False))))
    issues.append(
        _issue(chains.filter(~F.col("chained")), "not_chained", F.lit(""))
    )

    # ---- pointless directional restriction at a 2-way node ------------
    hv = get_value("tags", "highway")
    hways = ways.filter(hv.isin(BRANCHING_HIGHWAY_VALUES)).select(
        F.col("id").alias("way_id"),
        F.element_at("node_ids", 1).alias("w_first"),
        F.element_at("node_ids", -1).alias("w_last"),
        (F.coalesce(get_value("tags", "junction"), F.lit("")) == "roundabout").alias("rb"),
        F.explode(F.array_distinct("node_ids")).alias("node_id"),
    )
    contrib = hways.select(
        "node_id",
        F.when(
            (F.col("node_id") == F.col("w_first")) | (F.col("node_id") == F.col("w_last")),
            F.lit(1),
        )
        .otherwise(F.when(F.col("rb"), F.lit(1)).otherwise(F.lit(2)))
        .alias("c"),
    )
    branching = contrib.groupBy("node_id").agg(F.sum("c").alias("n_branches"))
    cand = (
        ok.filter(
            F.col("kind").isin(DIRECTIONAL_VALUES)
            & (F.col("n_via") == 1) & (F.col("n_via_node") == 1)
        )
        .join(chains.filter(F.col("chained")).select("relation_id"), "relation_id")
        .join(
            branching.withColumnRenamed("node_id", "via_node_ref"),
            "via_node_ref",
            "left",
        )
        .withColumn("n_branches", F.coalesce("n_branches", F.lit(0)))
    )
    issues.append(
        _issue(
            cand.filter(F.col("n_branches") <= 2),
            "pointless_turn",
            F.col("kind"),
        )
    )

    # ---- inter-conflicting / duplicate restrictions --------------------
    # comparable: known kind, exactly 1 from/to, single via NODE, and a
    # default-mode entry present (:643-651)
    has_default = per_rel.filter(F.array_contains("modes", "")).select("relation_id")
    comp = (
        mk.filter(
            (F.col("n_from") == 1) & (F.col("n_to") == 1)
            & (F.col("n_via") == 1) & (F.col("n_via_node") == 1)
            & F.col("kind").isin(KNOWN_RESTRICTION_VALUES)
        )
        .join(has_default, "relation_id")
        .select("relation_id", "from_ref", "via_node_ref", "to_ref", "kind")
    )
    grp = comp.groupBy("from_ref", "via_node_ref", "to_ref").agg(
        F.count(F.lit(1)).alias("n"),
        F.array_sort(F.collect_set("kind")).alias("kinds"),
        F.collect_list(F.struct("relation_id", "kind")).alias("rs"),
    ).filter(F.col("n") > 1)
    conf = grp.filter(F.size("kinds") > 1).select(
        F.explode("rs").alias("r"), F.concat_ws(",", "kinds").alias("detail")
    )
    issues.append(
        conf.select(
            F.col("r.relation_id").alias("relation_id"),
            F.lit("conflicting_restrictions").alias("issue"),
            "detail",
        )
    )
    dup = grp.filter(F.size("kinds") == 1).select(
        F.explode("rs").alias("r"), F.element_at("kinds", 1).alias("detail")
    )
    issues.append(
        dup.select(
            F.col("r.relation_id").alias("relation_id"),
            F.lit("duplicate_restrictions").alias("issue"),
            "detail",
        )
    )

    out = issues[0]
    for d in issues[1:]:
        out = out.unionByName(d)
    return out
