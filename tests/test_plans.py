"""Physical-plan regression tests — the 100 TB discipline, asserted.

These pin the plan properties that keep the engine viable at scale:
payload columns never reach a spatial-join scan, the small probe side
broadcasts when asked, and top-k candidate ranking uses Spark's map-side
WindowGroupLimit instead of shuffling every candidate pair.
"""

import contextlib
import io

import pytest
from pyspark.sql import functions as F


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def images_path(spark, tmp_path_factory):
    from osmalyzer_spark.datagen import generate_images

    p = str(tmp_path_factory.mktemp("imgparq") / "images")
    generate_images(spark, 500, seed=42).write.parquet(p)
    return p


def test_views_prune_payload_column(spark, images_path):
    """osm_elements_view over a parquet images table must NOT read `bytes`
    (payload-stripping discipline, SURVEY §4 item 6)."""
    from osmalyzer_spark.datagen import osm_elements_view

    view = osm_elements_view(spark.read.parquet(images_path))
    plan = plan_of(view)
    read_schemas = [seg.split("\n")[0] for seg in plan.split("ReadSchema: ")[1:]]
    assert read_schemas, plan
    for rs in read_schemas:
        fields = [f.split(":")[0] for f in rs.strip().removeprefix("struct<").rstrip(">").split(",")]
        assert "bytes" not in fields, f"payload column read by view scan: {rs}"
        assert "w" not in fields and "h" not in fields, f"unused metadata read: {rs}"


def test_radius_join_broadcasts_probe(spark, images_path):
    from osmalyzer_spark.datagen import data_items_view, osm_elements_view
    from osmalyzer_spark.operators.knn import radius_join

    images = spark.read.parquet(images_path)
    pairs = radius_join(
        data_items_view(images),
        osm_elements_view(images).select("elem_id", "elem_lat", "elem_lon"),
        500.0,
        probe_coords=("item_lat", "item_lon"),
        build_coords=("elem_lat", "elem_lon"),
        broadcast_probe=True,
    )
    assert "BroadcastHashJoin" in plan_of(pairs)


def test_closest_join_uses_window_group_limit(spark, images_path):
    """row_number<=k over (partition item, order dist) must compile to
    WindowGroupLimit (map-side top-k) — the shuffle then carries only k
    candidates per item instead of the full candidate set."""
    from osmalyzer_spark.datagen import data_items_view, osm_elements_view
    from osmalyzer_spark.operators.knn import closest_join

    images = spark.read.parquet(images_path)
    top1 = closest_join(
        data_items_view(images),
        osm_elements_view(images).select("elem_id", "elem_lat", "elem_lon"),
        500.0,
        probe_id="item_id",
        build_id="elem_id",
        probe_coords=("item_lat", "item_lon"),
        build_coords=("elem_lat", "elem_lon"),
    )
    assert "WindowGroupLimit" in plan_of(top1)


def test_filter_pushdown_to_parquet(spark, images_path):
    """A tag filter on the view pushes the caption IS NOT NULL part and
    prunes columns; the fmt filter reaches PushedFilters."""
    images = spark.read.parquet(images_path)
    df = images.filter(F.col("fmt") == "png").select("image_id", "phash")
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(fmt), EqualTo(fmt,png)]" in plan, plan


def test_ivf_probe_side_broadcasts(spark):
    """IVF search joins the (small) probe lists via broadcast — no
    shuffle of the candidate side's assignments by join key."""
    import numpy as np

    from osmalyzer_spark.operators.similarity import cosine_topk_ivf

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(64)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = cosine_topk_ivf(emb, emb.filter(F.col("vec_id") < 4), k=2, n_centroids=4, nprobe=2)
    plan = plan_of(out)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def _bucket_join_inputs(df) -> list[list[tuple[str, str]]]:
    """(name, type) columns of each input of every join fed by an explode
    in `df`'s optimized plan: the inputs of its bucket (candidate) joins."""

    def children(node):
        kids = node.children()
        return [kids.apply(i) for i in range(kids.size())]

    def fed_by_explode(node) -> bool:
        while node.nodeName() != "Generate":
            kids = children(node)
            if len(kids) != 1 or node.nodeName() in ("Join", "Aggregate"):
                return False
            node = kids[0]
        return True

    def columns(node):
        out = node.output()
        return [
            (out.apply(i).name(), out.apply(i).dataType().simpleString())
            for i in range(out.size())
        ]

    inputs, todo = [], [df._jdf.queryExecution().optimizedPlan()]
    while todo:
        node = todo.pop()
        kids = children(node)
        if node.nodeName() == "Join" and any(fed_by_explode(k) for k in kids):
            inputs += [columns(k) for k in kids]
        todo += kids
    return inputs


@pytest.fixture(scope="module")
def dedup_tables(spark, tmp_path_factory):
    """documents and embeddings tables with the driver testdata's schema."""
    import numpy as np

    d = tmp_path_factory.mktemp("dedup_tables")
    rng = np.random.default_rng(1)
    spark.createDataFrame(
        [(i, f"w{i % 7} w{i % 5} w{i % 3}") for i in range(30)],
        "doc_id long, text string",
    ).write.parquet(str(d / "documents.parquet"))
    spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=64)], 0) for i in range(30)],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(str(d / "embeddings.parquet"))
    return str(d)


@pytest.mark.parametrize(
    "query", ["q22_simhash", "q23_embedding_near_dup", "q24_cosine_lsh"]
)
def test_bucket_join_ships_ids_and_keys_only(spark, dedup_tables, query):
    """The SimHash band join and the embedding LSH joins shuffle (or
    broadcast) only (id, key) rows: the fingerprint and the embedding are
    re-attached by id after the candidate pairs are deduplicated."""
    from osmalyzer_spark.plans import driver_queries

    inputs = _bucket_join_inputs(getattr(driver_queries, query)(spark, dedup_tables))
    assert inputs
    for cols in inputs:
        assert len(cols) == 2, cols
        assert not any(n == "simhash" or t.startswith("array") for n, t in cols), cols
