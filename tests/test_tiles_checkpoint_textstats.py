import math
import shutil
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from osmalyzer_spark.checkpoint import CheckpointedRun
from osmalyzer_spark.geo.polygon import Polygon
from osmalyzer_spark.operators.textstats import text_stats
from osmalyzer_spark.operators.tiles import assign_tiles, tile_stats


def slippy(lat, lon, z):
    n = 1 << z
    x = int((lon + 180.0) / 360.0 * n)
    y = int((1.0 - math.log(math.tan(math.radians(lat)) + 1 / math.cos(math.radians(lat))) / math.pi) / 2.0 * n)
    return x, y


def test_tile_assignment_matches_slippy_formula(spark):
    pts = [(i, 55.6 + i * 0.17, 20.9 + i * 0.5) for i in range(15)]
    df = spark.createDataFrame(pts, "id int, lat double, lon double")
    got = assign_tiles(df, zoom=12).collect()
    for r in got:
        x, y = slippy(r["lat"], r["lon"], 12)
        assert (r["tile_x"], r["tile_y"]) == (x, y)
        assert r["tile_id"] == (12 << 58) + (x << 29) + y


def test_tile_region_tagging_and_stats(spark):
    box = Polygon(outers=[np.array([(56.0, 23.0), (56.0, 25.0), (58.0, 25.0), (58.0, 23.0)])], polygon_id="riga_box")
    pts = [(1, 56.9, 24.1), (2, 56.95, 24.12), (3, 57.5, 21.5)]
    df = spark.createDataFrame(pts, "id int, lat double, lon double")
    tagged = assign_tiles(df, zoom=10, polygons=[box])
    rows = {r["id"]: r["region"] for r in tagged.collect()}
    assert rows == {1: "riga_box", 2: "riga_box", 3: None}
    stats = tile_stats(tagged)
    assert stats.agg(F.sum("n_rows")).first()[0] == 3


def test_textstats(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog in a field"),
            (2, "der hund und die katze ist ein tier mit fell"),
            (3, "x" * 5),
            (4, "the quick brown fox jumps over the lazy dog in a field"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in text_stats(df, "doc_id", "text").collect()}
    assert got[1]["lang_guess"] == "en"
    assert got[2]["lang_guess"] == "de"
    assert got[3]["lang_guess"] == "other"
    assert got[1]["n_tokens_ws"] == 12
    assert got[1]["stop_ratio"] == pytest.approx(4 / 12, abs=1e-3)
    assert got[1]["quality"] > got[3]["quality"]
    # order-sensitive fingerprint: identical docs equal, different differ
    assert got[1]["fingerprint"] == got[4]["fingerprint"]
    assert got[1]["fingerprint"] != got[2]["fingerprint"]


def test_bpe_token_count(spark):
    from osmalyzer_spark.operators.textstats import token_count_bpe

    df = spark.createDataFrame([(1, "hello, world42! foo-bar")], "id int, text string")
    n = df.select(token_count_bpe("text").alias("n")).first()["n"]
    # hello , world 42 ! foo - bar -> 8 pieces
    assert n == 8


@pytest.fixture()
def tmp_out():
    d = tempfile.mkdtemp(prefix="ckpt_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _inp(spark):
    return spark.range(0, 1000).select(
        F.col("id"), (F.col("id") * 3 % 97).alias("val")
    )


def _process(df):
    return df.withColumn("out_val", F.col("val") * 2)


def _crash_progress(mp, commits_before=0):
    """Make `_write_progress` raise after `commits_before` real commits:
    the data-written, progress-missing crash window."""
    real = CheckpointedRun._write_progress
    calls = []

    def write_progress(self, spark, rows):
        calls.append(rows)
        if len(calls) > commits_before:
            raise RuntimeError("simulated crash after data, before progress")
        real(self, spark, rows)

    mp.setattr(CheckpointedRun, "_write_progress", write_progress)


def test_checkpoint_complete_run(spark, tmp_out):
    """`run` calls `process` once per bucket with exactly that bucket's
    rows, and commits one progress record per batch of buckets."""
    import os
    from functools import reduce

    expr = F.pmod(F.xxhash64("id"), F.lit(8))
    calls = []

    def process(df):
        calls.append(df)
        return _process(df)

    ck = CheckpointedRun(tmp_out, run_id="r1", n_buckets=8, buckets_per_batch=4)
    out = ck.run(spark, _inp(spark), process, bucket_expr=expr)
    assert out.count() == 1000
    assert len(calls) == 8
    assert all("__bucket" not in df.columns for df in calls)
    # per call: the set of bucket ids its rows hash to, and its row count
    seen = reduce(
        lambda a, b: a.unionByName(b),
        [df.select(F.lit(i).alias("call"), expr.alias("b")) for i, df in enumerate(calls)],
    ).groupBy("call").agg(F.collect_set("b").alias("bs"), F.count(F.lit(1)).alias("n"))
    want = dict(_inp(spark).groupBy(expr.alias("b")).count().collect())
    got = {r["bs"][0]: r["n"] for r in seen.collect() if len(r["bs"]) == 1}
    assert got == want and len(want) == 8
    records = [f for f in os.listdir(os.path.join(tmp_out, "_progress")) if f.startswith("part-")]
    assert len(records) == 2
    m = ck.metrics(spark)
    assert m.count() == 8
    assert m.agg(F.sum("rows_in")).first()[0] == 1000
    assert m.agg(F.sum("rows_out")).first()[0] == 1000


def test_checkpoint_resume_after_crash(spark, tmp_out):
    ck = CheckpointedRun(tmp_out, run_id="r2", n_buckets=8, buckets_per_batch=2)
    with pytest.raises(RuntimeError, match="simulated crash"):
        ck.run(
            spark,
            _inp(spark),
            _process,
            bucket_expr=F.pmod(F.xxhash64("id"), F.lit(8)),
            fail_after_batches=2,
        )
    done_before = ck.done_buckets(spark)
    assert len(done_before) == 4  # 2 batches x 2 buckets
    # resume: completes only the remaining buckets
    out = ck.run(spark, _inp(spark), _process, bucket_expr=F.pmod(F.xxhash64("id"), F.lit(8)))
    assert out.count() == 1000
    assert sorted(out.select("id").toPandas()["id"]) == list(range(1000))
    assert len(ck.done_buckets(spark)) == 8
    # resumed output identical to a fresh one-shot run
    fresh = _process(_inp(spark))
    assert out.select("id", "val", "out_val").exceptAll(fresh).count() == 0
    assert fresh.exceptAll(out.select("id", "val", "out_val")).count() == 0


def test_checkpoint_crash_between_data_and_progress_no_duplicates(spark, tmp_out):
    """The dangerous window: a batch's bucket DATA is on disk but its
    progress rows are not. The resume must REPLACE those partitions
    (dynamic overwrite), not append a second copy."""
    ck = CheckpointedRun(tmp_out, run_id="r3", n_buckets=8, buckets_per_batch=2)
    expr = F.pmod(F.xxhash64("id"), F.lit(8))
    with pytest.MonkeyPatch.context() as mp, pytest.raises(RuntimeError, match="before progress"):
        _crash_progress(mp, commits_before=1)
        ck.run(spark, _inp(spark), _process, bucket_expr=expr)
    # batch 0 fully committed; batch 1's data written but unacknowledged
    assert len(ck.done_buckets(spark)) == 2
    out = ck.run(spark, _inp(spark), _process, bucket_expr=expr)
    assert out.count() == 1000  # exactly — no duplicate-append
    assert sorted(out.select("id").toPandas()["id"]) == list(range(1000))


def test_checkpoint_single_pass(spark, tmp_out):
    """The scale path: every pending bucket computed + written in one
    shuffle-partitioned job, with per-bucket lineage still recorded."""
    ck = CheckpointedRun(tmp_out, run_id="sp1", n_buckets=8)
    expr = F.pmod(F.xxhash64("id"), F.lit(8))
    out = ck.run_single_pass(spark, _inp(spark), _process, bucket_expr=expr)
    assert out.count() == 1000
    m = ck.metrics(spark)
    assert m.count() == 8
    assert m.agg(F.sum("rows_in")).first()[0] == 1000
    assert m.agg(F.sum("rows_out")).first()[0] == 1000


def test_checkpoint_single_pass_crash_window_resume(spark, tmp_out):
    """Crash after the single-pass data write, before progress: resume
    rewrites every unacknowledged bucket; counts stay exact."""
    ck = CheckpointedRun(tmp_out, run_id="sp2", n_buckets=8)
    expr = F.pmod(F.xxhash64("id"), F.lit(8))
    with pytest.MonkeyPatch.context() as mp, pytest.raises(RuntimeError, match="before progress"):
        _crash_progress(mp)
        ck.run_single_pass(spark, _inp(spark), _process, bucket_expr=expr)
    assert len(ck.done_buckets(spark)) == 0
    out = ck.run_single_pass(spark, _inp(spark), _process, bucket_expr=expr)
    assert out.count() == 1000
    assert sorted(out.select("id").toPandas()["id"]) == list(range(1000))
    fresh = _process(_inp(spark).withColumn("__bucket", expr.cast("int"))).drop("__bucket")
    assert out.exceptAll(fresh).count() == 0 and fresh.exceptAll(out).count() == 0


def test_checkpoint_leaves_session_overwrite_mode(spark, tmp_out):
    """Dynamic partition overwrite is an option of the checkpoint data
    write, not a session setting: `run_single_pass` and `run` leave the
    session value as it was, and a `stage_bucketed` after them still
    replaces its whole directory, dropping a partition its input lacks."""
    import os

    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    expr = F.pmod(F.xxhash64("id"), F.lit(8))
    sp = CheckpointedRun(os.path.join(tmp_out, "sp"), run_id="ow1", n_buckets=8)
    sp.run_single_pass(spark, _inp(spark), _process, bucket_expr=expr)
    assert spark.conf.get(key) == before
    ck = CheckpointedRun(tmp_out, run_id="ow2", n_buckets=8, buckets_per_batch=8)
    ck.run(spark, _inp(spark), _process, bucket_expr=expr)
    assert spark.conf.get(key) == before

    # an unmarked staging directory holding a partition the input lacks
    path = os.path.join(tmp_out, "staged", "ow2", "side")
    spark.range(3).withColumn("__cbucket", F.lit(5)).write.partitionBy("__cbucket").parquet(path)
    df = spark.range(4).withColumn("__cbucket", (F.col("id") % 2).cast("int"))
    assert ck.stage_bucketed(spark, df, "side").count() == 4
    assert "__cbucket=5" not in os.listdir(path)


def _garble(path):
    """Overwrite the record at `path` (a file, or every visible file under
    a directory) with bytes no reader parses, and drop the checksum
    sidecars so the parse, not a checksum, is what fails."""
    import os

    if os.path.isfile(path):
        files = [path]
    else:
        files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs]
    for f in files:
        name = os.path.basename(f)
        if f == path or not name.startswith((".", "_")):
            crc = os.path.join(os.path.dirname(f), f".{name}.crc")
            if os.path.exists(crc):
                os.remove(crc)
            with open(f, "wb") as fh:
                fh.write(b"\x00not a checkpoint record\xff")


def test_checkpoint_unreadable_metadata_raises(spark, tmp_out):
    """A progress record or a staging marker that exists but cannot be
    read must fail loudly: read as "absent", every bucket would be
    recomputed (duplicating its lineage rows) or the staging rebuilt."""
    import os

    ck = CheckpointedRun(tmp_out, run_id="um1", n_buckets=2)
    ck._write_progress(spark, [("um1", 0, 1, 1, 5, "", 0.0)])
    assert ck.done_buckets(spark) == {0}
    _garble(os.path.join(tmp_out, "_progress"))
    with pytest.raises(Exception):
        ck.done_buckets(spark)

    df = spark.range(4).withColumn("__cbucket", (F.col("id") % 2).cast("int"))
    ck.stage_bucketed(spark, df, "side")
    _garble(os.path.join(tmp_out, "staged", "um1", "side", "_STAGED"))
    with pytest.raises(Exception):
        ck.stage_bucketed(spark, df, "side")


def test_checkpoint_metadata_starts_no_spark_job(spark, tmp_out):
    """Progress probes, marker IO and the schema-given read-backs run on
    the driver through the Hadoop FileSystem: none starts a Spark job, on
    a fresh checkpoint or on a written one."""
    import os

    from osmalyzer_spark.checkpoint import _read_value, _write_value

    sc = spark.sparkContext
    ck = CheckpointedRun(tmp_out, run_id="nj1", n_buckets=2)
    marker = os.path.join(tmp_out, "_marker")
    try:
        sc.setJobGroup("ckpt-fresh", "metadata on a fresh checkpoint")
        assert ck.done_buckets(spark) == set()
        assert ck.staged(spark, "side") is None
        assert _read_value(spark, marker) is None
        _write_value(spark, "m", marker)

        sc.setJobGroup("ckpt-write", "writes the checkpoint")
        ck.run_single_pass(spark, _inp(spark), _process, bucket_expr=F.pmod(F.col("id"), F.lit(2)))
        df = spark.range(4).withColumn("__cbucket", (F.col("id") % 2).cast("int"))
        ck.stage_bucketed(spark, df, "side")

        sc.setJobGroup("ckpt-written", "metadata on a written checkpoint")
        assert ck.done_buckets(spark) == {0, 1}
        assert _read_value(spark, marker) == "m"
        _write_value(spark, "m2", marker + "2")
        ck.metrics(spark)
        ck._read_data(spark)
        ck.staged(spark, "side")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    assert tracker.getJobIdsForGroup("ckpt-write")  # the guard sees jobs
    assert tracker.getJobIdsForGroup("ckpt-fresh") == []
    assert tracker.getJobIdsForGroup("ckpt-written") == []


def test_checkpoint_corrupt_data_raises(spark, tmp_out):
    """A data directory that exists but cannot be read must fail loudly:
    reading it as "no rows" would drop buckets the progress table calls
    done."""
    import os

    ck = CheckpointedRun(tmp_out, run_id="cd1", n_buckets=1)
    ck.run_single_pass(spark, _inp(spark), _process, bucket_expr=F.lit(0))
    data = os.path.join(tmp_out, "data")
    parts = [
        os.path.join(d, f)
        for d, _, fs in os.walk(data)
        for f in fs
        if f.startswith("part-")
    ]
    assert len(parts) == 1, parts
    with open(parts[0], "r+b") as fh:
        fh.truncate(os.path.getsize(parts[0]) // 2)
    with pytest.raises(Exception):
        ck.run_single_pass(
            spark, _inp(spark), _process, bucket_expr=F.lit(0)
        ).collect()
