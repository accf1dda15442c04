"""Resumable per-cell-partition execution with lineage + row-count metrics.

The north rule requires runs to be resumable from per-cell-partition
checkpoints. Design (SURVEY §2.9): the input is hashed into `n_buckets`
cell buckets (pmod over the spatial cell id, so a bucket is a stable
geographic slice); output rows land in `<out>/data/` partitioned by
`__bucket`, and one progress row per finished bucket lands in
`<out>/_progress/` (a JSON-lines file per committed batch):

  (run_id, bucket, rows_in, rows_out, wall_ms, input_snapshot, batch_ts)

A resumed run (same run_id + output dir) reads the progress table and
skips done buckets — only unfinished slices recompute. The progress
table doubles as the lineage record: which snapshot produced which
bucket, with row counts in/out.

Metadata (progress records, the `_schema` record, `_STAGED` markers) is
small files handled on the driver through the path's Hadoop FileSystem:
`exists()` alone decides that a record is absent, a record is written as
a hidden temp file plus a rename, and every other error propagates —
a record that exists but cannot be read fails the run instead of
passing for "nothing done yet". None of it starts a Spark job, and the
data read-backs are given their recorded schema, so no read infers one.

Crash safety: the checkpoint data write is a DYNAMIC partition overwrite
(`.option("partitionOverwriteMode", "dynamic")` + mode("overwrite") on
that one write; the session setting is left alone), so a bucket whose
data landed but whose progress row did not is simply REPLACED on the
rerun — resume never duplicates rows, no matter where the crash fell
(verified by the crash-between-data-and-progress tests).

One commit path: `run_single_pass` is the only code that writes
checkpoint data, observes rows_out, counts rows_in and writes progress.
ONE job computes and writes every pending bucket, shuffle-partitioned
by `__bucket`; that requires `process` to be bucket-distributive
(row-local, or grouping only within keys that never straddle buckets —
true for any per-cell operator, since buckets are unions of cells).

`run` adapts that path to operators that must see exactly one bucket
per call — e.g. the correlator's one-task matching of one giant
component: it commits the pending buckets in batches of
`buckets_per_batch`, one `run_single_pass` per batch, whose `process`
calls the caller's once per bucket of the batch and unions the outputs.
Each call filters the input to one bucket; at scale the input must be
stored pre-partitioned by the bucket key (`stage_bucketed`) so each
filter is a partition-pruned read, not a full scan.

This is deliberately a batch driver, not Structured Streaming — the
reference is a daily batch job (its dated-cache incrementality,
Osmalyzer/Data/AnalysisData.cs:102-191, is file-level resume; this is
the distributed analog at cell granularity).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass
from functools import partial, reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

PROGRESS_SCHEMA = (
    "run_id string, bucket int, rows_in long, rows_out long, "
    "wall_ms long, input_snapshot string, batch_ts double"
)
_PROGRESS_COLUMNS = [c.split()[0] for c in PROGRESS_SCHEMA.split(", ")]
# the bucket column `stage_bucketed` partitions a staged table by
_STAGE_BUCKET = "__cbucket"


def _fs_path(spark: SparkSession, path: str):
    """The Hadoop FileSystem of `path` and its Path. Checkpoint metadata
    goes through it on the driver: it holds on any Hadoop filesystem
    (hdfs://, s3a://, ...) and starts no Spark job."""
    p = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), p


def _hidden(name: str) -> bool:
    """Spark's file-index rule for names its readers skip: a leading '.',
    or a leading '_' without '=' (`__bucket=3` is a partition directory,
    `_SUCCESS` is metadata)."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _write_value(spark: SparkSession, value: str, path: str) -> None:
    """Write a small text record (marker, schema, progress) atomically: a
    hidden temp file next to `path`, then a rename, so a reader sees the
    whole record or none. Each record is written once; a failed rename
    (HDFS refuses one onto an existing path) raises."""
    fs, dst = _fs_path(spark, path)
    tmp = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(
        dst.getParent(), f".{dst.getName()}.{uuid.uuid4().hex}.tmp"
    )
    out = fs.create(tmp, False)
    try:
        out.write(value.encode())
    finally:
        out.close()
    if not fs.rename(tmp, dst):
        fs.delete(tmp, False)
        raise OSError(f"could not move the record {tmp} to {path}")


def _read_value(spark: SparkSession, path: str) -> str | None:
    """Read back a `_write_value` record; None only if `path` does not
    exist. Every other error propagates."""
    fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return bytes(stream.readAllBytes()).decode()
    finally:
        stream.close()


def _has_data_files(spark: SparkSession, path: str) -> bool:
    """Whether `path` exists and holds a file the parquet reader would
    read (no name component hidden by `_hidden`)."""
    fs, root = _fs_path(spark, path)
    if not fs.exists(root):
        return False
    prefix = fs.makeQualified(root).toUri().getPath().rstrip("/") + "/"
    files = fs.listFiles(root, True)
    while files.hasNext():
        rel = files.next().getPath().toUri().getPath()[len(prefix):]
        if not any(_hidden(part) for part in rel.split("/")):
            return True
    return False


@dataclass
class CheckpointedRun:
    out_path: str
    run_id: str
    n_buckets: int = 64
    buckets_per_batch: int = 16

    @property
    def _data_path(self) -> str:
        return os.path.join(self.out_path, "data")

    @property
    def _progress_path(self) -> str:
        return os.path.join(self.out_path, "_progress")

    def _progress_rows(self, spark: SparkSession) -> list[dict]:
        """Every progress record of this run, parsed on the driver. A
        record that does not parse raises: reading it as "no bucket done"
        would recompute every bucket and duplicate its lineage rows."""
        fs, root = _fs_path(spark, self._progress_path)
        if not fs.exists(root):
            return []
        rows = []
        for st in fs.listStatus(root):
            if st.isFile() and not _hidden(st.getPath().getName()):
                text = _read_value(spark, st.getPath().toString())
                rows += [json.loads(line) for line in text.splitlines() if line]
        return [r for r in rows if r["run_id"] == self.run_id]

    def done_buckets(self, spark: SparkSession) -> set[int]:
        return {int(r["bucket"]) for r in self._progress_rows(spark)}

    def _write_progress(self, spark: SparkSession, rows: list[tuple]) -> None:
        # one JSON-lines file per call; the unique name makes it an append
        lines = "".join(
            json.dumps(dict(zip(_PROGRESS_COLUMNS, r))) + "\n" for r in rows
        )
        _write_value(
            spark, lines,
            os.path.join(self._progress_path, f"part-{uuid.uuid4().hex}.json"),
        )

    @property
    def _schema_path(self) -> str:
        return os.path.join(self.out_path, "_schema")

    def _write_schema_once(self, spark: SparkSession, df: DataFrame) -> None:
        """Record the output schema so empty runs (zero output rows => a
        partitioned parquet write creates NO files) still yield a typed
        empty result instead of an unreadable directory, and so the data
        read-back is given its schema instead of inferring it (a job)."""
        fs, p = _fs_path(spark, self._schema_path)
        if not fs.exists(p):
            _write_value(spark, df.schema.json(), self._schema_path)

    def _read_data(self, spark: SparkSession) -> DataFrame:
        text = _read_value(spark, self._schema_path)
        if text is None:
            raise FileNotFoundError(
                f"checkpoint {self.out_path} has no output schema record"
            )
        schema = StructType.fromJson(json.loads(text))
        # only a missing or empty data directory means "zero rows ever
        # written"; an unreadable one must fail, not read as no rows
        if _has_data_files(spark, self._data_path):
            return spark.read.schema(schema).parquet(self._data_path)
        return spark.createDataFrame([], schema)

    def _result(self, spark: SparkSession) -> DataFrame:
        # only buckets with a progress row are part of the result: a data
        # partition without progress is a crashed remnant that will be
        # overwritten on the next resume, not output
        done = sorted(self.done_buckets(spark))
        return (
            self._read_data(spark)
            .filter(F.col("__bucket").isin(done))
            .drop("__bucket")
        )

    def _staging_path(self, name: str) -> str:
        return os.path.join(self.out_path, "staged", self.run_id, name)

    def staged(
        self,
        spark: SparkSession,
        name: str,
        fingerprint: str = "",
        schema: StructType | None = None,
    ) -> tuple[DataFrame, dict] | None:
        """A finished `stage_bucketed` table of this run, read back with
        its recorded schema, and the `info` recorded with it; None if
        `name` is not staged yet. Raises ValueError if the `_STAGED`
        marker was written for another fingerprint (or, when `schema` is
        given, another schema); a marker that does not parse raises too.
        """
        path = self._staging_path(name)
        text = _read_value(spark, os.path.join(path, "_STAGED"))
        if text is None:
            return None
        marker = json.loads(text)
        recorded = StructType.fromJson(json.loads(marker["schema"]))
        got = (marker["run_id"], marker["fingerprint"], recorded.simpleString())
        want = (
            self.run_id,
            fingerprint,
            recorded.simpleString() if schema is None else schema.simpleString(),
        )
        if got != want:
            raise ValueError(
                f"staged input {name!r} at {path} was built from a different "
                f"input (marker {got} != expected {want}); resume with the "
                "original input, or start a fresh run_id / out_path"
            )
        out = spark.read.schema(recorded).parquet(path)
        # a generic bucket column may be wider than int; a cast of a
        # partition column still partition-prunes
        return out.withColumn(_STAGE_BUCKET, F.col(_STAGE_BUCKET).cast("int")), marker["info"]

    def stage_bucketed(
        self,
        spark: SparkSession,
        df: DataFrame,
        name: str,
        fingerprint: str = "",
        info: dict | None = None,
    ) -> DataFrame:
        """Persist a bucketed input partitioned by its `__cbucket` column
        and read it back, so every downstream `filter(__cbucket == b)` is a
        PARTITION-PRUNED read of one directory — not a rescan of the whole
        input (the scale requirement `run`'s docstring demands; this
        method is how the engine itself satisfies it).

        Idempotent per (out_path, run_id, name): a resume of the SAME run
        reuses the staging — the bucket layout is deterministic given the
        same input. The `_STAGED` marker is a small JSON file written
        after the data, through the path's Hadoop FileSystem (so the
        checkpoint dir may live on hdfs://, s3a://, ...). It records
        (run_id, fingerprint, schema) plus the caller's `info`; a reuse
        whose marker disagrees RAISES instead of silently correlating
        against stale staged data (a new run against the same out_path
        gets a new run_id and therefore a fresh staging directory). Pass
        `fingerprint` (e.g. the input snapshot id) to strengthen the check
        beyond the schema. `staged` reads a finished staging back without
        the input frame.
        """
        hit = self.staged(spark, name, fingerprint, df.schema)
        if hit is not None:
            return hit[0]
        path = self._staging_path(name)
        (
            df.repartition(F.col(_STAGE_BUCKET))
            .write.mode("overwrite")
            .partitionBy(_STAGE_BUCKET)
            .parquet(path)
        )
        # our own completion marker, written after the data: unlike
        # Hadoop's _SUCCESS it records what the staging was built from,
        # which `staged` checks on reuse. An underscore-prefixed name is
        # invisible to the parquet reader, so it can live in the staged dir.
        marker = {
            "run_id": self.run_id,
            "fingerprint": fingerprint,
            "schema": df.schema.json(),
            "info": info or {},
        }
        _write_value(spark, json.dumps(marker, sort_keys=True), os.path.join(path, "_STAGED"))
        return self.staged(spark, name, fingerprint, df.schema)[0]

    def _pending(self, spark: SparkSession, buckets: list[int] | None) -> list[int]:
        universe = range(self.n_buckets) if buckets is None else buckets
        done = self.done_buckets(spark)
        return [b for b in universe if b not in done]

    def run_single_pass(
        self,
        spark: SparkSession,
        inp: DataFrame,
        process: Callable[[DataFrame], DataFrame],
        bucket_expr,
        input_snapshot: str = "",
        buckets: list[int] | None = None,
    ) -> DataFrame:
        """Compute, write and commit EVERY pending bucket in one job — the
        one commit path (`run` calls it once per batch).

        `process` receives the pending slice of the input with its
        `__bucket` column attached and must preserve that column on its
        output rows (row-local operators keep it for free; grouped
        operators include it in their grouping keys — cells never
        straddle buckets, so this does not change semantics).

        One input scan for the output write, with rows_out observed on
        it, plus one column-pruned scan for the rows_in lineage counts;
        then ONE progress record commits every pending bucket. `buckets`
        restricts the pass to an explicit bucket-id list (default:
        range(n_buckets)) — used when a run splits bucket ids between a
        single-pass phase and a per-bucket phase.

        Returns the complete output DataFrame (all buckets of run_id).
        """
        inp = inp.withColumn("__bucket", bucket_expr.cast("int"))
        pending = self._pending(spark, buckets)
        if pending:
            t0 = time.time()
            slice_df = inp.filter(F.col("__bucket").isin(pending))
            produced = process(slice_df)
            if "__bucket" not in produced.columns:
                raise ValueError(
                    "single-pass process() must preserve the __bucket column"
                )
            self._write_schema_once(spark, produced)
            # rows_out rides the write job as observed metrics instead of
            # re-reading everything just written (an O(output) extra scan
            # at scale; 3 extra driver jobs here). `produced` has exactly
            # one consumer (the write), so CollectMetrics counts each row
            # once; per-bucket conditional sums are cheap next to the
            # parquet encode they replace a decode of. Guarded to a sane
            # expression width — a wider pending set falls back to the
            # post-write aggregation.
            obs_out = None
            if len(pending) <= 512:
                from pyspark.sql import Observation

                obs_out = Observation()
                produced = produced.observe(
                    obs_out,
                    *[
                        F.sum(
                            F.when(F.col("__bucket") == int(b), 1).otherwise(0)
                        ).alias(f"b{int(b)}")
                        for b in pending
                    ],
                )
            # dynamic overwrite replaces only the partitions written, so
            # redoing a bucket after a crash is idempotent
            (
                produced.repartition("__bucket")
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("__bucket")
                .parquet(self._data_path)
            )
            # rows_in lineage: column-pruned aggregation, not a full rescan
            # (cannot be observed: process() may consume the slice through
            # several union branches, which would multi-count the metric)
            rows_in = {
                r["__bucket"]: r["n"]
                for r in slice_df.groupBy("__bucket").agg(F.count(F.lit(1)).alias("n")).collect()
            }
            vals = None
            if obs_out is not None:
                try:
                    vals = obs_out.get
                except Exception:  # noqa: BLE001 — an all-empty write
                    # produces no metrics row (observed empirically):
                    # fall back to the read-back count, which is then a
                    # scan of nothing
                    vals = None
            if vals is not None:
                rows_out = {
                    b: int(vals[f"b{int(b)}"] or 0) for b in pending
                }
            else:
                rows_out = {
                    r["__bucket"]: r["n"]
                    for r in self._read_data(spark)
                    .filter(F.col("__bucket").isin(pending))
                    .groupBy("__bucket")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                }
            wall = int((time.time() - t0) * 1000)
            now = time.time()
            self._write_progress(
                spark,
                [
                    (
                        self.run_id,
                        int(b),
                        int(rows_in.get(b, 0)),
                        int(rows_out.get(b, 0)),
                        wall,
                        input_snapshot,
                        now,
                    )
                    for b in pending
                ],
            )
        return self._result(spark)

    def run(
        self,
        spark: SparkSession,
        inp: DataFrame,
        process: Callable[[DataFrame], DataFrame],
        bucket_expr,
        input_snapshot: str = "",
        fail_after_batches: int | None = None,
        buckets: list[int] | None = None,
    ) -> DataFrame:
        """Process `inp` ONE BUCKET PER `process` CALL, in resumable batches.

        bucket_expr: Column -> int bucket in [0, n_buckets) — usually
        pmod(cell_id or xxhash64(id), n_buckets). `process` maps one
        bucket's rows (no `__bucket` column; it is attached here) to its
        output. The pending buckets are committed in batches of
        `buckets_per_batch`: each batch is one `run_single_pass` whose
        process filters the slice to each bucket of the batch, calls
        `process` on it and unions the outputs — one write and one
        progress record per batch. At scale, store the input
        pre-partitioned by the bucket key (`stage_bucketed`) so each
        per-bucket filter is a pruned read — otherwise every `process`
        call scans the input.

        `fail_after_batches=k` simulates a crash before batch k.

        Returns the complete output DataFrame (all buckets of run_id).
        """

        def per_bucket(batch: list[int], sl: DataFrame) -> DataFrame:
            return reduce(
                DataFrame.unionByName,
                [
                    process(sl.filter(F.col("__bucket") == b).drop("__bucket"))
                    .withColumn("__bucket", F.lit(int(b)))
                    for b in batch
                ],
            )

        pending = self._pending(spark, buckets)
        step = self.buckets_per_batch
        for bi, i in enumerate(range(0, len(pending), step)):
            if fail_after_batches is not None and bi >= fail_after_batches:
                raise RuntimeError(f"simulated crash before batch {bi}")
            batch = pending[i : i + step]
            self.run_single_pass(
                spark, inp, partial(per_bucket, batch), bucket_expr,
                input_snapshot, buckets=batch,
            )
        return self._result(spark)

    def metrics(self, spark: SparkSession) -> DataFrame:
        """The lineage/metrics table for this run, one row per progress
        record, parsed on the driver by `_progress_rows`."""
        return spark.createDataFrame(
            [tuple(r.get(c) for c in _PROGRESS_COLUMNS) for r in self._progress_rows(spark)],
            PROGRESS_SCHEMA,
        )
