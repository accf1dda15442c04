"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]``; the same configs are what we would
submit cluster-side (spark-submit --py-files). AQE is on so skewed cell
joins re-plan at runtime; Arrow is on for the pandas-UDF slow path.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "osmalyzer_spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    parallelism: local core count (``local[N]``); defaults to
    $SPARK_GRAFT_CPUS or 32. shuffle_partitions defaults to the
    parallelism level — at cluster scale this would be sized from input
    volume (targeting ~128-256 MB per shuffle partition), which AQE's
    coalescing then trims.
    """
    cpus = parallelism or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # image-bytes rows are fat: keep Arrow batches small enough that a
        # batch of decoded payloads stays well under executor memory
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def data_partitions(n_rows: int) -> int:
    """A partition count proportional to `n_rows` (~250k rows each,
    4..4096). Iterative jobs (DA rounds, star CC rounds) size their
    partitioning from the data, not the cluster: with cluster-sized
    shuffle partitioning their fixed round counts cost more wall on more
    cores (VERDICT r4 item 4 measured 2->8-core anti-scaling), while a
    data-proportional count keeps every round's plan identical at N and
    4N executors."""
    return max(4, min(4096, -(-n_rows // 250_000)))


@contextmanager
def shuffle_partitions(spark: SparkSession, n: int):
    """Pin `spark.sql.shuffle.partitions` to `n` for the block and
    restore the session's value afterwards."""
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
