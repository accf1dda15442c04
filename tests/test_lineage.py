"""lineage.truncate: size estimates stay bounded across iterative
truncations, and the truncated plan keeps the checkpoint's partitioning."""

from pyspark.sql import functions as F

from osmalyzer_spark.lineage import truncate

LONG_MAX = 2**63 - 1


def _size(df) -> int:
    return df._jdf.queryExecution().analyzed().stats().sizeInBytes()


def test_truncate_caps_size_estimate_in_join_loop(spark):
    """The deferred-acceptance shape: join the truncated state with the
    candidates, truncate the winners, join them back and truncate the new
    state. Catalyst multiplies join inputs' sizes, so with plain
    checkpoints the state's estimate squares every iteration (~7,400
    digits by iteration 16, and planning slows to seconds per step)."""
    cand = spark.range(400).select(
        (F.col("id") % 40).alias("k"), F.col("id").alias("c")
    )
    state = truncate(
        spark.range(40).select(F.col("id").alias("k"), F.lit(-1).cast("long").alias("c"))
    )
    for _ in range(25):
        winners = truncate(
            state.withColumnRenamed("c", "w")
            .join(cand, "k")
            .filter(F.col("c") > F.col("w"))
            .groupBy("k")
            .agg(F.min("c").alias("c"))
        )
        state = truncate(state.select("k").join(winners, "k"))
        assert _size(state) <= LONG_MAX
    # each of the 40 keys has 10 candidates: the walk ends after 10 steps
    assert state.count() == 0


def test_truncate_keeps_partitioning_when_capping(spark):
    """A hash-partitioned frame whose inherited estimate exceeds the cap
    joins on its key with no more Exchanges than a plain checkpoint of
    it. AQE and broadcasts are off so the plan shows the checkpoint's
    partitioning, not a runtime re-plan."""
    conf = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        x = spark.range(100).select(F.col("id").alias("k"))
        wide = x
        for i in range(7):  # 800-byte leaves: the product passes 2^63
            wide = wide.join(x.withColumnRenamed("k", f"k{i}"), F.col("k") == F.col(f"k{i}"))
        part = wide.repartition(4, "k")
        assert _size(part) > LONG_MAX
        cut = truncate(part)
        assert _size(cut) <= LONG_MAX
        other = spark.range(50).select(F.col("id").alias("k"), F.lit(1).alias("o"))

        def exchanges(df) -> int:
            return df.join(other, "k")._jdf.queryExecution().executedPlan().toString().count(
                "Exchange"
            )

        assert exchanges(cut) <= exchanges(part.localCheckpoint(eager=False)) == 1
        assert cut.join(other, "k").count() == 50
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
