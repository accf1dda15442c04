"""Lineage truncation: the engine's one way to cut a query plan.

Iterative operators (deferred-acceptance rounds, star connected-components
rounds) and multi-consumer intermediates truncate their lineage so that
plan depth stays bounded and a subplan is evaluated once. Every such cut
goes through `truncate`.

The cut is a lazy local checkpoint by default: the blocks are written by
the first job that reads the frame, so a truncation followed by its
first action costs no dedicated job.

Size estimates: on Spark 4.1 a checkpoint keeps its source plan's size
estimate (`LogicalRDD.fromDataset` stores it as `originStats`), and
Catalyst estimates an inner join as the product of its inputs' sizes. In
a loop that joins a truncated state with itself, the estimate squares
every round: its decimal length doubles and planning the next round
spends seconds to minutes in BigInteger multiplication. `truncate` caps
an inherited estimate at what a stats-less LogicalRDD reports
(`spark.sql.defaultSizeInBytes`, Long.MaxValue by default). Every
plan-time size decision compares against thresholds far below that, and
AQE re-plans from runtime sizes, so the cap changes no physical plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def truncate(df: DataFrame) -> DataFrame:
    """`df` with its lineage cut by a lazy local checkpoint, keeping the
    output, RDD, partitioning, ordering and constraints, with the
    inherited size estimate capped (module docstring)."""
    spark = df.sparkSession
    jcp = df._jdf.localCheckpoint(False)
    plan = jcp.logicalPlan()
    jss = spark._jsparkSession
    limit = jss.sessionState().conf().defaultSizeInBytes()
    try:
        inherited_fits = plan.stats().sizeInBytes() <= limit
    except ValueError:  # py4j refuses ints past Python's 4300-digit limit
        inherited_fits = False
    if inherited_fits:
        return DataFrame(jcp, spark)
    # py4j hands a Scala BigInt back as a Python int, so the capped
    # Statistics is taken from a stats-less LogicalRDD, not built here
    default = jss.internalCreateDataFrame(plan.rdd(), plan.schema(), False)
    default_stats = default.logicalPlan().stats()
    jvm = spark._jvm
    capped = plan.copy(
        plan.output(),
        plan.rdd(),
        plan.outputPartitioning(),
        plan.outputOrdering(),
        plan.isStreaming(),
        plan.stream(),
        jss,
        jvm.scala.Some(default_stats),
        jvm.scala.Some(plan.constraints()),
    )
    return DataFrame(jvm.org.apache.spark.sql.classic.Dataset.ofRows(jss, capped), spark)
