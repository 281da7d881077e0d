"""Plan-only helpers: questions a kernel asks of a DataFrame while it is
still composing, answered without running a Spark job.

Composition should only build a plan: a pipeline author pays every
job launched before the action as fixed latency, and at scale an eager
job re-reads the input. Two PySpark idioms break that under AQE,
because an adaptive plan's ``execute()`` runs every upstream query
stage:

* ``df.rdd.getNumPartitions()`` — :func:`plan_partitions` reads the
  count from the physical plan instead;
* ``df.localCheckpoint(eager=False)`` — not lazy under AQE (it executes
  the plan to get the RDD it marks); :func:`lazy_checkpoint` gives the
  same cut point, materialized at the first action.

Both reach the JVM plan through py4j, so they need a classic (non-
Connect) session, as ``.rdd`` and ``localCheckpoint`` already did.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame


def _initial(plan):
    """Under an adaptive root, AQE's initial plan: its exchanges are
    planned, and no query stage has run."""
    return plan.executedPlan() if plan.nodeName() == "AdaptiveSparkPlan" else plan


def _partitions(plan) -> int:
    """Output partition count of a JVM physical plan, read from the
    plan alone: an exchange or other partitioned node states its count;
    a scan leaf reports its split count, which the driver computes
    from the file listing without a job. A broadcast join is followed
    down its streamed side, any other node down its first child."""
    n = plan.outputPartitioning().numPartitions()
    if n > 0:
        return n
    kids = plan.children()
    if kids.size() == 0:
        if plan.nodeName() == "InMemoryTableScan":  # cached: ask its plan
            return _partitions(_initial(plan.relation().cachedPlan()))
        return plan.inputRDD().getNumPartitions()
    if plan.nodeName() in ("BroadcastHashJoin", "BroadcastNestedLoopJoin"):
        build_left = plan.buildSide().toString() == "BuildLeft"
        return _partitions(kids.apply(1 if build_left else 0))
    return _partitions(kids.apply(0))


def plan_partitions(df: DataFrame) -> int:
    """The number of partitions ``df`` will be computed in, as planned.

    Under AQE this is the initial plan's count: exchanges state their
    planned partition count before any stage runs (AQE may coalesce
    them later), and no stage is executed to find out.
    """
    return _partitions(_initial(df._jdf.queryExecution().executedPlan()))


def lazy_checkpoint(df: DataFrame) -> DataFrame:
    """A cut point: ``df``'s rows are computed once, by the first action
    that needs them, and every consumer of the returned frame reads
    that copy instead of re-running ``df``'s plan.

    What ``localCheckpoint(eager=False)`` promises, without its
    compose-time job. The copy is an in-memory columnar relation
    (memory and disk, as a local checkpoint) built for this frame only:
    it is not registered with the session's cache, so no other query
    can be answered from it, and its blocks are released when the
    frames holding it are garbage-collected, as a checkpoint's are.
    """
    spark = df.sparkSession
    jvm = spark._jvm
    imr = getattr(
        jvm.org.apache.spark.sql.execution.columnar, "InMemoryRelation$"
    ).__getattr__("MODULE$")
    built = imr.apply(
        jvm.org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK(),
        df._jdf.queryExecution(),
        jvm.scala.Option.empty(),
    )
    # Drop the relation's output ordering: a frame that meets itself
    # (a self-join, two audit branches) is re-instanced with fresh
    # attribute ids, and InMemoryRelation.newInstance keeps the old
    # ordering attributes, which then fail to resolve. The cache
    # manager never re-instances its relations, so only this path
    # needs it.
    relation = imr.apply(
        built.output(),
        built.cacheBuilder(),
        getattr(jvm.scala.collection.immutable, "Nil$").__getattr__("MODULE$"),
        built.statsOfPlanToCache(),
    )
    jdf = jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, relation
    )
    return ClassicDataFrame(jdf, spark)
