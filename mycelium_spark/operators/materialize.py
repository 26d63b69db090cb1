"""Releasing materialization barriers.

A frame read by several consumers re-executes its lineage for each of
them unless it is materialized, either by ``cache()`` or by a lazy
``localCheckpoint(eager=False)``: the first action that reads the frame
executes it once into executor storage and later reads scan those
blocks. (Under adaptive execution, creating the checkpoint already runs
the shuffle stages of its plan; only the last stage waits for that
action.) A local checkpoint also cuts the lineage, so plans built on a
chain of them stay shallow (chained ``cache()`` frames nest each cached
plan in the next, and the plan text Spark renders per query grows with
every level). Spark frees a checkpoint's blocks only when the JVM
garbage-collects its RDD, and a cache's only on ``unpersist()`` of the
frame that was cached; ``release`` frees both from any frame that scans
them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def release(df: DataFrame) -> None:
    """Drop the blocks of every local checkpoint and cache that ``df``
    scans: ``df`` itself when it is one, or those under a projection,
    filter or union of them. None of them may be read afterwards."""
    jspark = df.sparkSession._jsparkSession
    leaves = df._jdf.queryExecution().withCachedData().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        kind = leaf.getClass().getSimpleName()
        if kind == "LogicalRDD":
            leaf.rdd().unpersist(False)
        elif kind == "InMemoryRelation":
            jspark.sharedState().cacheManager().uncacheQuery(
                jspark, leaf.cacheBuilder().logicalPlan(), False, False
            )
