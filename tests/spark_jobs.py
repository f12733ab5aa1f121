"""Spark job and action counting for the tests that pin a
deterministic budget (a count repeats exactly where a timing does
not)."""

from __future__ import annotations


def count_jobs(spark, group, fn):
    """Run ``fn`` under a Spark job group and return (its result, the
    number of jobs the group ran) — read once the listener bus has
    drained, so no job is missed."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def count_actions(spark, fn):
    """Run ``fn`` and return (its result, the number of SQL executions
    it started) — one per DataFrame action or write, whatever number
    of jobs each runs. Read from the SQL status store once the
    listener bus has drained. The store drops its oldest executions in
    bulk past ``spark.sql.ui.retainedExecutions``, so the count is
    taken as the executions newer than the last one before ``fn``, not
    as a difference of ``executionsCount()``."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def execution_id(i):  # the i-th retained execution, oldest first
        return store.executionsList(i, 1).head().executionId()

    bus.waitUntilEmpty()
    n = store.executionsCount()
    last = execution_id(n - 1) if n else -1
    out = fn()
    bus.waitUntilEmpty()
    n = store.executionsCount()
    k = 0
    while k < n and execution_id(n - 1 - k) > last:
        k += 1
    return out, k
