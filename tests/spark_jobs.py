"""Spark job counting for the tests that pin a deterministic job
budget (a count repeats exactly where a timing does not)."""

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
