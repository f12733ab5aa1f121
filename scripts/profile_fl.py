"""Phase-level profiler for the file-list table format commit path.

Wraps the internal helpers of operators/table_format.py with timers,
then runs a q285/q293-shaped lifecycle at $SPARK_GRAFT_SF_DIR
(default sf0.1) and prints per-phase totals — the measurement §1 of
the optimization guide asks for before touching anything.

Each commit of the lifecycle also prints its anatomy: one line per
SQL execution it started (one per DataFrame action or write) with the
execution's jobs, its duration and the driver gap before it (from the
previous execution's end, or from the commit's start for the first),
then the commit's totals. A commit-path change starts from these
counts.

Run: python scripts/profile_fl.py [sf_dir]
"""

from __future__ import annotations

import atexit
import os
import shutil
import sys
import tempfile
import time
from collections import defaultdict

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _HERE)

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import citybikedatawarehouse_spark.operators.table_format as tf  # noqa: E402

TIMES: dict[str, float] = defaultdict(float)
CALLS: dict[str, int] = defaultdict(int)


def timed(mod, name, label=None):
    label = label or name
    orig = getattr(mod, name)

    def wrap(*a, **k):
        t0 = time.perf_counter()
        try:
            return orig(*a, **k)
        finally:
            TIMES[label] += time.perf_counter() - t0
            CALLS[label] += 1

    setattr(mod, name, wrap)
    return orig


def _sql_store(spark):
    """The SQL status store, once the listener bus has drained."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return spark._jsparkSession.sharedState().statusStore()


def _executions_after(store, last_id: int) -> list:
    """``store``'s executions with an id above ``last_id``, oldest
    first."""
    n = store.executionsCount()
    out = []
    while len(out) < n:
        e = store.executionsList(n - 1 - len(out), 1).head()
        if e.executionId() <= last_id:
            break
        out.append(e)
    return out[::-1]


def anatomy(spark, label: str, fn):
    """Run the commit ``fn`` and print its SQL executions: jobs,
    duration and the driver gap before each."""
    store = _sql_store(spark)
    n = store.executionsCount()
    last_id = store.executionsList(n - 1, 1).head().executionId() if n else -1
    t0_ms = time.time() * 1000.0
    out = fn()
    t1_ms = time.time() * 1000.0
    execs = _executions_after(_sql_store(spark), last_id)
    print(f"anatomy {label}: {len(execs)} executions, "
          f"{sum(e.jobs().size() for e in execs)} jobs, "
          f"{t1_ms - t0_ms:.0f} ms", flush=True)
    prev_end = t0_ms
    for e in execs:
        start = e.submissionTime()
        done = e.completionTime()
        end = done.get().getTime() if done.isDefined() else t1_ms
        desc = e.description().replace("\n", " ")[:48]
        print(f"  exec {e.executionId():5d} jobs={e.jobs().size():2d} "
              f"run={end - start:6.0f} ms gap={start - prev_end:6.0f} ms  "
              f"{desc}", flush=True)
        prev_end = end
    print(f"  tail gap={t1_ms - prev_end:6.0f} ms", flush=True)
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .appName("profile_fl")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # phase timers on the internals the lifecycle queries compose;
    # _apply_layout builds the clustering plan (Z-order key, range
    # partitioning) that _write_files then executes, so its time is
    # driver-side plan building inside the write's total
    timed(tf, "_write_files")
    timed(tf, "_apply_layout")
    timed(tf, "_stats_of_commit")
    timed(tf, "_targeting_hits")
    timed(tf, "_read_files")
    timed(tf, "_delete_keys_df")
    timed(tf, "_write_nonempty")
    timed(tf, "_claim_version")
    timed(tf, "_commit")
    timed(tf, "manifest_commit_cas")
    timed(tf, "fl_changes")

    # whole-op timers (note: these INCLUDE the phases above)
    for op in ("fl_init", "fl_merge_upsert", "fl_delete", "fl_compact",
               "fl_read_mor", "fl_optimize"):
        timed(tf, op, f"OP {op}")

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    o = orders.select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )

    t_all = time.perf_counter()
    base = tempfile.mkdtemp(prefix="cbdw_prof_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    src = base + "/src"

    t0 = time.perf_counter()
    anatomy(spark, "init", lambda: tf.fl_init(
        spark, src, o, key="o_orderkey", zorder_by=("o_orderkey",),
        layout_files=16,
    ))
    print(f"init: {time.perf_counter()-t0:.2f}s", flush=True)

    band = F.col("o_orderkey").between(1000, 2000)
    updates = o.where(band).select(
        "o_orderkey", "o_custkey",
        (F.col("o_totalprice") + F.lit(1.0)).alias("o_totalprice"),
        F.lit("R").alias("o_orderstatus"),
    )
    max_k = o.agg(F.max("o_orderkey")).collect()[0][0]
    inserts = o.where(F.col("o_orderkey") % 1000 == 0).select(
        (F.col("o_orderkey") + F.lit(max_k + 1)).alias("o_orderkey"),
        "o_custkey", "o_totalprice", F.lit("N").alias("o_orderstatus"),
    )
    t0 = time.perf_counter()
    anatomy(spark, "merge1", lambda: tf.fl_merge_upsert(
        spark, src, updates.unionByName(inserts), key="o_orderkey"
    ))
    print(f"merge1: {time.perf_counter()-t0:.2f}s", flush=True)

    t0 = time.perf_counter()
    doomed = tf.fl_read_mor(spark, src).where(F.col("o_orderkey") % 10 == 7)
    anatomy(spark, "delete", lambda: tf.fl_delete(spark, src, doomed))
    print(f"delete: {time.perf_counter()-t0:.2f}s", flush=True)

    reinserts = o.where(F.col("o_orderkey") % 50 == 7).select(
        "o_orderkey", "o_custkey", "o_totalprice",
        F.lit("N").alias("o_orderstatus"),
    )
    t0 = time.perf_counter()
    anatomy(spark, "merge2", lambda: tf.fl_merge_upsert(
        spark, src, reinserts, key="o_orderkey"
    ))
    print(f"merge2: {time.perf_counter()-t0:.2f}s", flush=True)

    from citybikedatawarehouse_spark.streaming.changes_feed import (
        replicate_changes,
    )
    dst = base + "/dst"
    t0 = time.perf_counter()
    replicate_changes(spark, src, dst, versions_per_batch=2)
    print(f"replicate: {time.perf_counter()-t0:.2f}s", flush=True)

    t0 = time.perf_counter()
    replica = tf.fl_read_mor(spark, dst)
    source = tf.fl_read_mor(spark, src)
    converged = (
        replica.exceptAll(source).limit(1).count() == 0
        and source.exceptAll(replica).limit(1).count() == 0
    )
    print(f"convergence audit: {time.perf_counter()-t0:.2f}s "
          f"(converged={converged})", flush=True)

    total = time.perf_counter() - t_all
    print(f"\nTOTAL q293 shape: {total:.2f}s")
    print(f"{'phase':28s} {'calls':>5s} {'total_s':>8s}")
    for k in sorted(TIMES, key=lambda k: -TIMES[k]):
        print(f"{k:28s} {CALLS[k]:5d} {TIMES[k]:8.2f}")
    print(
        f"{'_write_files - layout build':28s} {CALLS['_write_files']:5d} "
        f"{TIMES['_write_files'] - TIMES['_apply_layout']:8.2f}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
