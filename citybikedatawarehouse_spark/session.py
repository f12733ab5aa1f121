"""SparkSession factory.

Single place where engine-wide execution settings live. Settings are
chosen for correctness-critical determinism (UTC session timezone so
timestamp semantics match the DuckDB oracle and any external system)
and for scale (AQE on, skew-join handling on, shuffle partitions sized
to the machine; on a real cluster these come from spark-submit conf
and the values here only serve as local-mode defaults).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Shuffle partitions default to the thread count, but the two are
# independently overridable: under SKEW, per-task memory = pool /
# min(partitions, threads), so raising partitions ABOVE the thread
# count is the standard way to shrink task state until it fits —
# e.g. q237 skewed-25x OOMs at 32 partitions / 8g but completes at
# 256 partitions / 8g (PERFORMANCE.md round-9). On a cluster this is
# the same spark.sql.shuffle.partitions sizing exercise, just
# against executor memory.
DEFAULT_SHUFFLE_PARTITIONS = int(
    os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS",
        os.environ.get("SPARK_GRAFT_CPUS", "32"),
    )
)


def get_spark(
    app_name: str = "citybikedatawarehouse_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Local-mode defaults; on a cluster, master/memory/partitions are
    supplied by the submitter and these remain no-ops.

    PySpark's call-site capture is switched off: with it on, every
    Column method and ``F`` function call makes about ten py4j round
    trips to record its Python call site (1.3 ms per call on the
    main thread against 0.3-0.5 ms without, 4-core VM), and
    PySpark caches the setting for the whole process from whichever
    thread makes the first Column call, so leaving it at its default
    made plan-building cost depend on that race. The trade-off: an
    analysis error no longer names the Python line that built the
    failing expression in its DataFrame query context; the error and
    its SQL context are unchanged.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # Driver heap sizing is non-monotonic on this box: 1g OOMs on
        # 10x-scale dedup shuffles, 48g is ~40x SLOWER end-to-end (GC
        # regime change dominates), 8g passes both with bench parity.
        # Only effective at JVM launch; ignored on an existing session.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
        # determinism: timestamps interpreted in UTC everywhere
        .config("spark.sql.session.timeZone", "UTC")
        # adaptive execution: runtime coalescing, skew-join splitting,
        # broadcast-join conversion based on true sizes
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # Arrow for any pandas-interop path (pandas UDFs, toPandas)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # events.parquet stores TIMESTAMP(NANOS) which vanilla Spark
        # rejects; read as long and convert (see sources/readers.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # no Python call-site capture on Column calls (see docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
