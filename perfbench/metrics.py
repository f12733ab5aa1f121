"""The benchmark's metric catalog: every name it prints, with its
unit, its direction, what it measures and, for per-layer metrics,
which end-to-end metric it should move on which workload.

``BENCHMARK.json`` lists the same names; ``selfcheck.py`` fails if the
two drift apart. Times are medians over the samples of one run; the
sample counts go to the run's detail file. Per-layer counts come from
the first timed pass (one load, one query round, one commit stream),
so they repeat exactly between traced runs with one seed.
"""

from __future__ import annotations

WORKLOADS = {
    "load_query": (
        "the paper's pipeline then its analysts: seeded ride CSV to a Parquet "
        "star schema, 8 catalog queries, pruned file-list reads; no "
        "table commits or replication"
    ),
    "table_cdc": (
        "writes beside reads on one file-list table: a band merge, an upsert "
        "across the tail, a merge-on-read delete, an empty batch, a compaction, "
        "then change-feed replication; no ETL or catalog queries"
    ),
}

# name -> (unit, better, bound, meaning)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25,
                "median of 3 set-ups in one process, each a fresh Spark "
                "context (the first also launches the JVM) and staging the "
                "file-list table; input generation and the warm-up that "
                "follows are excluded"),
    "wall_s": ("s", "lower", 0.25,
               "median wall time of one pass: one load, every query and the "
               "pruned reads (load_query); one commit stream with its reads, "
               "then its replication (table_cdc)"),
    "op_p50_s": ("s", "lower", 0.25,
                 "median latency of one op of the closed loop: a load, a "
                 "query (build + execution) or a pruned read (load_query); a "
                 "source commit or a pruned read (table_cdc)"),
    "rows_per_s": ("rows/s", "higher", 0.25,
                   "rides per second of one load, over the median load "
                   "(load_query); rows changed by the commit stream per second "
                   "of the stream's commits, over the median pass (table_cdc)"),
    "read_p50_s": ("s", "lower", 0.25,
                   "median latency of one pruned read with an aggregate over "
                   "the file-list table the workload staged or writes"),
    "bytes_written_per_row": ("B/row", "lower", 0.25,
                              "Parquet bytes one load writes per input ride "
                              "(load_query); data bytes the commit stream adds "
                              "per changed row (table_cdc)"),
    "peak_rss_mb": ("MB", "lower", 0.25,
                    "peak resident memory of the run: the JVM's VmHWM plus "
                    "Python's peak RSS; the JVM heap starts at its 2 GB "
                    "maximum, so this counts the heap pages touched"),
}

# relational (scan-aggregate, top-k, six-way join, window); star-ETL
# operators; a sketch whose work runs at plan-build time
QUERIES = (
    "q01_pricing_summary", "q03_topk_revenue", "q05_region_volume",
    "q17_window_topk_per_group", "q40_dim_build", "q42_fact_derived_keys",
    "q43_haversine", "q261_histogram_quantiles",
)

ALL = "all workloads"
# name -> (unit, better, meaning, "moves <e2e metric> on <workload>")
PER_LAYER = {
    "session.get_spark_s": ("s", "lower", "median get_spark() over the set-ups", f"setup_s, {ALL}"),
    "jvm.gc_s": ("s", "lower", "JVM GC time over the timed region, per pass", "wall_s and peak_rss_mb, mostly the load in load_query"),
    "jvm.gc_count": ("count", "lower", "JVM collections over the timed region, per pass", "wall_s and peak_rss_mb, mostly the load in load_query"),
    "spark.jobs": ("count", "lower", "Spark jobs in the first timed pass", f"wall_s, {ALL}"),
    "spark.stages": ("count", "lower", "Spark stages run in the first timed pass", f"wall_s, {ALL}"),
    "spark.tasks": ("count", "lower", "Spark tasks completed in the first timed pass", f"wall_s, {ALL}"),
    "spark.tasks_failed": ("count", "lower", "failed Spark tasks in the timed region", f"failed ops, {ALL}"),
    "trace.overhead_ratio": ("ratio", "lower", "time spent in span bookkeeping / timed wall time", "nothing: tracing cost"),
    "sources.read_ride_csv_s": ("s", "lower", "CSV scan, parse and cache fill, per load", "rows_per_s on load_query; flat on table_cdc"),
    "sources.write_parquet_s": ("s", "lower", "the five Parquet writes of a load (dim and fact plans run inside them)", "rows_per_s on load_query"),
    "sources.bytes_written": ("B", "lower", "Parquet bytes written per load", "rows_per_s on load_query"),
    "operators.dims.build_s": ("s", "lower", "the four dimension writes (dim plans run inside them)", "rows_per_s on load_query"),
    "operators.fact.build_s": ("s", "lower", "the ride_fact write (the fact plan runs inside it)", "rows_per_s on load_query"),
    "etl.jobs": ("count", "lower", "Spark jobs per load", "rows_per_s on load_query"),
    "etl.stages": ("count", "lower", "Spark stages per load", "rows_per_s on load_query"),
    "etl.tasks": ("count", "lower", "Spark tasks per load", "rows_per_s on load_query"),
    "plans.build_s": ("s", "lower", "plan-build time of one round (driver-side work)", "op_p50_s and wall_s on load_query"),
    "plans.exec_s": ("s", "lower", "execution time of one round (noop sink)", "op_p50_s and wall_s on load_query"),
    "plans.build_jobs": ("count", "lower", "Spark jobs issued while building the round's plans", "wall_s on load_query (q261)"),
    "plans.exec_jobs": ("count", "lower", "Spark jobs issued executing the round", "wall_s on load_query (relational queries)"),
    "plans.exec_tasks": ("count", "lower", "Spark tasks run executing the round", "wall_s on load_query (relational queries)"),
    **{
        f"plans.{q}.{phase}_s": ("s", "lower", f"{q} {phase} time", "op_p50_s on load_query")
        for q in QUERIES
        for phase in ("build", "exec")
    },
    "table_format.fl_init_s": ("s", "lower", "median fl_init of the staged table", "setup_s on both workloads"),
    "table_format.fl_merge_upsert_s": ("s", "lower", "median source merge commit", "rows_per_s and wall_s on table_cdc"),
    "table_format.fl_delete_s": ("s", "lower", "median merge-on-read delete commit", "rows_per_s and wall_s on table_cdc"),
    "table_format.fl_compact_s": ("s", "lower", "the compaction commit", "rows_per_s and wall_s on table_cdc"),
    "table_format.fl_read_pruned_s": ("s", "lower", "median pruned read with its aggregate", "read_p50_s and op_p50_s on both workloads"),
    "table_format.jobs_per_commit": ("count", "lower", "Spark jobs per source commit", "rows_per_s on table_cdc"),
    "table_format.files_rewritten_ratio": ("ratio", "lower", "files rewritten / files in the table, over the merges", "rows_per_s and bytes_written_per_row on table_cdc"),
    "table_format.files_read_ratio": ("ratio", "lower", "files read / files in the table, over the pruned reads", "read_p50_s on table_cdc and load_query"),
    "table_format.bytes_on_disk_per_live_byte": ("ratio", "lower", "data bytes under the table / bytes the current version references", "disk space on table_cdc"),
    "changes_feed.replicate_changes_s": ("s", "lower", "replicate_changes over the whole history", "wall_s on table_cdc"),
    "changes_feed.replicate_s_per_commit": ("s", "lower", "replication time / source commits applied", "wall_s on table_cdc"),
    "changes_feed.jobs_per_source_commit": ("count", "lower", "replication jobs / source commits applied", "wall_s on table_cdc"),
    "changes_feed.replica_commits_per_source_commit": ("count", "lower", "replica commits / source commits applied", "wall_s on table_cdc"),
}


def benchmark_json() -> dict:
    """The BENCHMARK.json this catalog implies."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, (u, b, bound, _) in END_TO_END.items()
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": b}
            for n, (u, b, _, _) in PER_LAYER.items()
        ],
    }


RUN_SECONDS = 10
