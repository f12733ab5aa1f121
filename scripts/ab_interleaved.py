"""Interleaved same-session re-measurement of suspected per-query
regressions (first written for the round-9 solo-bench suspects:
q264_ivm_join_view, q88/q117 semantic dedup, q176 triangle
participation).

Methodology (PERFORMANCE.md, q237 co_sym note): cross-run deltas on
this host routinely reach ±30-40 % from JVM warmup order and
background load, so a suspected regression must be re-measured with
the queries INTERLEAVED round-robin in ONE session — every query then
sees the same GC regime and the same host-load timeline, and a real
regression shows up as a consistent per-round gap instead of a
between-sessions offset. A calib_par probe per round pins each round
to the CPU availability at that moment.

Every run is one ``bench.time_query`` (rebuild, noop-sink write,
cache cleared), the bench's own rule: one untimed warm-up run per
query, then `reps` round-robin rounds.

Run: python scripts/ab_interleaved.py [reps]
Writes scripts/ab_interleaved.json.
"""

from __future__ import annotations

import json
import os
import sys

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _HERE)

import bench  # noqa: E402

TARGETS = [
    "q264_ivm_join_view",
    "q88_semantic_dedup",
    "q117_semantic_dedup_hier",
    "q176_triangle_participation",
]


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = bench.get_spark(app_name="cbdw-ab-interleaved")
    for name in TARGETS:
        bench.time_query(spark, name, sf_dir)  # untimed warm-up run

    times: dict[str, list[float]] = {n: [] for n in TARGETS}
    calib: list[float] = [bench._calibrate_parallel()]
    for _ in range(reps):
        for name in TARGETS:
            times[name].append(round(sum(bench.time_query(spark, name, sf_dir)), 4))
        calib.append(bench._calibrate_parallel())

    out = {
        "sf_dir": sf_dir,
        "reps": reps,
        "times": times,
        "min": {n: min(v) for n, v in times.items()},
        "median": {n: sorted(v)[len(v) // 2] for n, v in times.items()},
        "calib_par_per_round": [round(c, 4) for c in calib],
    }
    with open(os.path.join(_HERE, "scripts", "ab_interleaved.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out["min"]))
    print(json.dumps(out["median"]))
    spark.stop()


if __name__ == "__main__":
    main()
