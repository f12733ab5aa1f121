"""Interleaved A/B of TWO CODE TREES (e.g. baseline commit in a git
worktree vs HEAD) over the same query subset.

Why: host throughput on this box drifts by whole multiples between
sessions — effective parallel cores measured anywhere from ~10 to ~30
of the nominal 32 within one afternoon (see OPTIMIZATION_r12.md) — so
a before/after PAIR of full bench runs mostly measures the host, not
the change. This runner alternates one-rep child bench processes
tree-by-tree (side order flipped every round so neither side owns the
"fresh page cache" slot), pins every child to the host state with
calib_par probes before/after, and compares per-side minima taken
from the SAME drift window.

Every child times with THIS script's ``bench.time_query`` (rebuild,
noop-sink write, cache cleared; one untimed warm-up run, then `runs`
timed runs) and takes only the query catalog and session from its
tree, so an A/B against a tree with an older timing rule still times
both sides the same way.

Run (parent):
    python scripts/ab_commits.py --reps 3 --runs 2 \
        --tree head=/root/repo --tree base=/root/repo-baseline \
        q285_filelist_merge q286_filelist_delete_mor ...
Writes scripts/ab_commits.json.

Child mode (internal):
    python scripts/ab_commits.py --child <tree> <runs> <names...>
prints one JSON line {calib_pre, times:{name:[[build_s, exec_s],...]},
calib_post}.
"""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_bench(tree: str):
    """This checkout's bench.py, importing the catalog from ``tree``."""
    sys.path.insert(0, tree)
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(_REPO, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    return bench


def child(tree: str, runs: int, names: list[str]) -> None:
    bench = _load_bench(tree)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = bench.get_spark(app_name="cbdw-ab-commits")
    out = {
        "tree": tree,
        "calib_pre": bench._calibrate_parallel(),
        "times": {},
    }
    for name in names:
        bench.time_query(spark, name, sf_dir)  # untimed warm-up run
        out["times"][name] = [
            [round(t, 4) for t in bench.time_query(spark, name, sf_dir)]
            for _ in range(runs)
        ]
    out["calib_post"] = bench._calibrate_parallel()
    print("AB_CHILD " + json.dumps(out), flush=True)
    spark.stop()


def main() -> None:
    args = sys.argv[1:]
    if args and args[0] == "--child":
        child(args[1], int(args[2]), args[3:])
        return
    reps, runs = 3, 2
    trees: list[tuple[str, str]] = []
    names: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--reps":
            reps = int(args[i + 1]); i += 2
        elif args[i] == "--runs":
            runs = int(args[i + 1]); i += 2
        elif args[i] == "--tree":
            label, path = args[i + 1].split("=", 1)
            trees.append((label, os.path.abspath(path))); i += 2
        else:
            names.append(args[i]); i += 1
    if not trees:
        trees = [
            ("head", "/root/repo"),
            ("base", "/root/repo-baseline"),
        ]
    rounds: list[dict] = []
    for r in range(reps):
        order = trees if r % 2 == 0 else trees[::-1]
        rnd = {}
        for label, path in order:
            cp = subprocess.run(
                [sys.executable, os.path.abspath(__file__),
                 "--child", path, str(runs), *names],
                capture_output=True, text=True, cwd=path,
            )
            line = [
                ln for ln in cp.stdout.splitlines()
                if ln.startswith("AB_CHILD ")
            ]
            if not line:
                print(f"round {r} {label}: child failed\n{cp.stderr[-2000:]}",
                      file=sys.stderr)
                continue
            rnd[label] = json.loads(line[0][len("AB_CHILD "):])
            print(
                f"round {r} {label}: calib "
                f"{rnd[label]['calib_pre']:.3f}/{rnd[label]['calib_post']:.3f} "
                + " ".join(
                    f"{n.split('_')[0]}={min(map(sum, v)):.2f}"
                    for n, v in rnd[label]["times"].items()
                ),
                flush=True,
            )
        rounds.append(rnd)
    summary = {}
    for label, _ in trees:
        per_q = {}
        for n in names:
            vals = [
                sum(v)
                for rnd in rounds
                if label in rnd
                for v in rnd[label]["times"].get(n, [])
            ]
            if vals:
                per_q[n] = {"min": min(vals), "median": sorted(vals)[len(vals) // 2]}
        summary[label] = per_q
    out = {
        "sf_dir": os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
        "reps": reps, "runs": runs,
        "trees": {l: p for l, p in trees},
        "rounds": rounds,
        "summary": summary,
    }
    with open(os.path.join(os.path.dirname(__file__), "ab_commits.json"), "w") as f:
        json.dump(out, f, indent=1)
    for n in names:
        row = {l: summary.get(l, {}).get(n, {}).get("min") for l, _ in trees}
        print(n, row, flush=True)


if __name__ == "__main__":
    main()
