#!/usr/bin/env python3
"""The benchmark's own checks:

1. each generator is deterministic for a given seed (and a different
   seed gives different inputs);
2. ``BENCHMARK.json`` matches ``metrics.py`` (names, units, bounds) and
   the contract's limits;
3. each workload completes end to end at a tiny size, untraced and
   traced, printing exactly the metric names ``BENCHMARK.json`` lists,
   with every output check passing.

    python3 perfbench/selfcheck.py            # all three
    python3 perfbench/selfcheck.py --no-smoke # skip the Spark runs
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen, metrics  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _sha(path: str) -> str:
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(path)) if os.path.isdir(path) else [("", [], [path])]:
        for f in sorted(files):
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def check_generators() -> None:
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench_work")) as tmp:
        digests = []
        for seed in (7, 7, 8):
            p = os.path.join(tmp, f"r{len(digests)}.csv")
            exp = gen.ride_csv(p, 3000, seed)
            w = os.path.join(tmp, f"w{len(digests)}")
            gen.write_warehouse(w, 0.05, seed)
            base, ops = gen.cdc_stream(2000, seed)
            final = gen.cdc_model(base, ops)[-1]
            digests.append((_sha(p), json.dumps(exp, sort_keys=True), _sha(w), gen.frame_digest(final)))
        assert digests[0] == digests[1], "a generator is not deterministic for one seed"
        assert all(a != b for a, b in zip(digests[0], digests[2])), "seed does not change inputs"
    print("generators: deterministic per seed")


def check_benchmark_json() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bj = json.load(fh)
    assert bj == metrics.benchmark_json(), "BENCHMARK.json differs from metrics.py"
    assert set(bj) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [w["name"] for w in bj["workloads"]] + [m["name"] for m in bj["end_to_end"]] + [
        m["name"] for m in bj["per_layer"]
    ]
    assert len(names) == len(set(names)), "a name is used twice"
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert all(UNIT.match(m["unit"]) for m in bj["end_to_end"] + bj["per_layer"])
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in bj["workloads"])
    assert 2 <= len(bj["workloads"]) <= 8 and 1 <= len(bj["end_to_end"]) <= 16
    assert 1 <= len(bj["per_layer"]) <= 128
    assert all(0 < m["bound"] <= 0.25 for m in bj["end_to_end"])
    setup = [m for m in bj["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in bj["end_to_end"])
    assert os.path.getsize(os.path.join(ROOT, "BENCHMARK.json")) <= 64 * 1024
    print(f"BENCHMARK.json: {len(bj['end_to_end'])} end-to-end, {len(bj['per_layer'])} per-layer metrics")


def check_smoke() -> None:
    for w in metrics.WORKLOADS:
        for trace, want in ((0, metrics.END_TO_END), (1, metrics.PER_LAYER)):
            cmd = [sys.executable, "perfbench/run.py", "--workload", w, "--seed", "5",
                   "--seconds", "1", "--trace", str(trace), "--smoke"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            assert p.returncode == 0, f"{w} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}"
            out = json.loads(p.stdout.strip().splitlines()[-1])
            assert set(out) == {"correct", "attempted", "failed", "metrics"}
            assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, (w, out, p.stderr[-3000:])
            assert list(out["metrics"]) == list(want), f"{w}: printed names differ"
            for n, m in out["metrics"].items():
                assert m["unit"] == want[n][0], (n, m)
            print(f"smoke {w} trace={trace}: ok ({out['attempted']} attempted)")


if __name__ == "__main__":
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    check_generators()
    check_benchmark_json()
    if "--no-smoke" not in sys.argv:
        check_smoke()
    print("selfcheck: ok")
