#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload load_query --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The workload's inputs are generated
from ``--seed`` (cached under ``.perfbench_work/inputs``), the engine
runs on ``local[N]`` with N = the CPUs this process may use, as a
closed loop with one client, for at least ``--seconds`` seconds of
whole passes. Outputs are checked against values computed without the
engine. The last line of stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` they are the per-layer ones from a traced run (see
``metrics.py``). A detail file with sample counts, the host-contention
probe and, for traced runs, every span, is written to
``.perfbench_work/last_<workload>.json``. ``--smoke`` runs at a tiny
size for the self-checks.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _prepare_env(work: str, cpus: int) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable


def common_layers(ctx, res: dict) -> dict:
    """Per-layer metrics every workload reports: session, JVM, Spark
    totals and the tracer's own overhead."""
    from perfbench.common import median
    from perfbench.trace import dur

    tr = ctx.tracer
    top = [s for s in tr.spans if s["parent"] is None and s["name"].startswith("op.")]
    first = [s for s in top if s["attrs"].get("pass_no") == 0]
    passes = max(1, res["n_passes"])
    return {
        "session.get_spark_s": median(dur(s) for s in tr.named("session.get_spark")),
        "jvm.gc_s": sum(s.get("gc_s", 0.0) for s in top) / passes,
        "jvm.gc_count": sum(s.get("gc_count", 0) for s in top) / passes,
        "spark.jobs": sum(tr.total(s, "jobs") for s in first),
        "spark.stages": sum(tr.total(s, "stages") for s in first),
        "spark.tasks": sum(tr.total(s, "tasks") for s in first),
        "spark.tasks_failed": sum(tr.total(s, "tasks_failed") for s in top),
        "trace.overhead_ratio": tr.overhead_s / max(res["region_s"], 1e-9),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import citybikedatawarehouse_spark as program

        from perfbench import metrics
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(program.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: the program is not in this checkout ({ROOT})", file=sys.stderr)
        return 2
    if args.workload not in metrics.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    import importlib

    from perfbench.common import Ctx, contention_probe, peak_rss_mb, rmtree, stop_session
    from perfbench.trace import Tracer

    work = os.path.join(ROOT, ".perfbench_work")
    cpus = _cpus()
    _prepare_env(work, cpus)
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    ctx = Ctx(
        root=ROOT, work=work, run_dir=os.path.join(work, "runs", run_id),
        seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
        smoke=args.smoke, cpus=cpus,
    )
    ctx.tracer = Tracer(None, run_id, enabled=ctx.trace)
    os.makedirs(ctx.run_dir, exist_ok=True)
    t_start = time.perf_counter()
    probe_before = contention_probe(cpus)
    try:
        mod = importlib.import_module(f"perfbench.{args.workload}")
        res = mod.run(ctx)
        res["e2e"]["peak_rss_mb"] = peak_rss_mb(ctx.spark)
        layers = {**common_layers(ctx, res), **res["layers"]} if ctx.trace else {}
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        stop_session(ctx)
        rmtree(ctx.run_dir)
    probe_after = contention_probe(cpus)

    if ctx.trace:
        picked = {n: (layers.get(n, 0), u) for n, (u, *_) in metrics.PER_LAYER.items()}
    else:
        picked = {n: (res["e2e"][n], u) for n, (u, *_) in metrics.END_TO_END.items()}
    failed = res["failed"]
    out = {
        "correct": failed == 0,
        "attempted": int(res["attempted"]),
        "failed": int(failed),
        "metrics": {n: {"value": float(v), "unit": u} for n, (v, u) in picked.items()},
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": cpus, "total_s": time.perf_counter() - t_start,
        "contention": {"before": probe_before, "after": probe_after},
        "failures": res["failures"][:50], "passes": res["n_passes"],
        **ctx.detail, "result": out,
    }
    if ctx.trace:
        detail["spans"] = ctx.tracer.dump()
    with open(os.path.join(work, f"last_{args.workload}.json"), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    for f in res["failures"][:10]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
