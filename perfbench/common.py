"""Process-level helpers shared by the workloads: the Spark session
(kept inside the checkout), clean shutdown, memory and host-contention
probes, and small statistics."""

from __future__ import annotations

import hashlib
import os
import resource
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from perfbench.trace import Tracer


@dataclass
class Ctx:
    root: str  # checkout root
    work: str  # scratch space inside the checkout
    run_dir: str  # this run's outputs, removed at exit
    seed: int
    seconds: float
    trace: bool
    smoke: bool
    cpus: int
    spark: object = None
    tracer: Tracer = None
    detail: dict = field(default_factory=dict)


def session_conf(ctx: Ctx) -> dict[str, str]:
    tmp = os.path.join(ctx.work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "spark.sql.warehouse.dir": os.path.join(ctx.run_dir, "spark-warehouse"),
        # keep JVM scratch files inside the checkout; start the heap at
        # its maximum, since a heap grown on demand grows by different
        # steps in each run and its peak RSS varies by up to a quarter
        "spark.driver.extraJavaOptions": (
            f"-Xms{os.environ.get('SPARK_GRAFT_DRIVER_MEM', '2g')} "
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
        ),
        # keep every job of a run in the status store for the tracer
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100",
    }


def start_session(ctx: Ctx):
    """(Re)start the engine's session. A previous session is stopped
    first, so each set-up pays for a fresh Spark context; the JVM
    itself launches once per process."""
    from citybikedatawarehouse_spark.session import get_spark

    if ctx.spark is not None:
        ctx.spark.stop()
    with ctx.tracer.span("session.get_spark", jvm=False):
        ctx.spark = get_spark(app_name="perfbench", extra_conf=session_conf(ctx))
    ctx.tracer.bind(ctx.spark)
    return ctx.spark


def stop_session(ctx: Ctx) -> None:
    """Stop Spark and the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if ctx.spark is not None:
        ctx.spark.stop()
        ctx.spark = None
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=20)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def peak_rss_mb(spark) -> float:
    """JVM VmHWM + this Python process's peak RSS, in MB."""
    jvm_kb = 0
    try:
        pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    except Exception:
        pass
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def contention_probe(threads: int) -> dict:
    """sha256 over a 4 MiB buffer, 16 times per thread, once on one
    thread and once fanned across ``threads`` threads (hashing releases
    the GIL). On an idle host the two times are close; a ratio well
    above 1 means other load shared the cores, and the run can be set
    aside."""
    buf = b"x" * (4 * 1024 * 1024)

    def work(_=None) -> None:
        for _ in range(16):
            hashlib.sha256(buf).digest()

    t0 = time.perf_counter()
    work()
    one = time.perf_counter() - t0
    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=threads) as ex:
        list(ex.map(work, range(threads)))
    par = time.perf_counter() - t0
    return {"single_s": round(one, 4), "parallel_s": round(par, 4), "ratio": round(par / one, 3)}


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def dir_bytes(path: str, suffix: str = ".parquet") -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(suffix):
                total += os.path.getsize(os.path.join(d, f))
    return total


def rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def setup_reps(ctx: Ctx, stage, reps: int = 3) -> list[float]:
    """Run ``reps`` full set-ups — fresh session, then ``stage(rep)``
    (staging and a warm-up op) — and return their wall times."""
    times = []
    for rep in range(reps):
        t0 = time.perf_counter()
        start_session(ctx)
        stage(rep)
        times.append(time.perf_counter() - t0)
    return times
