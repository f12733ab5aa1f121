"""The analyst query mix as the benchmark drives it: seeded
TPC-H-shaped tables, one query op (plan-build and execution timed
apart), the oracle check and the pruned file-list read.

A query op rebuilds the query from the catalog and runs it through the
noop sink; the cache is cleared after it, so no timed run reads a cache
an earlier run built. Outputs are checked in an untimed round that
collects every query and compares its row count, an
order-insensitive hash of its non-float values and its floats (to
0.01) with the catalog's DuckDB oracle SQL over the same files.
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime

import duckdb
import numpy as np
import pandas as pd

from perfbench import gen
from perfbench.common import Ctx, median
from perfbench.metrics import QUERIES
from perfbench.trace import dur

FL_KEY = "o_orderkey"


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        return "0.0" if v == 0.0 else repr(v)
    if isinstance(v, (pd.Timestamp, datetime)):
        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ts.isoformat()
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, np.floating):
        return _canon(float(v))
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    try:
        if pd.isna(v):
            return "NULL"
    except (TypeError, ValueError):
        pass
    return str(v)


def _rows(pdf: pd.DataFrame) -> list[tuple[tuple, tuple]]:
    """Sorted rows, columns matched by name, each split into its exact
    part (canonical values, ``~`` where a float stands) and its floats."""
    rows = []
    for r in pdf[sorted(pdf.columns)].itertuples(index=False, name=None):
        exact, floats = [], []
        for v in r:
            if isinstance(v, (float, np.floating)) and not math.isnan(v):
                exact.append("~")
                floats.append(float(v))
            else:
                exact.append(_canon(v))
        rows.append((tuple(exact), tuple(floats)))
    return sorted(rows)


def compare_results(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None if ``got`` matches ``want``: the same row count, the same
    order-insensitive hash of every non-float value, and floats equal
    to 0.01. The tolerance is there because a sum rounded to cents can
    land on either side of a half cent when two engines add in a
    different order."""
    a, b = _rows(got), _rows(want)
    if len(a) != len(b):
        return f"{len(a)} rows vs oracle {len(b)}"
    digest = [hashlib.sha256(repr(sorted(Counter(e for e, _ in rs).items())).encode()).hexdigest()
              for rs in (a, b)]
    if digest[0] != digest[1]:
        return f"{len(a)} rows, hash of non-float values differs from the oracle's"
    for (_, fa), (_, fb) in zip(a, b):
        if not all(math.isclose(x, y, rel_tol=1e-9, abs_tol=0.011) for x, y in zip(fa, fb)):
            return f"floats {fa} vs oracle {fb}"
    return None


def _oracle(sf_dir: str, sql: str) -> pd.DataFrame:
    from citybikedatawarehouse_spark.schemas import TESTDATA_TABLES

    con = duckdb.connect()
    try:
        for t in TESTDATA_TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        return con.sql(sql).df()
    finally:
        con.close()


def read_agg(spark, root: str, lo: int, hi: int) -> tuple[int, float, int, int]:
    """A pruned read of keys [lo, hi] with a count and a sum:
    (rows, sum of o_totalprice, files read, files in the table)."""
    from pyspark.sql import functions as F

    from citybikedatawarehouse_spark.operators import table_format as tf

    df, n_read, n_total = tf.fl_read_pruned(spark, root, {FL_KEY: (lo, hi)})
    row = df.where(F.col(FL_KEY).between(lo, hi)).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("s")
    ).collect()[0]
    return int(row["n"]), float(row["s"] or 0.0), n_read, n_total


def fl_read(ctx: Ctx, root: str, lo: int, hi: int) -> tuple[int, float, int, int]:
    with ctx.tracer.span("table_format.fl_read_pruned"):
        return read_agg(ctx.spark, root, lo, hi)


def inputs(ctx: Ctx, scale: float) -> tuple[str, dict[str, int]]:
    """(directory of ``<table>.parquet`` files, row counts)."""
    return gen.cached(
        ctx.work, "warehouse", ctx.seed, scale,
        lambda p: gen.write_warehouse(p, scale, ctx.seed),
    )


def stage_fl(ctx: Ctx, sf_dir: str, root: str) -> None:
    """Stage ``orders`` as a file-list table (Z-ordered on the key)."""
    from citybikedatawarehouse_spark.operators import table_format as tf

    with ctx.tracer.span("table_format.fl_init"):
        tf.fl_init(
            ctx.spark, root, ctx.spark.read.parquet(f"{sf_dir}/orders.parquet"),
            key=FL_KEY, zorder_by=(FL_KEY,), layout_files=16,
        )


def check_round(ctx: Ctx, sf_dir: str) -> list[str]:
    """Collect every query once and compare it with its oracle; returns
    the failures. The queries run on concurrent threads (this round is
    untimed; it also compiles every query before the timed rounds)."""
    from citybikedatawarehouse_spark.plans.catalog import ORACLES
    from citybikedatawarehouse_spark.plans.catalog import QUERIES as CATALOG

    def check(q: str) -> str | None:
        try:
            diff = compare_results(
                CATALOG[q](ctx.spark, sf_dir).toPandas(), _oracle(sf_dir, ORACLES[q])
            )
            if diff:
                return f"{q}: {diff}"
        except Exception as e:
            return f"{q}: {e!r}"[:500]
        return None

    try:
        with ThreadPoolExecutor(max_workers=ctx.cpus) as ex:
            return [f for f in ex.map(check, QUERIES) if f]
    finally:
        ctx.spark.catalog.clearCache()


def run_query(ctx: Ctx, q: str, sf_dir: str, pass_no: int) -> float:
    """One timed query op; returns its latency."""
    from citybikedatawarehouse_spark.plans.catalog import QUERIES as CATALOG

    tr = ctx.tracer
    try:
        with tr.span("op.query", pass_no=pass_no, query=q) as op:
            with tr.span(f"plans.{q}.build"):
                df = CATALOG[q](ctx.spark, sf_dir)
            with tr.span(f"plans.{q}.exec"):
                df.write.format("noop").mode("overwrite").save()
        return dur(op)
    finally:
        ctx.spark.catalog.clearCache()


def layers(ctx: Ctx, n_passes: int) -> dict:
    """Per-layer metrics of the traced query ops."""
    tr = ctx.tracer
    by_id = {s["id"]: s for s in tr.spans}

    def phase_spans(phase: str, pass_no: int) -> list[dict]:
        return [
            s for s in tr.spans
            if s["name"].startswith("plans.") and s["name"].endswith(f".{phase}")
            and by_id[s["parent"]]["attrs"].get("pass_no") == pass_no
        ]

    def per_pass(phase: str) -> float:
        return median(sum(map(dur, phase_spans(phase, p))) for p in range(n_passes))

    def first(phase: str, key: str) -> int:
        return sum(s.get(key, 0) for s in phase_spans(phase, 0))

    return {
        "plans.build_s": per_pass("build"),
        "plans.exec_s": per_pass("exec"),
        "plans.build_jobs": first("build", "jobs"),
        "plans.exec_jobs": first("exec", "jobs"),
        "plans.exec_tasks": first("exec", "tasks"),
        **{
            f"plans.{q}.{ph}_s": median(dur(s) for s in tr.named(f"plans.{q}.{ph}"))
            for q in QUERIES
            for ph in ("build", "exec")
        },
    }
