"""The ride ETL as the benchmark drives it: seeded inputs, the load
op, its traced variant and the output check.

Traced runs wrap the pipeline's calls from outside: the ``etl``
module's references to ``read_ride_csv`` and ``write_parquet`` are
swapped for span-recording wrappers. The read wrapper fills the ride
cache inside its span (the untraced pipeline fills it lazily in the
first write), so CSV parse time is attributed to ``sources``; dim and
fact plans are lazy and execute inside their own Parquet writes.
"""

from __future__ import annotations

import os

import pyarrow.dataset as ds

from perfbench import gen
from perfbench.common import Ctx, median
from perfbench.trace import dur

DIMS = ("member_dimension", "rideable_dimension", "station_dimension", "date_dimension")


def inputs(ctx: Ctx, n: int) -> tuple[str, dict]:
    """(csv path, expected values) for an ``n``-row ride CSV."""
    base, exp = gen.cached(
        ctx.work, "rides", ctx.seed, n, lambda p: gen.ride_csv(p + ".csv", n, ctx.seed)
    )
    return base + ".csv", exp


def load(ctx: Ctx, csv: str, out: str) -> None:
    """One load: CSV -> Parquet star schema, then drop the ride cache
    the pipeline leaves behind so the next load re-reads the CSV."""
    from citybikedatawarehouse_spark import etl

    etl.run_citibike_etl(ctx.spark, csv, out_dir=out)
    ctx.spark.catalog.clearCache()


def traced(ctx: Ctx):
    """Install span wrappers into the etl module; returns an undo."""
    from citybikedatawarehouse_spark import etl

    orig_read, orig_write = etl.read_ride_csv, etl.write_parquet
    tr = ctx.tracer

    def read_ride_csv(spark, path, **kw):
        with tr.span("sources.read_ride_csv"):
            df = orig_read(spark, path, **kw).cache()
            df.count()
        return df

    def write_parquet(df, path, **kw):
        with tr.span("sources.write_parquet", table=os.path.basename(path)):
            orig_write(df, path, **kw)

    etl.read_ride_csv, etl.write_parquet = read_ride_csv, write_parquet

    def undo():
        etl.read_ride_csv, etl.write_parquet = orig_read, orig_write

    return undo


def check_output(out: str, exp: dict) -> list[str]:
    """Compare a load's Parquet output with the generator's values,
    reading it with pyarrow (independent of the engine)."""
    errs = []
    for name in (*DIMS, "ride_fact"):
        n = ds.dataset(f"{out}/{name}", format="parquet", partitioning="hive").count_rows()
        if n != exp[name]:
            errs.append(f"{name}: {n} rows, expected {exp[name]}")
    fact = ds.dataset(f"{out}/ride_fact", format="parquet", partitioning="hive").to_table(
        columns=["trip_duration", "distance", "speed"]
    ).to_pandas()
    p = exp["pinned"]
    hit = fact[
        (fact.trip_duration == p["trip_duration"])
        & ((fact.distance - p["distance"]).abs() < 1e-9)
        & ((fact.speed - p["speed"]).abs() < 1e-6)
    ]
    if hit.empty:
        errs.append(f"pinned ride measures not found: {p}")
    nulls = fact[fact.distance.isna()]
    if len(nulls) != exp["n_null_distance"] or (nulls.speed != 0.0).any():
        errs.append(f"null-coordinate rides: {len(nulls)}, expected {exp['n_null_distance']} with speed 0")
    zero = fact[fact.trip_duration == 0]
    if len(zero) != exp["n_zero_duration"] or (zero.speed != 0.0).any():
        errs.append(f"zero-duration rides: {len(zero)}, expected {exp['n_zero_duration']} with speed 0")
    return errs


def layers(ctx: Ctx, bytes_written: int) -> dict:
    """Per-layer metrics of the traced loads (spans named ``op.load``)."""
    tr = ctx.tracer
    ops = tr.named("op.load")
    if not ops:
        return {}

    def writes(op, keep) -> float:
        return sum(
            dur(s) for s in tr.subtree(op)
            if s["name"] == "sources.write_parquet" and keep(s["attrs"]["table"])
        )

    return {
        "sources.read_ride_csv_s": median(dur(s) for s in tr.named("sources.read_ride_csv")),
        "sources.write_parquet_s": median(writes(op, lambda t: True) for op in ops),
        "operators.dims.build_s": median(writes(op, lambda t: t in DIMS) for op in ops),
        "operators.fact.build_s": median(writes(op, lambda t: t == "ride_fact") for op in ops),
        "sources.bytes_written": bytes_written,
        "etl.jobs": tr.total(ops[0], "jobs"),
        "etl.stages": tr.total(ops[0], "stages"),
        "etl.tasks": tr.total(ops[0], "tasks"),
    }
