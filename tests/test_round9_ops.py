"""Round-9 session-3 operators: zone-map data skipping — the scan-built
per-file zone map (operators/table_format.zone_map_stats) and the
manifest-pruned read (table_format.fl_read_pruned) over the zones a
commit records from parquet footers — and the rolling-window HLL
merge (q277): the monoid property the query relies on, tested
directly on the register algebra."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from citybikedatawarehouse_spark.functions.keys import hll_parts
from citybikedatawarehouse_spark.operators.table_format import (
    fl_init,
    fl_manifest,
    fl_read,
    fl_read_pruned,
    footer_zone_stats,
    zone_map_stats,
)
from citybikedatawarehouse_spark.sources.readers import load_table


def _range_layout(spark, sf_dir, tmp_path, n_files=8):
    path = str(tmp_path / "orders_ranged")
    load_table(spark, sf_dir, "orders").repartitionByRange(
        n_files, "o_orderdate"
    ).write.parquet(path)
    return path


def _range_table(spark, sf_dir, tmp_path, n_files=8):
    """Orders range-laid-out by date, committed as a file-list table
    whose manifest tracks each file's o_orderdate zone."""
    root = str(tmp_path / "orders_ranged_tf")
    fl_init(
        spark,
        root,
        load_table(spark, sf_dir, "orders").repartitionByRange(
            n_files, "o_orderdate"
        ),
        key="o_orderkey",
        stats_cols=("o_orderdate",),
    )
    return root


def test_zone_map_stats_one_row_per_file_and_consistent(
    spark, sf_dir, tmp_path
):
    path = _range_layout(spark, sf_dir, tmp_path)
    stats = zone_map_stats(spark, path, ("o_orderdate", "o_orderkey"))
    rows = stats.collect()
    full = spark.read.parquet(path)
    n_files = len({r["file"] for r in rows})
    assert n_files == len(rows)  # one row per file
    assert sum(r["n_rows"] for r in rows) == full.count()
    glob = full.agg(
        F.min("o_orderdate"), F.max("o_orderdate")
    ).collect()[0]
    assert min(r["min_o_orderdate"] for r in rows) == glob[0]
    assert max(r["max_o_orderdate"] for r in rows) == glob[1]
    for r in rows:
        assert r["min_o_orderdate"] <= r["max_o_orderdate"]
        assert r["min_o_orderkey"] <= r["max_o_orderkey"]


def test_zonemap_prune_is_lossless_and_actually_skips(
    spark, sf_dir, tmp_path
):
    """For a set of range predicates: reading only the kept files and
    filtering gives EXACTLY the full-scan filter result (losslessness
    — the correctness contract), and at least one narrow predicate
    drops files (effectiveness)."""
    root = _range_table(spark, sf_dir, tmp_path)
    full = fl_read(spark, root)
    skipped_somewhere = False
    for lo, hi in [
        ("1996-02-01", "1996-04-30"),  # narrow: should prune
        ("1990-01-01", "1991-01-01"),  # before data: prunes all
        ("1994-01-01", "2002-12-31"),  # covers all: prunes none
    ]:
        lo_ts = dt.datetime.fromisoformat(lo)
        hi_ts = dt.datetime.fromisoformat(hi + " 23:59:59")
        pruned, n_read, n_total = fl_read_pruned(
            spark, root, {"o_orderdate": (lo_ts, hi_ts)}
        )
        cond = F.col("o_orderdate").between(F.lit(lo_ts), F.lit(hi_ts))
        want = full.where(cond)
        if n_read:
            got = pruned.where(cond)
            assert got.count() == want.count()
            assert (
                got.agg(F.sum("o_orderkey")).collect()
                == want.agg(F.sum("o_orderkey")).collect()
            )
        else:
            assert want.count() == 0
        if n_read < n_total:
            skipped_somewhere = True
    assert skipped_somewhere


def test_zonemap_prune_keeps_null_stats_files(spark, tmp_path):
    """A file whose zone stats are NULL (all-NULL column) must be
    KEPT — pruning may only skip files proven disjoint."""
    root = str(tmp_path / "nullzones")
    # range-split on k: one file holds v in [10, 20], the other only
    # NULLs
    df = spark.createDataFrame(
        [(1, 10), (2, 20), (3, None), (4, None)], "k int, v int"
    ).repartitionByRange(2, "k")
    fl_init(spark, root, df, key="k", stats_cols=("v",))
    # the zones come from the footers: the all-NULL chunk has no
    # min/max, which the footer path records as a NULL zone
    commit_dir = os.path.dirname(fl_manifest(root)["path"].iloc[0])
    assert footer_zone_stats(commit_dir, ("k", "v")) is not None
    kept, n_read, n_total = fl_read_pruned(spark, root, {"v": (100, 200)})
    # the non-null file [10,20] is disjoint from [100,200] -> skipped;
    # the all-NULL file has unknown zone -> kept
    assert n_total == 2 and n_read == 1
    assert {r["k"] for r in kept.collect()} == {3, 4}


def test_hll_register_window_merge_is_exact_monoid(spark):
    """q277's algebraic core: MAX-merging per-day (bucket, rho)
    registers over a day window yields BIT-IDENTICAL registers to
    hashing the window's raw rows directly — sketch partials lose
    nothing, which is why the fact table never needs re-scanning."""
    rows = [
        (d, f"user{(7 * d + i) % 23}")
        for d in range(10)
        for i in range(1 + (d % 4))
    ]
    df = spark.createDataFrame(rows, "day int, uid string")
    bucket, rho = hll_parts("uid")
    daily = (
        df.select("day", bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("day", "bucket")
        .agg(F.max("rho").alias("reg"))
    )
    merged = (
        daily.select(
            F.explode(
                F.sequence(F.col("day"), F.col("day") + F.lit(2))
            ).alias("asof"),
            "bucket",
            "reg",
        )
        .groupBy("asof", "bucket")
        .agg(F.max("reg").alias("reg"))
    )
    direct = (
        df.select(
            F.explode(
                F.sequence(F.col("day"), F.col("day") + F.lit(2))
            ).alias("asof"),
            bucket.alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy("asof", "bucket")
        .agg(F.max("rho").alias("reg"))
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_manifest_time_travel_immutability(spark, tmp_path):
    """A committed version read via fl_read(version=...) is
    bit-identical before and after a later merge commit — the
    snapshot-isolation contract time travel rests on."""
    from citybikedatawarehouse_spark.operators.table_format import (
        fl_current_version,
        fl_init,
        fl_merge_upsert,
        fl_read,
    )

    root = str(tmp_path / "tt")
    v1_df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k int, s string, v double",
    )
    v1 = fl_init(spark, root, v1_df, key="k")
    before = sorted(map(tuple, fl_read(spark, root, v1).collect()))
    updates = spark.createDataFrame(
        [(2, "B", 99.0), (4, "d", 40.0)], "k int, s string, v double"
    )
    n_rep, n_ins, _, _ = fl_merge_upsert(spark, root, updates, key="k")
    assert (n_rep, n_ins) == (1, 1)
    after = sorted(map(tuple, fl_read(spark, root, v1).collect()))
    assert before == after == [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)]
    v2 = fl_current_version(root)
    assert v2 != v1
    cur = sorted(map(tuple, fl_read(spark, root, v2).collect()))
    assert cur == [(1, "a", 10.0), (2, "B", 99.0), (3, "c", 30.0), (4, "d", 40.0)]


def test_fl_read_rejects_unknown_version(spark, tmp_path):
    import pytest as _pytest

    from citybikedatawarehouse_spark.operators.table_format import (
        fl_init,
        fl_read,
    )

    root = str(tmp_path / "tt2")
    fl_init(spark, root, spark.range(3), key="id")
    with _pytest.raises(IOError, match="no version"):
        fl_read(spark, root, "v99999999")


def test_feature_hashing_census_laws(spark, sf_dir):
    """q279 invariants: |net_weight| <= abs_mass per bucket (signs
    can only cancel mass, never create it); sum of n_terms over
    buckets == corpus vocabulary size (the hash partitions the
    vocab); bucket ids live in [0, 1024)."""
    from citybikedatawarehouse_spark.functions.textfns import words
    from citybikedatawarehouse_spark.plans.catalog import QUERIES
    from citybikedatawarehouse_spark.sources.readers import load_table

    census = QUERIES["q279_feature_hashing"](spark, sf_dir).collect()
    assert all(abs(r["net_weight"]) <= r["abs_mass"] for r in census)
    assert all(0 <= r["bucket"] < 1024 for r in census)
    vocab = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(words("text")).alias("tok"))
        .select(F.lower("tok").alias("w"))
        .filter(F.col("w") != "")
        .distinct()
        .count()
    )
    assert sum(r["n_terms"] for r in census) == vocab


# ---------------------------------------------------------------------------
# plan-shape guards (q277-q280)
# ---------------------------------------------------------------------------


def _plan(spark, name, sf_dir, mode="formatted"):
    from citybikedatawarehouse_spark.plans.catalog import QUERIES

    df = QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def test_rolling_hll_plan_no_cartesian_broadcast_grid(spark, sf_dir):
    """q277's bucket grid must attach as a broadcast (256 rows), the
    window merge must be the explode fan-out (no range join, which
    would plan as BroadcastNestedLoopJoin), and nothing degenerates
    to a cartesian product."""
    plan = _plan(spark, "q277_rolling_hll_distinct", sf_dir)
    assert "CartesianProduct" not in plan, plan
    assert "Generate" in plan, plan  # the explode fan-out
    assert "BroadcastExchange" in plan, plan  # 256-bucket grid
    # the only nested-loop join allowed is the broadcast Cross that
    # attaches the 256-row bucket grid — a data-sized one would mean
    # the window merge degenerated into a range join
    import re

    bnlj = re.findall(r"BroadcastNestedLoopJoin [^\n]*", plan)
    assert all("Cross" in b for b in bnlj), plan


def test_feature_hashing_plan_single_expand_no_join(spark, sf_dir):
    """q279 is scan -> explode -> two hash aggregates; the dual
    COUNT(DISTINCT) plans as ONE Expand (never a self-join), and no
    join of any kind appears."""
    plan = _plan(spark, "q279_feature_hashing", sf_dir)
    assert plan.count("Expand") >= 1, plan
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
              "CartesianProduct"):
        assert j not in plan, plan


def test_zonemap_pruned_scan_reads_fewer_files(spark, sf_dir, tmp_path):
    """The pruned read's file list — Spark's own inputFiles() — must
    be a strict subset of the layout for a narrow predicate: the
    skipping happens at scan-planning time, not as a filter."""
    root = _range_table(spark, sf_dir, tmp_path)
    pruned, n_read, n_total = fl_read_pruned(
        spark,
        root,
        {"o_orderdate": (dt.datetime(1996, 2, 1), dt.datetime(1996, 4, 30))},
    )
    assert 0 < len(pruned.inputFiles()) == n_read < n_total
    assert len(fl_read(spark, root).inputFiles()) == n_total


def test_zorder_layout_prunes_on_both_dimensions(spark, sf_dir, tmp_path):
    """On a Z-ordered (custkey, day) layout, BOTH single-column zone
    maps prune files; on a date-only range layout, the custkey zone
    map is impotent (every file spans ~the full key range). This is
    the measurable reason q281 z-orders instead of sorting by date."""
    from citybikedatawarehouse_spark.functions.layout import zorder_key

    o = load_table(spark, sf_dir, "orders").withColumn(
        "__day",
        F.datediff(F.to_date("o_orderdate"), F.to_date(F.lit("1970-01-01"))),
    )
    zroot = str(tmp_path / "zordered")
    droot = str(tmp_path / "datesorted")
    layouts = {
        zroot: zorder_key(o, ["o_custkey", "__day"])
        .repartitionByRange(16, "z_key")
        .drop("z_key", "__day"),
        droot: o.drop("__day").repartitionByRange(16, "o_orderdate"),
    }
    for root, df in layouts.items():
        fl_init(
            spark, root, df, key="o_orderkey",
            stats_cols=("o_custkey", "o_orderdate"),
        )

    ck_hi = o.agg(F.expr("percentile(o_custkey, 0.1)")).collect()[0][0]
    dt_lo, dt_hi = dt.datetime(1997, 1, 1), dt.datetime(1997, 3, 31)
    for root, custkey_should_prune in ((zroot, True), (droot, False)):
        _, n_ck, n = fl_read_pruned(
            spark, root, {"o_custkey": (1, int(ck_hi))}
        )
        _, n_dt, _ = fl_read_pruned(
            spark, root, {"o_orderdate": (dt_lo, dt_hi)}
        )
        assert n_dt < n or root == zroot  # date prunes on its layout
        if custkey_should_prune:
            assert n_ck < n, (root, n_ck, n)
        else:
            assert n_ck == n, (root, n_ck, n)
