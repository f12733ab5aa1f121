"""Unified table format: commits that maintain the Z-order layout, the
per-file zone stats, and table properties transactionally (all in the
version's manifest, published by the one atomic pointer flip), plus
zone-map-pruned reads.

Contract under test: q278 (zone-map prune), q280 (time travel) and
q281 (Z-order skipping) all run on ONE API — ``fl_init(stats_cols,
zorder_by)`` -> every commit re-clusters the files it writes and
records their stats -> ``fl_read_pruned`` consults the committed
stats, and an all-pruned read is an empty relation with the table
schema; and a crash anywhere before the pointer flip can never
desync stats/layout from data. There is no second, scan-built zone
map to keep in step.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from citybikedatawarehouse_spark.operators.table_format import (
    _norm_file_uri,
    fl_compact,
    fl_current_version,
    fl_init,
    fl_manifest,
    fl_merge_upsert,
    fl_read,
    fl_read_pruned,
    fl_table_props,
)


def _orders(spark, sf_dir):
    from citybikedatawarehouse_spark.sources.readers import load_table

    day = F.datediff(
        F.to_date("o_orderdate"), F.to_date(F.lit("1970-01-01"))
    ).alias("o_orderday")
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", day
    )


def _tf_init(spark, sf_dir, tmp_path):
    root = str(tmp_path / "tf")
    o = _orders(spark, sf_dir)
    fl_init(
        spark,
        root,
        o.where(F.col("o_orderkey") % 10 != 5),
        key="o_orderkey",
        stats_cols=("o_custkey", "o_orderday"),
        zorder_by=("o_custkey", "o_orderday"),
        layout_files=8,
    )
    return root, o


def _stats_file_set(root):
    return set(fl_manifest(root)["path"])


def _data_file_set(spark, root):
    return {
        _norm_file_uri(r["f"])
        for r in fl_read(spark, root)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    }


def test_commits_maintain_zone_map_and_props(spark, sf_dir, tmp_path):
    """Every commit kind (init, merge, compact) leaves the CURRENT
    version with a manifest that describes exactly its own data files
    and row count, and carries the table properties forward."""
    root, o = _tf_init(spark, sf_dir, tmp_path)

    def _check():
        assert _stats_file_set(root) == _data_file_set(spark, root)
        assert (
            int(fl_manifest(root)["n_rows"].sum())
            == fl_read(spark, root).count()
        )
        props = fl_table_props(root)
        assert props["stats_cols"] == [
            "o_orderkey",
            "o_custkey",
            "o_orderday",
        ]
        assert props["zorder_by"] == ["o_custkey", "o_orderday"]

    _check()  # init
    updates = o.where(F.col("o_orderkey") % 100 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(1.0)
    )
    inserts = o.where(F.col("o_orderkey") % 10 == 5)
    n_rep, n_ins, _, _ = fl_merge_upsert(
        spark, root, updates.unionByName(inserts), key="o_orderkey"
    )
    assert n_rep > 0 and n_ins > 0
    _check()  # merge
    fl_compact(spark, root, layout_files=4)
    _check()  # compact (stats recorded for the rewritten files)


def test_pruned_read_lossless_and_skips_after_merge(
    spark, sf_dir, tmp_path
):
    """fl_read_pruned on the POST-MERGE version: the pruned relation
    filtered by the predicate equals the full scan filtered
    (losslessness), and files are actually skipped — i.e. the merge
    commit re-applied the Z-order layout, keeping the stats PRUNABLE,
    not merely correct."""
    root, o = _tf_init(spark, sf_dir, tmp_path)
    updates = o.where(
        (F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") % 10 != 5)
    ).withColumn("o_totalprice", F.col("o_totalprice") * F.lit(2.0))
    inserts = o.where(F.col("o_orderkey") % 10 == 5)
    fl_merge_upsert(
        spark, root, updates.unionByName(inserts), key="o_orderkey"
    )

    full = fl_read(spark, root)
    lo_d, hi_d = (
        full.agg(F.min("o_orderday"), F.max("o_orderday")).collect()[0]
    )
    span = hi_d - lo_d
    preds = {
        "o_custkey": (1, 30),
        "o_orderday": (lo_d, lo_d + span // 5),
    }
    pruned, n_read, n_total = fl_read_pruned(spark, root, preds)
    assert 0 < n_read < n_total, (n_read, n_total)
    cond = F.col("o_custkey").between(*preds["o_custkey"]) & F.col(
        "o_orderday"
    ).between(*preds["o_orderday"])
    want = full.where(cond)
    got = pruned.where(cond)
    assert got.count() == want.count() > 0
    assert (
        got.agg(F.sum("o_orderkey")).collect()
        == want.agg(F.sum("o_orderkey")).collect()
    )


def test_pruned_read_disjoint_predicate_is_empty_not_error(
    spark, sf_dir, tmp_path
):
    """A predicate disjoint from every zone yields an EMPTY relation
    with the table's schema (the raw spark.read.parquet(*[]) call
    would error)."""
    root, _o = _tf_init(spark, sf_dir, tmp_path)
    pruned, n_read, n_total = fl_read_pruned(
        spark, root, {"o_custkey": (10**9, 2 * 10**9)}
    )
    assert n_read == 0 and n_total > 0
    assert pruned.count() == 0
    assert pruned.columns == fl_read(spark, root).columns


def test_pruned_read_rejects_untracked_column(spark, sf_dir, tmp_path):
    root, _o = _tf_init(spark, sf_dir, tmp_path)
    with pytest.raises(ValueError, match="no stats"):
        fl_read_pruned(spark, root, {"o_totalprice": (0, 1)})


def test_crash_before_commit_never_desyncs_stats(
    spark, sf_dir, tmp_path
):
    """Kill the merge between the new version's data/manifest write
    and the pointer flip: the pointer still names the OLD version,
    whose manifest still describes exactly its own files — readers
    (plain and pruned) are identical to before the crash, and the
    retried merge commits cleanly with consistent stats."""
    root, o = _tf_init(spark, sf_dir, tmp_path)
    before_version = fl_current_version(root)
    before_rows = fl_read(spark, root).count()
    updates = o.where(F.col("o_orderkey") % 100 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(1.0)
    )
    with pytest.raises(RuntimeError, match="injected crash"):
        fl_merge_upsert(
            spark, root, updates, key="o_orderkey",
            _crash_before_commit=True,
        )
    # pointer untouched; stats of the CURRENT version still match its
    # own files exactly (the orphan's manifest is keyed by its own
    # version name, so a half-commit cannot pollute the live one)
    assert fl_current_version(root) == before_version
    assert _stats_file_set(root) == _data_file_set(spark, root)
    assert fl_read(spark, root).count() == before_rows
    pruned, n_read, n_total = fl_read_pruned(
        spark, root, {"o_custkey": (1, 50)}
    )
    cond = F.col("o_custkey").between(1, 50)
    assert (
        pruned.where(cond).count()
        == fl_read(spark, root).where(cond).count()
    )
    # retry commits cleanly
    fl_merge_upsert(spark, root, updates, key="o_orderkey")
    assert fl_current_version(root) != before_version
    assert _stats_file_set(root) == _data_file_set(spark, root)


def test_plain_manifest_mode_unchanged(spark, tmp_path):
    """A table initialized WITHOUT stats/layout: commits work, the
    manifest tracks only the merge key, and a pruned read on an
    untracked column says so instead of guessing."""
    root = str(tmp_path / "plain")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    fl_init(spark, root, df, key="k")
    props = fl_table_props(root)
    assert props["stats_cols"] == ["k"] and props["zorder_by"] == []
    with pytest.raises(ValueError, match="no stats"):
        fl_read_pruned(spark, root, {"v": ("a", "b")})
    fl_merge_upsert(
        spark,
        root,
        spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string"),
        key="k",
    )
    got = {(r["k"], r["v"]) for r in fl_read(spark, root).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}


def test_hidden_dirs_invisible_to_data_scans(spark, sf_dir, tmp_path):
    """The _manifests dir and the _MANIFEST pointer under the table
    root must not leak into data reads or file stats."""
    root, _o = _tf_init(spark, sf_dir, tmp_path)
    commit_dir = os.path.dirname(next(iter(_stats_file_set(root))))
    df = spark.read.parquet(commit_dir)
    assert set(df.columns) == {
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderday"
    }
    assert len(fl_manifest(root)) == len(_data_file_set(spark, root)) == 8
