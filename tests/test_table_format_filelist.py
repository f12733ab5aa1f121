"""File-list manifest table format (operators/table_format.py): the
O(touched-files) MERGE contract — targeting exactness, shared
immutable files across versions, crash consistency, pruned reads off
the manifest, and reference-counting vacuum."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from citybikedatawarehouse_spark.operators import table_format
from citybikedatawarehouse_spark.operators.table_format import (
    fl_compact,
    fl_current_version,
    fl_delete,
    fl_init,
    fl_manifest,
    fl_merge_upsert,
    fl_optimize,
    fl_read,
    fl_read_mor,
    fl_read_pruned,
    fl_read_pruned_mor,
    fl_table_props,
    fl_vacuum,
    fl_versions,
)
from tests.spark_jobs import count_actions
from tests.spark_jobs import count_jobs as _count_jobs


def _orders(spark, sf_dir):
    from citybikedatawarehouse_spark.sources.readers import load_table

    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )


def _init(spark, sf_dir, tmp_path):
    """Range-clustered by the merge key (zorder over one column =
    range layout) so key-band merges are file-sparse."""
    root = str(tmp_path / "fl")
    o = _orders(spark, sf_dir)
    fl_init(
        spark,
        root,
        o,
        key="o_orderkey",
        stats_cols=("o_custkey",),
        zorder_by=("o_orderkey",),
        layout_files=16,
    )
    return root, o


def test_merge_rewrites_only_intersecting_files(spark, sf_dir, tmp_path):
    root, o = _init(spark, sf_dir, tmp_path)
    m1 = fl_manifest(root)
    assert len(m1) == 16

    band = F.col("o_orderkey").between(1000, 2000)
    updates = o.where(band).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(1.0)
    ).withColumn("o_orderstatus", F.lit("R"))
    n_rep, n_ins, n_touch, n_total = fl_merge_upsert(
        spark, root, updates, key="o_orderkey"
    )
    assert n_ins == 0 and n_rep == updates.count() > 0
    assert 0 < n_touch < n_total == 16

    # untouched files are SHARED by reference: v2's manifest carries
    # exactly the v1 paths it did not rewrite
    m2 = fl_manifest(root)
    shared = set(m1["path"]) & set(m2["path"])
    assert len(shared) == n_total - n_touch

    # content equals the relational merge
    got = fl_read(spark, root)
    want_n = o.count()
    assert got.count() == want_n
    assert (
        got.where(F.col("o_orderstatus") == "R").count()
        == updates.count()
    )
    s_got = got.agg(F.round(F.sum("o_totalprice"), 2)).collect()[0][0]
    s_want = (
        o.agg(F.sum("o_totalprice")).collect()[0][0] + updates.count()
    )
    assert abs(s_got - s_want) < 0.02


def test_pure_inserts_touch_zero_files(spark, sf_dir, tmp_path):
    root, o = _init(spark, sf_dir, tmp_path)
    max_k = o.agg(F.max("o_orderkey")).collect()[0][0]
    # keys start at 0, so shift past max_k + 1 to guarantee freshness
    inserts = o.limit(50).select(
        (F.col("o_orderkey") + F.lit(max_k + 1)).alias("o_orderkey"),
        "o_custkey",
        "o_totalprice",
        F.lit("N").alias("o_orderstatus"),
    )
    n_rep, n_ins, n_touch, n_total = fl_merge_upsert(
        spark, root, inserts, key="o_orderkey"
    )
    assert (n_rep, n_ins) == (0, 50)
    assert n_touch == 0, "append-only keys must rewrite no existing file"
    assert fl_read(spark, root).count() == o.count() + 50


def _merge_batch(o, zones, shape):
    """A micro-batch of the given targeting shape for the 16-file
    orders table whose sorted key zones are ``zones``."""
    k = F.col("o_orderkey")
    lo3, lo4, top = zones[3][0], zones[4][0], zones[-1][1]
    if shape == "band_one_zone":
        rows = o.where(k.between(lo3 + 5, lo3 + 30))
    elif shape == "band_two_zones":
        rows = o.where(k.between(lo4 - 40, lo4 + 40))
    elif shape == "append":
        rows = o.limit(20).withColumn("o_orderkey", k + top + 1)
    elif shape == "undecided":
        # the key range spans every zone, and most are strictly inside
        rows = o.where((k < lo3) & (k % 97 == 0) | (k > top - 300))
    else:
        rows = o.limit(0)
    return rows.withColumn("o_orderstatus", F.lit("R"))


@pytest.mark.parametrize(
    "shape, n_actions",
    [
        # the key bounds decide every zone: the aggregate, the write
        ("band_one_zone", 2),
        ("band_two_zones", 2),
        ("append", 2),
        # zones strictly inside the key range add the targeting join
        ("undecided", 3),
        # an empty micro-batch stops after the aggregate
        ("empty", 1),
    ],
)
def test_merge_action_budget(spark, sf_dir, tmp_path, shape, n_actions):
    root, o = _init(spark, sf_dir, tmp_path)
    zones = sorted(
        fl_manifest(root)[["min_o_orderkey", "max_o_orderkey"]]
        .itertuples(index=False, name=None)
    )
    batch = _merge_batch(o, [(int(a), int(b)) for a, b in zones], shape)
    _, got = count_actions(
        spark, lambda: fl_merge_upsert(spark, root, batch, key="o_orderkey")
    )
    assert got == n_actions


def test_delete_and_compact_are_one_action_each(spark, sf_dir, tmp_path):
    root, o = _init(spark, sf_dir, tmp_path)
    doomed = o.where(F.col("o_orderkey") % 50 == 3)
    assert count_actions(spark, lambda: fl_delete(spark, root, doomed))[1] == 1
    assert count_actions(spark, lambda: fl_compact(spark, root))[1] == 1


# A 160-row table of keys 0, 10, ..., 1590 with a second column v:
# Z-ordered on k alone its 8 zones are disjoint with gaps between them
# ([0, 190], [200, 390], ...); Z-ordered on (k, v) they overlap.
_GAP_KEYS = range(0, 1600, 10)


@pytest.mark.parametrize(
    "zorder, keys",
    [
        (("k",), list(range(300, 500, 10))),  # contiguous band
        (("k",), list(range(1400, 1800, 10))),  # band + tail inserts
        (("k",), list(range(2000, 2100, 10))),  # pure append
        (("k",), [195, 395, 595]),  # only in gaps between zones
        (("k",), [390, 400]),  # zone edges
        (("k",), [None]),  # all-NULL keys
        (("k",), [5, 805, 1505]),  # scattered: a zone strictly inside
        (("k", "v"), [50, 730, 1210, 1590]),  # overlapping zones
    ],
    ids=[
        "band", "band_tail", "append", "gaps", "edges", "null",
        "scattered", "zorder2",
    ],
)
def test_bounds_targeting_is_exact(spark, tmp_path, zorder, keys):
    """The key-bounds split of ``_targeting_hits`` touches exactly the
    files the join-only path touches, which are exactly the files whose
    zone holds an update key; the merge's counts match a pandas model."""
    import pandas as pd

    root = str(tmp_path / "t")
    base = pd.DataFrame(
        {"k": list(_GAP_KEYS), "v": [k * 7919 % 1000 for k in _GAP_KEYS]}
    )
    fl_init(
        spark, root, spark.createDataFrame(base, "k long, v long"), key="k",
        zorder_by=zorder, layout_files=8,
    )
    m = fl_manifest(root)
    updates = spark.createDataFrame(
        [(k, -1) for k in keys], "k long, v long"
    )
    real = [k for k in keys if k is not None]
    bounds = (min(real), max(real)) if real else (None, None)

    def touched(key_bounds):
        paths, hits = table_format._targeting_hits(
            spark, m, "k", updates.select("k").distinct(), key_bounds
        )
        return paths | {r["path"] for r in (hits.collect() if hits else [])}

    want = {
        p for p, lo, hi in zip(m["path"], m["min_k"], m["max_k"])
        if any(lo <= k <= hi for k in real)
    }
    assert touched(bounds) == touched(None) == want

    n_replaced = len(set(real) & set(_GAP_KEYS))
    assert fl_merge_upsert(spark, root, updates, key="k")[:3] == (
        n_replaced, len(keys) - n_replaced, len(want),
    )
    assert fl_read(spark, root).count() == len(base) + len(keys) - n_replaced


def test_time_travel_shares_files_and_v1_immutable(
    spark, sf_dir, tmp_path
):
    root, o = _init(spark, sf_dir, tmp_path)
    v1 = fl_current_version(root)
    v1_sum = fl_read(spark, root).agg(F.sum("o_totalprice")).collect()
    updates = o.where(F.col("o_orderkey") % 100 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * F.lit(2.0)
    )
    fl_merge_upsert(spark, root, updates, key="o_orderkey")
    v2 = fl_current_version(root)
    assert v2 != v1 and fl_versions(root) == [v1, v2]
    # v1 still reads bit-identically AFTER the commit (immutability)
    assert (
        fl_read(spark, root, v1).agg(F.sum("o_totalprice")).collect()
        == v1_sum
    )


def test_crash_before_flip_leaves_old_version_and_retry_works(
    spark, sf_dir, tmp_path
):
    root, o = _init(spark, sf_dir, tmp_path)
    v1 = fl_current_version(root)
    before = fl_read(spark, root).agg(
        F.count(F.lit(1)), F.round(F.sum("o_totalprice"), 2)
    ).collect()
    updates = o.where(F.col("o_orderkey") % 100 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(5.0)
    )
    with pytest.raises(RuntimeError, match="injected crash"):
        fl_merge_upsert(
            spark, root, updates, key="o_orderkey",
            _crash_before_commit=True,
        )
    # pointer untouched, reader unchanged (orphan manifest + files are
    # invisible: readers only follow the pointer)
    assert fl_current_version(root) == v1
    assert (
        fl_read(spark, root).agg(
            F.count(F.lit(1)), F.round(F.sum("o_totalprice"), 2)
        ).collect()
        == before
    )
    # retry commits under the NEXT version number
    n_rep, _, _, _ = fl_merge_upsert(spark, root, updates, key="o_orderkey")
    assert n_rep == updates.count()
    assert fl_current_version(root) != v1


def test_pruned_read_off_manifest(spark, sf_dir, tmp_path):
    root, o = _init(spark, sf_dir, tmp_path)
    df, n_read, n_total = fl_read_pruned(
        spark, root, {"o_orderkey": (1000, 2000)}
    )
    assert 0 < n_read < n_total
    cond = F.col("o_orderkey").between(1000, 2000)
    assert df.where(cond).count() == o.where(cond).count() > 0
    # disjoint predicate: empty relation, not an error
    df0, n0, _ = fl_read_pruned(
        spark, root, {"o_orderkey": (10**12, 2 * 10**12)}
    )
    assert n0 == 0 and df0.count() == 0
    assert df0.columns == fl_read(spark, root).columns
    # untracked column rejected
    with pytest.raises(ValueError, match="no stats"):
        fl_read_pruned(spark, root, {"o_totalprice": (0, 1)})


def test_vacuum_refcounts_shared_files(spark, sf_dir, tmp_path):
    root, o = _init(spark, sf_dir, tmp_path)
    for mod, delta in ((100, 1.0), (50, 2.0)):
        fl_merge_upsert(
            spark,
            root,
            o.where(F.col("o_orderkey") % mod == 0).withColumn(
                "o_totalprice", F.col("o_totalprice") + F.lit(delta)
            ),
            key="o_orderkey",
        )
    v1, v2, v3 = fl_versions(root)
    want = fl_read(spark, root).agg(
        F.count(F.lit(1)), F.round(F.sum("o_totalprice"), 2)
    ).collect()
    # retain_hours=0: this test is about refcounting, not retention
    # (the round-12 retention tests live in test_round12_table_format)
    deleted = fl_vacuum(spark, root, keep=2, retain_hours=0.0)
    # v1 manifest gone; every deleted file existed only in v1
    assert fl_versions(root) == [v2, v3]
    for p in deleted:
        assert not os.path.exists(p)
    # kept versions still read perfectly (shared files survived)
    assert (
        fl_read(spark, root).agg(
            F.count(F.lit(1)), F.round(F.sum("o_totalprice"), 2)
        ).collect()
        == want
    )
    fl_read(spark, root, v2).count()  # kept history intact


def test_merge_key_mismatch_and_duplicate_updates_rejected(
    spark, sf_dir, tmp_path
):
    root, o = _init(spark, sf_dir, tmp_path)
    with pytest.raises(ValueError, match="table key"):
        fl_merge_upsert(spark, root, o.limit(1), key="o_custkey")
    dup = o.limit(1).unionAll(o.limit(1))
    with pytest.raises(ValueError, match="duplicate"):
        fl_merge_upsert(spark, root, dup, key="o_orderkey")
    # empty updates: clean no-op, no new version
    v_before = fl_current_version(root)
    assert fl_merge_upsert(
        spark, root, o.where(F.lit(False)), key="o_orderkey"
    ) == (0, 0, 0, 16)
    assert fl_current_version(root) == v_before


def test_props_carry_and_extra_props_ride_commit(spark, sf_dir, tmp_path):
    root, o = _init(spark, sf_dir, tmp_path)
    assert fl_table_props(root)["key"] == "o_orderkey"
    fl_merge_upsert(
        spark,
        root,
        o.where(F.col("o_orderkey") % 100 == 0),
        key="o_orderkey",
        extra_props={"last_epoch": 7},
    )
    p = fl_table_props(root)
    assert p["last_epoch"] == 7 and p["zorder_by"] == ["o_orderkey"]


def test_float_stats_column_uses_scan_stats(spark, sf_dir, tmp_path):
    """o_totalprice is DOUBLE, whose parquet footer min/max are not
    trusted (NaN ordering), so its commit stats come from the Spark
    scan fallback: the manifest's per-file min/max equal Spark's
    min/max over each file, and a pruned read on the column matches
    the full scan."""
    from citybikedatawarehouse_spark.operators.table_format import (
        _norm_file_uri,
        footer_zone_stats,
    )

    root = str(tmp_path / "fldouble")
    o = _orders(spark, sf_dir)
    fl_init(
        spark, root, o, key="o_orderkey",
        stats_cols=("o_totalprice",), zorder_by=("o_totalprice",),
        layout_files=8,
    )
    m = fl_manifest(root)
    commit_dir = os.path.dirname(m["path"].iloc[0])
    assert footer_zone_stats(commit_dir, ("o_totalprice",)) is None
    per_file = {
        _norm_file_uri(r["f"]): (r["mn"], r["mx"])
        for r in fl_read(spark, root)
        .groupBy(F.input_file_name().alias("f"))
        .agg(
            F.min("o_totalprice").alias("mn"),
            F.max("o_totalprice").alias("mx"),
        )
        .collect()
    }
    assert per_file == {
        p: (mn, mx)
        for p, mn, mx in zip(
            m["path"], m["min_o_totalprice"], m["max_o_totalprice"]
        )
    }

    lo = o.agg(F.expr("percentile(o_totalprice, 0.4)")).first()[0]
    hi = o.agg(F.expr("percentile(o_totalprice, 0.6)")).first()[0]
    df, n_read, n_total = fl_read_pruned(
        spark, root, {"o_totalprice": (lo, hi)}
    )
    assert 0 < n_read < n_total
    band = F.col("o_totalprice").between(lo, hi)
    agg = [F.count(F.lit(1)), F.sum("o_orderkey")]
    assert (
        df.where(band).agg(*agg).collect()
        == o.where(band).agg(*agg).collect()
    )


# ---------------------------------------------------------------------------
# streaming sink -> file-list manifest commits
# ---------------------------------------------------------------------------

from pyspark.sql import types as T  # noqa: E402

from citybikedatawarehouse_spark.streaming.incremental import (  # noqa: E402
    fl_epoch_step,
    start_fl_upsert_stream,
)

_KV_SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType(), True),
        T.StructField("v", T.StringType(), True),
        T.StructField("seq", T.LongType(), True),
    ]
)


def _kv(spark, rows):
    return spark.createDataFrame(rows, _KV_SCHEMA)


def test_fl_epoch_step_exactly_once_and_file_sparse(spark, tmp_path):
    """The file-list streaming sink: epochs are exactly-once (replay
    skipped), crash-before-flip leaves the previous version readable,
    and a key-local batch rewrites only the files its keys touch."""
    root = str(tmp_path / "flsink")
    base = [(k, f"v{k}", 0) for k in range(100)]
    fl_init(
        spark, root, _kv(spark, base), key="k",
        zorder_by=("k",), layout_files=4,
    )

    # epoch 0 touches only low keys -> only the low-range file(s)
    st, n_rep, n_ins, n_touch, n_total = fl_epoch_step(
        _kv(spark, [(1, "V1", 1), (2, "V2", 1)]), 0, root, key="k"
    )
    assert (st, n_rep, n_ins) == ("committed", 2, 0)
    assert 0 < n_touch < n_total == 4

    # replay: skipped, nothing changes
    v = fl_current_version(root)
    assert fl_epoch_step(
        _kv(spark, [(1, "POISON", 9)]), 0, root, key="k"
    )[0] == "skipped"
    assert fl_current_version(root) == v

    # within-batch multi-change: last (max seq) wins
    st, *_ = fl_epoch_step(
        _kv(spark, [(5, "a", 2), (5, "b", 3)]), 1, root, key="k",
        dedup_order_col="seq",
    )
    assert st == "committed"
    got = {
        (r["k"], r["v"])
        for r in fl_read(spark, root).where(F.col("k") <= 5).collect()
    }
    assert got == {
        (0, "v0"), (1, "V1"), (2, "V2"), (3, "v3"), (4, "v4"), (5, "b"),
    }

    # crash before flip -> previous version intact; retry commits
    v = fl_current_version(root)
    with pytest.raises(RuntimeError, match="injected crash"):
        fl_epoch_step(
            _kv(spark, [(7, "X", 4)]), 2, root, key="k",
            _crash_before_commit=True,
        )
    assert fl_current_version(root) == v
    assert fl_table_props(root)["last_epoch"] == 1
    assert fl_epoch_step(
        _kv(spark, [(7, "X", 4)]), 2, root, key="k"
    )[0] == "committed"
    assert fl_table_props(root)["last_epoch"] == 2


def test_fl_stream_sink_e2e(spark, tmp_path):
    """writeStream end-to-end into the file-list table: disjoint-key
    micro-batches (file-source batch order is not contractual), final
    state correct, epoch watermark recorded."""
    src = tmp_path / "src"
    days = [
        [(200, "a", 1), (201, "b", 1)],
        [(300, "c", 2), (300, "c2", 3)],
        [(400, "d", 4)],
    ]
    for day in days:
        _kv(spark, day).coalesce(1).write.mode("append").parquet(str(src))
    root = str(tmp_path / "fltbl")
    fl_init(
        spark,
        root,
        _kv(spark, [(k, f"v{k}", 0) for k in range(100)]),
        key="k",
        zorder_by=("k",),
        layout_files=4,
    )
    stream = (
        spark.readStream.schema(_KV_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = start_fl_upsert_stream(stream, root, key="k", dedup_order_col="seq")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["k"], r["v"])
        for r in fl_read(spark, root).where(F.col("k") >= 200).collect()
    }
    assert got == {
        (200, "a"), (201, "b"), (300, "c2"), (400, "d"),
    }
    assert fl_read(spark, root).count() == 104
    assert fl_table_props(root)["last_epoch"] == 2
    # the streaming path maintains the format, not just the data: the
    # current manifest names exactly the files a read opens
    from citybikedatawarehouse_spark.operators.table_format import (
        _norm_file_uri,
    )

    read_files = {
        _norm_file_uri(r["f"])
        for r in fl_read(spark, root)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    }
    assert set(fl_manifest(root)["path"]) == read_files


# ---------------------------------------------------------------------------
# merge-on-read deletes + compaction
# ---------------------------------------------------------------------------

from citybikedatawarehouse_spark.operators.table_format import (  # noqa: E402
    fl_compact,
    fl_delete,
    fl_delete_keys,
    fl_read_mor,
    fl_read_pruned_mor,
)


def test_delete_mor_lifecycle(spark, sf_dir, tmp_path):
    """Scattered delete rewrites nothing; MOR reads hide the keys;
    a MERGE re-inserting deleted keys unhides exactly those; compact
    folds the set physically with identical relational content."""
    root, o = _init(spark, sf_dir, tmp_path)
    m1 = set(fl_manifest(root)["path"])
    n_all = o.count()
    doomed = o.where(F.col("o_orderkey") % 10 == 3)
    n_doomed = doomed.count()

    n_keys, _v = fl_delete(spark, root, doomed)
    assert n_keys == n_doomed
    assert set(fl_manifest(root)["path"]) == m1  # zero files rewritten
    assert fl_read_mor(spark, root).count() == n_all - n_doomed
    # raw file view unchanged (the sidecar is the only difference)
    assert fl_read(spark, root).count() == n_all
    # pruned MOR read composes
    df, n_read, n_total = fl_read_pruned_mor(
        spark, root, {"o_orderkey": (0, 200)}
    )
    assert 0 < n_read < n_total
    got = df.where(F.col("o_orderkey").between(0, 200))
    assert (
        got.where(F.col("o_orderkey") % 10 == 3).count() == 0
        and got.count() > 0
    )

    # re-insert a subset: those keys leave the delete set, others stay
    reins = doomed.where(F.col("o_orderkey") % 100 == 3).withColumn(
        "o_orderstatus", F.lit("B")
    )
    n_reins = reins.count()
    fl_merge_upsert(spark, root, reins, key="o_orderkey")
    assert fl_read_mor(spark, root).count() == n_all - n_doomed + n_reins
    assert (
        fl_read_mor(spark, root)
        .where(F.col("o_orderstatus") == "B")
        .count()
        == n_reins
    )
    remaining = set(fl_delete_keys(spark, root)["o_orderkey"])
    assert not remaining & {r["o_orderkey"] for r in reins.collect()}
    assert len(remaining) > 0  # non-reinserted deletes persist

    # compact: content identical, delete set empty, anti-join gone
    want = fl_read_mor(spark, root).agg(
        F.count(F.lit(1)), F.round(F.sum("o_totalprice"), 2)
    ).collect()
    fl_compact(spark, root)
    assert len(fl_delete_keys(spark, root)) == 0
    assert (
        fl_read_mor(spark, root).agg(
            F.count(F.lit(1)), F.round(F.sum("o_totalprice"), 2)
        ).collect()
        == want
    )
    # after the fold, raw view == MOR view
    assert fl_read(spark, root).count() == n_all - n_doomed + n_reins


def test_delete_crash_before_flip_is_invisible(spark, sf_dir, tmp_path):
    root, o = _init(spark, sf_dir, tmp_path)
    n_all = o.count()
    with pytest.raises(RuntimeError, match="injected crash"):
        fl_delete(
            spark, root, o.where(F.col("o_orderkey") % 10 == 3),
            _crash_before_commit=True,
        )
    assert fl_read_mor(spark, root).count() == n_all
    assert len(fl_delete_keys(spark, root)) == 0


def test_delete_time_travel_applies_version_set(spark, sf_dir, tmp_path):
    """Time travel reads the delete state AS OF the version: v1 (no
    deletes) keeps every row; v2 hides them."""
    root, o = _init(spark, sf_dir, tmp_path)
    v1 = fl_current_version(root)
    n_all = o.count()
    doomed = o.where(F.col("o_orderkey") % 10 == 3)
    _, v2 = fl_delete(spark, root, doomed)
    assert fl_read_mor(spark, root, v1).count() == n_all
    assert fl_read_mor(spark, root, v2).count() == n_all - doomed.count()


@pytest.mark.parametrize(
    "read",
    [
        lambda spark, root: fl_read_mor(spark, root),
        lambda spark, root: fl_read_pruned_mor(spark, root, {"k": (0, 9)})[0],
    ],
    ids=["fl_read_mor", "fl_read_pruned_mor"],
)
def test_mor_read_resolves_the_pointer_once(spark, tmp_path, monkeypatch, read):
    """A commit that lands while a merge-on-read read is being planned
    must not mix two versions: the files and the delete set both come
    from the version the read resolved first. The race is injected
    deterministically — the first pointer read of the table commits
    a concurrent upsert before returning."""
    root = str(tmp_path / "race")
    fl_init(
        spark, root,
        spark.createDataFrame([(1, "a"), (2, "x")], "k long, v string"),
        key="k",
    )
    fl_delete(spark, root, spark.createDataFrame([(1,)], "k long"))
    resolved = fl_current_version(root)
    real = table_format.fl_current_version
    raced = []

    def racing(r):
        v = real(r)
        if r == root and not raced:
            raced.append(v)  # set first: the merge's own reads pass through
            fl_merge_upsert(
                spark, root,
                spark.createDataFrame([(1, "b")], "k long, v string"),
                key="k",
            )
        return v

    monkeypatch.setattr(table_format, "fl_current_version", racing)
    got = {(r["k"], r["v"]) for r in read(spark, root).collect()}
    monkeypatch.setattr(table_format, "fl_current_version", real)
    assert raced == [resolved] and fl_current_version(root) != resolved
    want = {(r["k"], r["v"]) for r in fl_read_mor(spark, root, resolved).collect()}
    assert want == {(2, "x")}
    assert got == want


@pytest.mark.parametrize("rewrite", ["optimize", "compact"])
def test_file_size_target_applies_without_zorder(spark, tmp_path, rewrite):
    """OPTIMIZE and compaction exist to set file sizes, so they honour
    ``target_rows_per_file`` / ``layout_files`` on a table that has no
    Z-order spec too — same rows, the requested file count."""
    root = str(tmp_path / rewrite)
    fl_init(
        spark, root,
        spark.range(0, 400)
        .select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
        .repartition(8),
        key="k",
    )
    assert len(fl_manifest(root)) == 8
    before = sorted(map(tuple, fl_read(spark, root).collect()))
    if rewrite == "optimize":
        _, packed, total = fl_optimize(
            spark, root, small_rows=100, target_rows_per_file=1000
        )
        assert (packed, total) == (8, 8)
        want_files = 1
    else:
        fl_compact(spark, root, layout_files=2)
        want_files = 2
    assert len(fl_manifest(root)) == want_files
    assert sorted(map(tuple, fl_read(spark, root).collect())) == before


def test_merge_casts_incoming_columns_to_table_types(spark, tmp_path):
    """Rows typed wider than the table (bigint into an int column) are
    stored in the table's type, by Spark's store-assignment rule, so
    the table stays readable after both the pure-append and the
    touched-file merge path. An overflowing value fails the merge with
    nothing committed, and a pair Spark would not store-assign is
    refused."""
    root = str(tmp_path / "cast")
    fl_init(
        spark, root,
        spark.createDataFrame([(1, 10), (2, 20)], "k bigint, v int"), key="k",
    )
    fl_merge_upsert(
        spark, root, spark.createDataFrame([(5, 50)], "k bigint, v bigint"),
        key="k",
    )
    fl_merge_upsert(
        spark, root, spark.createDataFrame([(1, 11)], "k int, v bigint"),
        key="k",
    )
    got = fl_read(spark, root)
    assert got.schema["v"].dataType.simpleString() == "int"
    assert sorted(map(tuple, got.collect())) == [(1, 11), (2, 20), (5, 50)]

    head = fl_current_version(root)
    with pytest.raises(Exception, match="CAST_OVERFLOW"):
        fl_merge_upsert(
            spark, root,
            spark.createDataFrame([(6, 1 << 40)], "k bigint, v bigint"),
            key="k",
        )
    with pytest.raises(ValueError, match="cannot store column 'v'"):
        fl_merge_upsert(
            spark, root,
            spark.createDataFrame([(6, "x")], "k bigint, v string"), key="k",
        )
    assert fl_current_version(root) == head


def test_commits_record_operation_and_data_change(spark, tmp_path):
    """Every commit stamps its own ``operation`` and ``data_change``
    (False only for the layout-only operations), never the value its
    parent's props carried forward."""
    from citybikedatawarehouse_spark.operators.table_format import (
        fl_add_column,
        fl_add_constraint,
        fl_clone,
        fl_drop_constraint,
        fl_lineage,
        fl_rename_column,
        fl_restore,
        fl_set_zorder,
    )

    root = str(tmp_path / "ops")
    df = spark.range(0, 40).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("v")
    )
    v1 = fl_init(spark, root, df.repartition(2), key="k")
    fl_merge_upsert(spark, root, df.where("k < 3"), key="k")
    fl_delete(spark, root, df.where("k = 4"))
    fl_compact(spark, root, layout_files=2)
    fl_optimize(spark, root, small_rows=1000)
    fl_set_zorder(spark, root, ("k",))
    fl_add_constraint(spark, root, "v_nonneg", "v >= 0")
    fl_drop_constraint(spark, root, "v_nonneg")
    fl_add_column(spark, root, "note", "string")
    fl_rename_column(spark, root, "v", "w")
    fl_restore(spark, root, v1)
    clone = str(tmp_path / "ops_clone")
    fl_clone(root, clone, fl_current_version(root))

    props = [fl_table_props(root, v) for v in fl_lineage(root)]
    props.append(fl_table_props(clone))
    got = [(p["operation"], p["data_change"]) for p in props]
    assert got == [
        ("init", True), ("merge", True), ("delete", True),
        ("compact", False), ("optimize", False), ("set_zorder", False),
        ("add_constraint", False), ("drop_constraint", False),
        ("add_column", True), ("rename_column", True), ("restore", True),
        ("clone", True),
    ]


def test_vacuum_keep_zero_keeps_only_the_pointer_target(spark, tmp_path):
    """``keep`` counts the newest versions kept besides the pointer's
    target: 0 keeps the target alone, more than there are keeps all,
    and a negative count is refused before anything is dropped."""
    root = str(tmp_path / "vac")
    df = spark.range(0, 40).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("v")
    )
    fl_init(spark, root, df.repartition(2), key="k")
    for lo in (0, 10, 20):
        fl_merge_upsert(
            spark, root, df.where(f"k BETWEEN {lo} AND {lo + 2}"), key="k"
        )
    head = fl_current_version(root)
    want = sorted(map(tuple, fl_read(spark, root).collect()))
    assert len(fl_versions(root)) == 4
    with pytest.raises(ValueError, match="keep"):
        fl_vacuum(spark, root, keep=-1, retain_hours=0.0)
    assert fl_vacuum(spark, root, keep=10, retain_hours=0.0) == []
    assert len(fl_versions(root)) == 4
    deleted = fl_vacuum(spark, root, keep=0, retain_hours=0.0)
    assert fl_versions(root) == [head]
    assert deleted and not any(os.path.exists(p) for p in deleted)
    assert sorted(map(tuple, fl_read(spark, root).collect())) == want


def test_emptied_table_reads_without_a_job_and_add_column_checks_type(
    spark, tmp_path
):
    """A table with nested and decimal columns, every row deleted and
    compacted: the empty manifest reads as an empty relation with the
    table's schema and collects without a Spark job, a type string
    that is not one data type is refused without a commit, and the
    empty table still takes a merge."""
    from pyspark.errors import ParseException

    from citybikedatawarehouse_spark.operators.table_format import (
        fl_add_column,
    )

    root = str(tmp_path / "emptied")
    df = spark.range(0, 20).select(
        F.col("id").alias("k"),
        F.array(
            F.struct(
                F.col("id").cast("int").alias("x"), F.lit("a").alias("y")
            )
        ).alias("tags"),
        (F.col("id") / 4).cast("decimal(10,2)").alias("amt"),
    )
    v1 = fl_init(spark, root, df, key="k", zorder_by=("k",), layout_files=2)
    schema = fl_read(spark, root, v1).schema
    fl_delete(spark, root, df.select("k"))
    fl_compact(spark, root)
    v_empty = fl_compact(spark, root)  # compacting an empty table
    assert len(fl_manifest(root)) == 0
    assert not os.path.exists(table_format._commit_dir(root, v_empty))

    empty = fl_read(spark, root)
    assert empty.schema == schema
    assert _count_jobs(spark, "emptied_read", empty.collect) == ([], 0)

    with pytest.raises(ParseException):
        fl_add_column(spark, root, "x", "int) AS y, CAST(NULL AS int")
    assert fl_current_version(root) == v_empty

    fl_merge_upsert(spark, root, df.where("k < 5"), key="k")
    assert sorted(r["k"] for r in fl_read_mor(spark, root).collect()) == [
        0, 1, 2, 3, 4,
    ]


def test_zorder_column_name_that_needs_quoting(spark, tmp_path):
    """A Z-order column named ``order key`` clusters like any other
    (its name once reached SQL text unquoted and failed to parse):
    init (bounds computed in the plan), a merge and a compaction
    (bounds from the manifest zones) all commit, and the reads see
    every row with its latest values."""
    root = str(tmp_path / "quoted")
    df = spark.range(200).select(
        F.col("id").alias("k"),
        (F.col("id") * 7 % 50).alias("order key"),
        F.lit("x").alias("v"),
    )
    fl_init(
        spark, root, df, key="k", stats_cols=("order key",),
        zorder_by=("order key",), layout_files=4,
    )
    assert "min_order key" in fl_manifest(root).columns
    assert fl_read_mor(spark, root).count() == 200
    inserts = spark.range(500, 510).select(
        F.col("id").alias("k"),
        F.lit(3).cast("long").alias("order key"),
        F.lit("n").alias("v"),
    )
    fl_merge_upsert(
        spark, root,
        df.where("k < 20").withColumn("v", F.lit("y")).unionByName(inserts),
        key="k",
    )
    fl_compact(spark, root)
    got = {
        r["k"]: (r["order key"], r["v"])
        for r in fl_read_mor(spark, root).collect()
    }
    want = {i: (i * 7 % 50, "y" if i < 20 else "x") for i in range(200)}
    want.update({i: (3, "n") for i in range(500, 510)})
    assert got == want
    pruned, n_read, n_total = fl_read_pruned(
        spark, root, {"order key": (0, 9)}
    )
    assert n_read < n_total
    low = pruned.where(F.col("order key") <= 9).collect()
    assert sorted(r["k"] for r in low) == sorted(
        k for k, (ok, _) in want.items() if ok <= 9
    )
