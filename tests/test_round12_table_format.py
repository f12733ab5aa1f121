"""Round-12 table-format hardening: delete sets surviving key
renames (per-dir positional binding), the single-column delete-file
invariant, empty-delete-batch no-ops, the rename-steal CAS lock
(two stealers -> exactly one enters the critical section;
token-verified release; mis-steal restore), and vacuum retention.

These pin the round-11 VERDICT/ADVICE fixes:
- ADVICE high: multi-dir ``spark.read.parquet(*dirs)`` resolves
  columns by NAME, so delete dirs written before a key rename read
  as NULLs and deleted rows resurface. Now read per-dir + union
  positionally.
- VERDICT "What's wrong" #1: os.remove-based lock steal is a TOCTOU
  hole — two stealers can interleave so the second removes the
  first's FRESH lock. Now an atomic os.rename steal + corpse
  re-verify + token-verified release.
- VERDICT "What's missing" #3: vacuum had no retention horizon.
"""

from __future__ import annotations

import os
import threading
import time

import pytest
from pyspark.sql import functions as F

from citybikedatawarehouse_spark.operators import table_format as tf
from citybikedatawarehouse_spark.operators.table_format import (
    CommitConflictError,
    _delete_keys_df,
    fl_changes,
    fl_current_version,
    fl_delete,
    fl_init,
    fl_merge_upsert,
    fl_read,
    fl_read_mor,
    fl_rename_column,
    fl_table_props,
    fl_vacuum,
    fl_versions,
    manifest_commit_cas,
)


def _orders(spark, sf_dir):
    from citybikedatawarehouse_spark.sources.readers import load_table

    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )


def _init(spark, sf_dir, tmp_path, name="fl12"):
    root = str(tmp_path / name)
    o = _orders(spark, sf_dir)
    fl_init(
        spark,
        root,
        o,
        key="o_orderkey",
        stats_cols=("o_custkey",),
        zorder_by=("o_orderkey",),
        layout_files=8,
    )
    return root, o


# ---------------------------------------------------------------------------
# delete set vs key rename (ADVICE high)
# ---------------------------------------------------------------------------


def test_delete_set_survives_key_rename(spark, sf_dir, tmp_path):
    """fl_delete -> fl_rename_column(key) -> fl_delete -> fl_read_mor:
    the exact ADVICE repro. Dirs written under the OLD key name and
    dirs under the NEW name must BOTH apply — a by-name multi-dir
    read would NULL out one side and resurface its deleted rows."""
    root, o = _init(spark, sf_dir, tmp_path)
    n_all = o.count()
    ks = [r[0] for r in o.select("o_orderkey").limit(6).collect()]
    pre, post = ks[:3], ks[3:]

    n1, _ = fl_delete(
        spark, root, spark.createDataFrame([(k,) for k in pre], "o_orderkey bigint")
    )
    assert n1 == 3
    fl_rename_column(spark, root, "o_orderkey", "order_id")
    n2, _ = fl_delete(
        spark, root, spark.createDataFrame([(k,) for k in post], "order_id bigint")
    )
    assert n2 == 3

    got = fl_read_mor(spark, root)
    assert got.count() == n_all - 6
    # not one single deleted key resurfaced — from either side of the
    # rename
    assert got.where(F.col("order_id").isin(ks)).count() == 0
    # and the delete-set reader itself yields 6 non-null keys
    dels = _delete_keys_df(spark, fl_table_props(root))
    assert dels.where(F.col("order_id").isNull()).count() == 0
    assert dels.distinct().count() == 6

    # a merge AFTER the rename still folds the mixed-name delete set
    # correctly: re-inserting one pre-rename-deleted key revives it
    revive = o.where(F.col("o_orderkey") == pre[0]).toDF(
        "order_id", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    fl_merge_upsert(spark, root, revive, key="order_id")
    got2 = fl_read_mor(spark, root)
    assert got2.where(F.col("order_id") == pre[0]).count() == 1
    assert got2.where(F.col("order_id").isin(ks[1:])).count() == 0


def test_delete_fold_survives_key_rename(spark, sf_dir, tmp_path, monkeypatch):
    """The fold path unions every accumulated dir — with a key rename
    in the middle of the accumulation, the fold must bind each dir's
    single column positionally too."""
    monkeypatch.setattr(tf, "_DELETE_FOLD_AFTER", 2)
    root, o = _init(spark, sf_dir, tmp_path, name="flfold12")
    ks = [r[0] for r in o.select("o_orderkey").limit(4).collect()]

    fl_delete(spark, root, spark.createDataFrame([(ks[0],)], "o_orderkey bigint"))
    fl_rename_column(spark, root, "o_orderkey", "oid")
    fl_delete(spark, root, spark.createDataFrame([(ks[1],)], "oid bigint"))
    # third delete pushes past the threshold: folds [old-name dir,
    # new-name dir, new-name dir] into one
    fl_delete(spark, root, spark.createDataFrame([(ks[2],)], "oid bigint"))
    props = fl_table_props(root)
    assert len(props["delete_dirs"]) == 1
    assert props["delete_dirs"][0].endswith("_fold")

    dels = _delete_keys_df(spark, props)
    assert dels.where(F.col("oid").isNull()).count() == 0
    assert sorted(r[0] for r in dels.distinct().collect()) == sorted(ks[:3])
    got = fl_read_mor(spark, root)
    assert got.where(F.col("oid").isin(ks[:3])).count() == 0
    assert got.where(F.col("oid") == ks[3]).count() == 1


def test_changes_span_key_rename_with_deletes(spark, sf_dir, tmp_path):
    """fl_changes across a (delete, rename, delete) history: both
    delete-set sides align to the TO-version key name."""
    root, o = _init(spark, sf_dir, tmp_path, name="flcdc12")
    v1 = fl_current_version(root)
    ks = [r[0] for r in o.select("o_orderkey").limit(2).collect()]
    fl_delete(spark, root, spark.createDataFrame([(ks[0],)], "o_orderkey bigint"))
    fl_rename_column(spark, root, "o_orderkey", "oid")
    fl_delete(spark, root, spark.createDataFrame([(ks[1],)], "oid bigint"))
    ch = fl_changes(spark, root, v1).orderBy("oid")
    rows = ch.select("op", "oid").collect()
    assert [(r["op"], r["oid"]) for r in rows] == [
        ("D", k) for k in sorted(ks)
    ]


def test_delete_dir_single_column_invariant(spark, tmp_path):
    """_delete_keys_df refuses a multi-column delete dir instead of
    silently mis-binding the key positionally (VERDICT ask #7)."""
    bad = str(tmp_path / "bad_deletes")
    spark.createDataFrame([(1, "x")], "k bigint, extra string").write.parquet(bad)
    with pytest.raises(ValueError, match="exactly 1 column"):
        _delete_keys_df(spark, {"delete_dirs": [bad], "key": "k"})


def test_empty_delete_batch_is_noop(spark, sf_dir, tmp_path):
    """An empty delete batch must not commit (ADVICE low): a
    committed empty dir would make the delete set non-empty forever —
    every read pays the anti-join and merges lose the pure-append
    fast path."""
    root, o = _init(spark, sf_dir, tmp_path, name="flnoop12")
    v_before = fl_current_version(root)
    mdir = os.path.join(root, "_manifests")
    claims_before = sorted(f for f in os.listdir(mdir) if f.endswith(".claim"))
    n, v = fl_delete(spark, root, o.select("o_orderkey").where(F.lit(False)))
    assert (n, v) == (0, v_before)
    assert fl_current_version(root) == v_before
    assert fl_table_props(root)["delete_dirs"] == []
    # no version number claimed, no staging dir left behind: a
    # streaming sink's routine empty batches must not leak artifacts
    assert sorted(
        f for f in os.listdir(mdir) if f.endswith(".claim")
    ) == claims_before
    assert os.listdir(os.path.join(root, "deletes")) == []
    # pure-append fast path intact: far-beyond-range inserts rewrite 0
    hi = o.agg(F.max("o_orderkey")).first()[0]
    ins = o.limit(2).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(hi + 10)
    )
    n_rep, n_ins, n_touch, _ = fl_merge_upsert(spark, root, ins, key="o_orderkey")
    assert (n_rep, n_ins, n_touch) == (0, 2, 0)


# ---------------------------------------------------------------------------
# CAS lock: rename-steal, token release, mis-steal restore
# ---------------------------------------------------------------------------


def _pointer_init(root, version="v1"):
    os.makedirs(root, exist_ok=True)
    manifest_commit_cas(root, version, None)


def _stale_lock(root, content="corpse\n", age=120.0):
    lock = os.path.join(root, tf._COMMIT_LOCK)
    with open(lock, "w") as f:
        f.write(content)
    t = time.time() - age
    os.utime(lock, (t, t))
    return lock


def test_two_stealers_exactly_one_enters(tmp_path, monkeypatch):
    """Two writers race to steal the SAME stale lock and commit from
    the same parent: the atomic-rename steal guarantees exactly one
    wins the steal, and the pointer compare guarantees exactly one
    commit — the other gets CommitConflictError, and the critical
    section is never doubly occupied (checked with an occupancy
    counter inside a slowed _manifest_commit)."""
    root = str(tmp_path / "cas")
    _pointer_init(root)
    _stale_lock(root)

    occupancy = {"cur": 0, "max": 0}
    occ_lock = threading.Lock()
    real_commit = tf._manifest_commit

    def slow_commit(r, v):
        with occ_lock:
            occupancy["cur"] += 1
            occupancy["max"] = max(occupancy["max"], occupancy["cur"])
        time.sleep(0.25)  # widen the window a double-entry would need
        try:
            real_commit(r, v)
        finally:
            with occ_lock:
                occupancy["cur"] -= 1

    monkeypatch.setattr(tf, "_manifest_commit", slow_commit)

    barrier = threading.Barrier(2)
    results = {}

    def writer(version):
        barrier.wait()
        try:
            manifest_commit_cas(root, version, "v1")
            results[version] = "ok"
        except CommitConflictError:
            results[version] = "conflict"

    ts = [threading.Thread(target=writer, args=(v,)) for v in ("v2", "v3")]
    for t in ts:
        t.start()
    for t in ts:
        t.join()

    assert sorted(results.values()) == ["conflict", "ok"]
    assert occupancy["max"] == 1, "two writers inside the CAS critical section"
    winner = next(v for v, r in results.items() if r == "ok")
    assert tf.fl_current_version(root) == winner
    assert not os.path.exists(os.path.join(root, tf._COMMIT_LOCK))


def test_stalled_holder_release_is_token_verified(tmp_path, monkeypatch):
    """A holder that stalls past _LOCK_STALE_SEC gets legitimately
    stolen; when it finally releases, it must NOT delete the current
    holder's (or any later writer's) lock — release only removes a
    lock still carrying the stalled writer's own token."""
    root = str(tmp_path / "cas2")
    _pointer_init(root)
    monkeypatch.setattr(tf, "_LOCK_STALE_SEC", 0.05)

    hold = threading.Event()
    inside = threading.Event()
    real_commit = tf._manifest_commit

    def stall_on_v2(r, v):
        if v == "v2":
            inside.set()
            assert hold.wait(10)
        real_commit(r, v)

    monkeypatch.setattr(tf, "_manifest_commit", stall_on_v2)

    t = threading.Thread(
        target=lambda: manifest_commit_cas(root, "v2", "v1")
    )
    t.start()
    assert inside.wait(10)
    time.sleep(0.2)  # stall past the (shrunk) staleness horizon

    # a recovery writer steals the stalled lock and commits
    manifest_commit_cas(root, "v3", "v1")
    assert tf.fl_current_version(root) == "v3"

    # a THIRD writer now holds the lock when the stalled one resumes
    lock = os.path.join(root, tf._COMMIT_LOCK)
    with open(lock, "w") as f:
        f.write("thief-token\n")
    hold.set()
    t.join()

    # the stalled holder's finally left the thief's lock alone
    with open(lock) as f:
        assert f.read() == "thief-token\n"


def test_missteal_of_live_lock_restores_and_fails_loudly(
    tmp_path, monkeypatch
):
    """The μs race where a live lock looks stale at the check: the
    corpse re-verify (real mtime survives the rename) detects the
    mis-steal, restores the original lock bytes, and — with the
    holder never releasing — gives up with IOError instead of ever
    entering the critical section alongside the live holder."""
    root = str(tmp_path / "cas3")
    _pointer_init(root)
    lock = os.path.join(root, tf._COMMIT_LOCK)
    with open(lock, "w") as f:
        f.write("live-holder\n")  # fresh mtime: genuinely live

    real_getmtime = os.path.getmtime

    def lying_getmtime(path):
        # the lock path itself reports ancient (the stale TOCTOU
        # decision); the renamed corpse keeps its REAL fresh mtime
        if os.path.basename(path) == tf._COMMIT_LOCK:
            return 0.0
        return real_getmtime(path)

    monkeypatch.setattr(os.path, "getmtime", lying_getmtime)
    monkeypatch.setattr(tf, "_LOCK_WAIT_SEC", 0.3)

    with pytest.raises(IOError, match="proving live|could not acquire"):
        manifest_commit_cas(root, "v2", "v1")

    monkeypatch.undo()
    with open(lock) as f:
        assert f.read() == "live-holder\n"  # restored, not stolen
    assert tf.fl_current_version(root) == "v1"  # never flipped


# ---------------------------------------------------------------------------
# vacuum retention
# ---------------------------------------------------------------------------


def test_vacuum_retention_protects_recent_versions(spark, sf_dir, tmp_path):
    """Default retention: versions committed within retain_hours are
    kept even outside `keep`, so a reader that resolved an old
    version name pre-vacuum still reads it. force=True bypasses the
    horizon (documented torn-read hazard)."""
    root, o = _init(spark, sf_dir, tmp_path, name="flvac12")
    for delta in (1.0, 2.0):
        fl_merge_upsert(
            spark,
            root,
            o.where(F.col("o_orderkey") % 50 == 0).withColumn(
                "o_totalprice", F.col("o_totalprice") + F.lit(delta)
            ),
            key="o_orderkey",
        )
    v1, v2, v3 = fl_versions(root)
    want_v1 = fl_read(spark, root, v1).count()

    deleted = fl_vacuum(spark, root, keep=2)  # default 7-day retention
    assert deleted == []
    assert fl_versions(root) == [v1, v2, v3]
    # the pre-vacuum reader's version still fully readable
    assert fl_read(spark, root, v1).count() == want_v1

    deleted = fl_vacuum(spark, root, keep=2, force=True)
    assert fl_versions(root) == [v2, v3]
    for p in deleted:
        assert not os.path.exists(p)
    assert fl_read(spark, root).count() == fl_read(spark, root, v3).count()


# ---------------------------------------------------------------------------
# merge single-scan pin: counts ride the write via observe()
# ---------------------------------------------------------------------------


def test_merge_counts_ride_the_write_no_count_job(
    spark, sf_dir, tmp_path, monkeypatch
):
    """fl_merge_upsert must resolve n_replaced WITHOUT a count()
    action on the touched slice (the pre-round-12 matched.count()
    rescanned every touched file): DataFrame.count is poisoned for
    the whole merge — the observe()-metrics path is the only way the
    returned counts can still be exact."""
    from pyspark.sql import DataFrame

    root, o = _init(spark, sf_dir, tmp_path, name="flobs12")
    band = F.col("o_orderkey").between(1000, 2000)
    n_band = o.where(band).count()
    updates = o.where(band).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(1.0)
    )
    # a delete set forces the full else-branch (anti-join + fold)
    doomed = o.where((F.col("o_orderkey") % 100 == 3)).select("o_orderkey")
    n_doomed_in_band = o.where(
        band & (F.col("o_orderkey") % 100 == 3)
    ).count()
    fl_delete(spark, root, doomed)

    def poisoned(self, *a, **kw):
        raise AssertionError(
            "fl_merge_upsert launched a DataFrame.count() job — the "
            "matched count must ride the commit write via observe()"
        )

    monkeypatch.setattr(DataFrame, "count", poisoned)
    try:
        n_rep, n_ins, n_touch, _ = fl_merge_upsert(
            spark, root, updates, key="o_orderkey"
        )
    finally:
        monkeypatch.undo()
    # deleted band keys are NOT matched (they re-insert), so exact
    # counts prove the observations measured the real plan
    assert n_rep == n_band - n_doomed_in_band
    assert n_ins == n_doomed_in_band
    assert n_touch > 0
    got = fl_read_mor(spark, root).where(band)
    assert got.count() == n_band


# ---------------------------------------------------------------------------
# cluster-spec evolution (ALTER TABLE CLUSTER BY)
# ---------------------------------------------------------------------------


def test_set_zorder_migrates_incrementally(spark, sf_dir, tmp_path):
    """fl_set_zorder is metadata-only (no file rewritten, NULL zones
    for the new stats column), later writes cluster on the NEW spec,
    and a compact finishes the migration: pruning on the new column
    then actually skips files. Content is identical throughout."""
    from citybikedatawarehouse_spark.operators.table_format import (
        fl_compact,
        fl_manifest,
        fl_read_pruned,
        fl_set_zorder,
    )

    root, o = _init(spark, sf_dir, tmp_path, name="flzorder12")
    want = o.count()
    files_before = sorted(fl_manifest(root)["path"])

    # o_totalprice is NOT tracked at init — the evolution must add
    # it as a NULL zone on every existing file
    v = fl_set_zorder(spark, root, ("o_totalprice",))
    m = fl_manifest(root, v)
    assert sorted(m["path"]) == files_before  # metadata-only
    assert m["min_o_totalprice"].isna().all()
    props = fl_table_props(root, v)
    assert props["zorder_by"] == ["o_totalprice"]
    assert "o_totalprice" in props["stats_cols"]
    # pruning on the new column is allowed but skips nothing yet
    lo = o.agg(F.expr("percentile(o_totalprice, 0.4)")).first()[0]
    hi = o.agg(F.expr("percentile(o_totalprice, 0.6)")).first()[0]
    df, n_read, n_total = fl_read_pruned(
        spark, root, {"o_totalprice": (lo, hi)}
    )
    assert n_read == n_total
    assert fl_read(spark, root).count() == want

    # one full re-cluster on the new spec -> pruning now engages
    fl_compact(spark, root, layout_files=8)
    df2, n_read2, n_total2 = fl_read_pruned(
        spark, root, {"o_totalprice": (lo, hi)}
    )
    assert 0 < n_read2 < n_total2
    band = F.col("o_totalprice").between(lo, hi)
    assert df2.where(band).count() == o.where(band).count()
    assert fl_read(spark, root).count() == want


def test_set_zorder_rejects_unknown_column(spark, sf_dir, tmp_path):
    from citybikedatawarehouse_spark.operators.table_format import (
        fl_set_zorder,
    )

    root, _ = _init(spark, sf_dir, tmp_path, name="flzorder12b")
    with pytest.raises(ValueError, match="no column"):
        fl_set_zorder(spark, root, ("nope",))


# ---------------------------------------------------------------------------
# round-12 optimization: scale-adaptive commit-slice persist
# ---------------------------------------------------------------------------


def test_persist_wanted_thresholds(monkeypatch):
    assert not tf._persist_wanted(est_rows=100)
    assert tf._persist_wanted(est_rows=tf._PERSIST_MIN_ROWS)
    assert not tf._persist_wanted(est_bytes=1024)
    assert tf._persist_wanted(est_bytes=tf._PERSIST_MIN_BYTES)
    # unknown size -> persist (the conservative choice at scale)
    assert tf._persist_wanted()
    # the thresholds are read at call time: raising them past any
    # size means never persist, zero means always persist
    monkeypatch.setattr(tf, "_PERSIST_MIN_ROWS", 10**13)
    assert not tf._persist_wanted(est_rows=10**12)
    monkeypatch.setattr(tf, "_PERSIST_MIN_ROWS", 0)
    assert tf._persist_wanted(est_rows=1)
    monkeypatch.setattr(tf, "_PERSIST_MIN_ROWS", 10)
    assert tf._persist_wanted(est_rows=10)
    assert not tf._persist_wanted(est_rows=9)
    monkeypatch.setattr(tf, "_PERSIST_MIN_BYTES", 10)
    assert tf._persist_wanted(est_bytes=10)
    assert not tf._persist_wanted(est_bytes=9)


def test_merge_identical_with_and_without_persist(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Both persist regimes must produce the same committed state and
    the same (n_replaced, n_inserted) counts — the observe() metrics
    are deterministic whichever pass materializes first."""
    import pandas as pd

    o = _orders(spark, sf_dir)
    states = {}
    # "0": thresholds past any size (never persist); "1": zero
    # thresholds (always persist) — init and merge alike
    for mode, threshold in (("0", 10**18), ("1", 0)):
        monkeypatch.setattr(tf, "_PERSIST_MIN_ROWS", threshold)
        monkeypatch.setattr(tf, "_PERSIST_MIN_BYTES", threshold)
        root = str(tmp_path / f"flpersist_{mode}")
        fl_init(
            spark, root, o, key="o_orderkey",
            zorder_by=("o_orderkey",), layout_files=4,
        )
        upd = o.where(F.col("o_orderkey") % 7 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(2.0)
        )
        counts = fl_merge_upsert(spark, root, upd, key="o_orderkey")
        states[mode] = (
            counts[:2],
            fl_read(spark, root)
            .orderBy("o_orderkey")
            .toPandas(),
        )
    assert states["0"][0] == states["1"][0]
    pd.testing.assert_frame_equal(states["0"][1], states["1"][1])
