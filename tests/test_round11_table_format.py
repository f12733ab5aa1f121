"""Round-11 file-list table format guarantees: the merge-on-read
delete set lives executor-side (never driver-materialized), commits
are optimistic-concurrency CAS flips (lost updates impossible),
schema evolves by field id without rewriting data files, and
``fl_changes`` emits the minimal I/U/D feed between versions."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from citybikedatawarehouse_spark.operators.table_format import (
    CommitConflictError,
    fl_add_column,
    fl_changes,
    fl_compact,
    fl_current_version,
    fl_delete,
    fl_delete_keys,
    fl_init,
    fl_manifest,
    fl_merge_upsert,
    fl_read,
    fl_read_mor,
    fl_read_pruned,
    fl_rename_column,
    fl_table_props,
    fl_versions,
)


def _orders(spark, sf_dir):
    from citybikedatawarehouse_spark.sources.readers import load_table

    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )


def _init(spark, sf_dir, tmp_path, name="fl"):
    root = str(tmp_path / name)
    o = _orders(spark, sf_dir)
    fl_init(
        spark, root, o, key="o_orderkey",
        stats_cols=("o_custkey",), zorder_by=("o_orderkey",),
        layout_files=16,
    )
    return root, o


# ---------------------------------------------------------------------------
# delete set never touches the driver
# ---------------------------------------------------------------------------


def test_delete_and_merge_never_materialize_keys_on_driver(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The round-10 scale-killer, pinned structurally: with
    DataFrame.toPandas poisoned, fl_delete AND a delete-folding
    fl_merge_upsert still work — the delete set is written, applied,
    and folded entirely by executors. (fl_delete additionally never
    calls .collect(): its only driver values are counts.)"""

    def _poison(self, *a, **kw):  # pragma: no cover - must not run
        raise AssertionError(
            "toPandas() called on a table-format write path"
        )

    root, o = _init(spark, sf_dir, tmp_path)
    doomed = o.where(F.col("o_orderkey") % 10 == 3)
    n_doomed = doomed.count()
    n_all = o.count()

    monkeypatch.setattr(DataFrame, "toPandas", _poison)
    real_collect = DataFrame.collect

    def _no_collect(self, *a, **kw):  # pragma: no cover - must not run
        raise AssertionError("collect() called inside fl_delete")

    monkeypatch.setattr(DataFrame, "collect", _no_collect)
    n_keys, _ = fl_delete(spark, root, doomed)
    assert n_keys == n_doomed
    monkeypatch.setattr(DataFrame, "collect", real_collect)

    # merge over a table WITH a delete set: the survivor fold is a
    # distributed anti-join, not a toPandas
    reins = doomed.where(F.col("o_orderkey") % 100 == 3).withColumn(
        "o_orderstatus", F.lit("B")
    )
    n_reins = reins.count()
    fl_merge_upsert(spark, root, reins, key="o_orderkey")
    monkeypatch.undo()
    assert fl_read_mor(spark, root).count() == n_all - n_doomed + n_reins
    remaining = set(fl_delete_keys(spark, root)["o_orderkey"])
    assert remaining and not any(k % 100 == 3 for k in remaining)


def test_delete_dirs_fold_past_threshold(spark, tmp_path):
    """Each delete commit adds one immutable dir; past the fold
    threshold the set is rewritten into ONE dir (executor-side), so
    MOR reads never union an unbounded dir list."""
    from citybikedatawarehouse_spark.operators.table_format import (
        _DELETE_FOLD_AFTER,
    )

    root = str(tmp_path / "flfold")
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    fl_init(spark, root, df, key="k", zorder_by=("k",), layout_files=4)
    for i in range(_DELETE_FOLD_AFTER + 2):
        keys = spark.range(i * 10, i * 10 + 10).select(F.col("id").alias("k"))
        fl_delete(spark, root, keys)
        # the dir list is bounded: a commit pushing it past the
        # threshold folds it back to one
        assert len(fl_table_props(root)["delete_dirs"]) <= _DELETE_FOLD_AFTER
    dirs = fl_table_props(root)["delete_dirs"]
    assert any(d.endswith("_fold") for d in dirs)  # the fold engaged
    n_deleted = (_DELETE_FOLD_AFTER + 2) * 10
    assert fl_read_mor(spark, root).count() == 1000 - n_deleted
    assert len(fl_delete_keys(spark, root)) == n_deleted


# ---------------------------------------------------------------------------
# optimistic concurrency: CAS pointer flip
# ---------------------------------------------------------------------------


def test_concurrent_writers_exactly_one_commits(spark, sf_dir, tmp_path):
    """Two writers race from the same parent: the one that flips
    first wins; the other raises CommitConflictError and its fully-
    staged version stays an orphan invisible to readers — never a
    silent lost update (the round-10 blind-overwrite gap)."""
    root, o = _init(spark, sf_dir, tmp_path)
    v1 = fl_current_version(root)

    inner_updates = o.where(F.col("o_orderkey") % 100 == 0).withColumn(
        "o_orderstatus", F.lit("A")
    )
    outer_updates = o.where(F.col("o_orderkey") % 100 == 50).withColumn(
        "o_orderstatus", F.lit("Z")
    )

    def _race():
        # a second writer commits while the first is mid-flight
        fl_merge_upsert(spark, root, inner_updates, key="o_orderkey")

    with pytest.raises(CommitConflictError, match="moved from parent"):
        fl_merge_upsert(
            spark, root, outer_updates, key="o_orderkey",
            _pause_before_commit=_race,
        )

    # winner's commit visible, loser's invisible
    got = fl_read(spark, root)
    assert got.where(F.col("o_orderstatus") == "A").count() == \
        inner_updates.count()
    assert got.where(F.col("o_orderstatus") == "Z").count() == 0
    # the loser's fully-staged version exists as an orphan (it
    # claimed its number BEFORE the winner, so it sits between v1 and
    # the pointer target) — readers never see it
    cur = fl_current_version(root)
    assert len(fl_versions(root)) == 3 and cur == fl_versions(root)[-1]
    assert fl_table_props(root)["parent"] == v1  # winner's lineage
    # the loser retries against the new version and succeeds
    fl_merge_upsert(spark, root, outer_updates, key="o_orderkey")
    assert (
        fl_read(spark, root).where(F.col("o_orderstatus") == "Z").count()
        == outer_updates.count()
    )


def test_double_init_rejected(spark, sf_dir, tmp_path):
    root, o = _init(spark, sf_dir, tmp_path)
    with pytest.raises(CommitConflictError):
        fl_init(spark, root, o.limit(5), key="o_orderkey")


# ---------------------------------------------------------------------------
# schema evolution by field id
# ---------------------------------------------------------------------------


def test_add_column_is_metadata_only_and_backfills_null(
    spark, sf_dir, tmp_path
):
    root, o = _init(spark, sf_dir, tmp_path)
    paths_before = set(fl_manifest(root)["path"])
    fl_add_column(spark, root, "o_tier", "string")
    assert set(fl_manifest(root)["path"]) == paths_before  # no rewrite
    got = fl_read(spark, root)
    assert got.schema["o_tier"].dataType.simpleString() == "string"
    assert got.where(F.col("o_tier").isNotNull()).count() == 0
    assert got.count() == o.count()
    with pytest.raises(ValueError, match="already exists"):
        fl_add_column(spark, root, "o_tier", "string")

    # a merge now writes the column physically; old files still read
    ups = o.where(F.col("o_orderkey") % 100 == 0).withColumn(
        "o_tier", F.lit("gold")
    )
    fl_merge_upsert(spark, root, ups, key="o_orderkey")
    got = fl_read(spark, root)
    assert got.where(F.col("o_tier") == "gold").count() == ups.count()
    assert got.count() == o.count()
    # manifest now carries TWO write-time schemas
    assert fl_manifest(root)["schema_cols"].nunique() == 2


def test_rename_column_including_key_keeps_old_files_valid(
    spark, sf_dir, tmp_path
):
    root, o = _init(spark, sf_dir, tmp_path)
    want_sum = o.agg(F.sum("o_totalprice")).collect()[0][0]

    # delete BEFORE the rename: delete files bind positionally, so
    # they must survive a key rename
    fl_delete(spark, root, o.where(F.col("o_orderkey") % 10 == 3))
    n_mor = o.where(F.col("o_orderkey") % 10 != 3).count()

    paths_before = set(fl_manifest(root)["path"])
    fl_rename_column(spark, root, "o_totalprice", "price")
    fl_rename_column(spark, root, "o_orderkey", "order_id")
    assert set(fl_manifest(root)["path"]) == paths_before  # no rewrite

    props = fl_table_props(root)
    assert props["key"] == "order_id"
    assert "order_id" in props["stats_cols"]
    assert props["zorder_by"] == ["order_id"]
    m = fl_manifest(root)
    assert "min_order_id" in m.columns and "min_o_orderkey" not in m.columns

    got = fl_read(spark, root)
    assert set(got.columns) == {
        "order_id", "o_custkey", "price", "o_orderstatus"
    }
    assert abs(got.agg(F.sum("price")).collect()[0][0] - want_sum) < 0.01
    assert fl_read_mor(spark, root).count() == n_mor

    # pruned read under the NEW key name
    df, n_read, n_total = fl_read_pruned(
        spark, root, {"order_id": (1000, 2000)}
    )
    assert 0 < n_read < n_total

    # merge under the new names: targeting, zones, layout all renamed
    # (built off the MOR view — an update of a DELETED key is a
    # re-insert, not a match)
    ups = fl_read_mor(spark, root).where(
        F.col("order_id").between(1000, 2000)
    ).withColumn("price", F.col("price") + F.lit(1.0))
    n_rep, n_ins, n_touch, n_tot = fl_merge_upsert(
        spark, root, ups, key="order_id"
    )
    assert n_rep == ups.count() and n_ins == 0 and 0 < n_touch < n_tot
    with pytest.raises(ValueError, match="no column"):
        fl_rename_column(spark, root, "o_orderkey", "x")


def test_compact_of_fully_deleted_table_and_resurrection(
    spark, tmp_path
):
    """Empty-state compaction (round-10 ADVICE): all rows deleted ->
    compaction commits an explicitly-empty manifest, fl_read returns
    an empty relation with the schema, and a later merge
    re-populates the table from scratch."""
    root = str(tmp_path / "flempty")
    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    fl_init(spark, root, df, key="k", zorder_by=("k",), layout_files=2)
    fl_delete(spark, root, df.select("k"))
    assert fl_read_mor(spark, root).count() == 0
    fl_compact(spark, root)
    assert len(fl_manifest(root)) == 0
    assert fl_table_props(root)["delete_dirs"] == []
    got = fl_read(spark, root)
    assert got.count() == 0 and set(got.columns) == {"k", "v"}
    # resurrection: merge into the empty table
    n_rep, n_ins, n_touch, n_total = fl_merge_upsert(
        spark, root, df.limit(10), key="k"
    )
    assert (n_rep, n_ins, n_touch, n_total) == (0, 10, 0, 0)
    assert fl_read(spark, root).count() == 10


# ---------------------------------------------------------------------------
# CDC change feed
# ---------------------------------------------------------------------------


def test_fl_changes_minimal_iud(spark, sf_dir, tmp_path):
    root, o = _init(spark, sf_dir, tmp_path)
    v1 = fl_current_version(root)

    # v2: update a band + insert fresh keys
    band = F.col("o_orderkey").between(1000, 2000)
    ups = o.where(band).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(1.0)
    )
    max_k = o.agg(F.max("o_orderkey")).collect()[0][0]
    ins = o.where(F.col("o_orderkey") % 1000 == 0).select(
        (F.col("o_orderkey") + F.lit(max_k + 1)).alias("o_orderkey"),
        "o_custkey", "o_totalprice",
        F.lit("N").alias("o_orderstatus"),
    )
    fl_merge_upsert(spark, root, ups.unionByName(ins), key="o_orderkey")

    # v3: scattered delete
    doomed = fl_read(spark, root).where(F.col("o_orderkey") % 10 == 7)
    _, v3 = fl_delete(spark, root, doomed)

    ch = fl_changes(spark, root, v1, v3).cache()
    n_band = o.where(band).count()
    n_band_kept = o.where(band & (F.col("o_orderkey") % 10 != 7)).count()
    n_ins_kept = ins.where(F.col("o_orderkey") % 10 != 7).count()
    n_del_v1 = o.where(F.col("o_orderkey") % 10 == 7).count()
    by_op = {r["op"]: r["n"] for r in ch.groupBy("op").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert by_op.get("U", 0) == n_band_kept
    assert by_op.get("I", 0) == n_ins_kept
    assert by_op.get("D", 0) == n_del_v1
    # U rows carry the NEW payload; D rows the v1 payload
    u_delta = (
        ch.where(F.col("op") == "U")
        .join(o.select("o_orderkey",
                       F.col("o_totalprice").alias("old_price")),
              "o_orderkey")
        .where(F.abs(F.col("o_totalprice") - F.col("old_price") - 1.0)
               > 1e-6)
        .count()
    )
    assert u_delta == 0
    ch.unpersist()

    # deleted band keys net out as D with the ORIGINAL payload, and
    # never as U — checked above via counts (n_band - n_band_kept > 0)
    assert n_band > n_band_kept

    # a pure compaction changes nothing: empty feed
    v_pre = fl_current_version(root)
    fl_compact(spark, root)
    assert fl_changes(spark, root, v_pre).count() == 0

    # undelete via merge: shows up as I
    back = o.where(
        (F.col("o_orderkey") % 10 == 7) & (F.col("o_orderkey") < 500)
    )
    v_now = fl_current_version(root)
    fl_merge_upsert(spark, root, back, key="o_orderkey")
    ch2 = fl_changes(spark, root, v_now)
    got_i = ch2.where(F.col("op") == "I").count()
    assert got_i == back.count()
    assert ch2.where(F.col("op") == "D").count() == 0


def test_fl_changes_across_schema_evolution(spark, tmp_path):
    """Old side aligns to the TO-version schema: added columns read
    as NULL for pre-evolution rows, so unchanged rows still cancel."""
    root = str(tmp_path / "flchev")
    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    fl_init(spark, root, df, key="k", zorder_by=("k",), layout_files=2)
    v1 = fl_current_version(root)
    fl_add_column(spark, root, "tag", "string")
    ups = spark.range(0, 10).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v"),
        F.lit("t").alias("tag"),
    )
    fl_merge_upsert(spark, root, ups, key="k")
    ch = fl_changes(spark, root, v1)
    rows = {(r["k"], r["op"], r["tag"]) for r in ch.collect()}
    assert rows == {(k, "U", "t") for k in range(10)}


# ---------------------------------------------------------------------------
# epoch guard with stream identity
# ---------------------------------------------------------------------------


def test_fresh_checkpoint_lineage_is_not_mistaken_for_replay(
    spark, tmp_path
):
    from pyspark.sql import types as T

    from citybikedatawarehouse_spark.streaming.incremental import (
        fl_epoch_step,
    )

    schema = T.StructType([
        T.StructField("k", T.LongType()), T.StructField("v", T.StringType())
    ])

    def kv(rows):
        return spark.createDataFrame(rows, schema)

    root = str(tmp_path / "flapp")
    fl_init(spark, root, kv([(k, f"v{k}") for k in range(20)]),
            key="k", zorder_by=("k",), layout_files=2)

    # lineage A commits epochs 0..2
    for e in range(3):
        st, *_ = fl_epoch_step(
            kv([(e, f"A{e}")]), e, root, key="k", txn_app_id="ckptA"
        )
        assert st == "committed"
    # replay within lineage A: skipped
    assert fl_epoch_step(
        kv([(0, "POISON")]), 1, root, key="k", txn_app_id="ckptA"
    )[0] == "skipped"
    # a FRESH checkpoint restarts at epoch 0 — under the round-10
    # bare-epoch guard this batch was silently dropped; now it commits
    st, *_ = fl_epoch_step(
        kv([(5, "B5")]), 0, root, key="k", txn_app_id="ckptB"
    )
    assert st == "committed"
    got = {(r["k"], r["v"]) for r in
           fl_read(spark, root).where(F.col("k") <= 5).collect()}
    assert (5, "B5") in got and (0, "A0") in got and (0, "POISON") not in got
    # and the table is now bound to lineage B
    assert fl_table_props(root)["txn_app_id"] == "ckptB"
    assert fl_epoch_step(
        kv([(9, "x")]), 0, root, key="k", txn_app_id="ckptB"
    )[0] == "skipped"


# ---------------------------------------------------------------------------
# RESTORE (rollback-as-commit)
# ---------------------------------------------------------------------------


def test_restore_rolls_back_without_rewriting_history(
    spark, sf_dir, tmp_path
):
    from citybikedatawarehouse_spark.operators.table_format import (
        fl_restore,
    )

    root, o = _init(spark, sf_dir, tmp_path)
    v1 = fl_current_version(root)
    n_all = o.count()
    fl_delete(spark, root, o.where(F.col("o_orderkey") % 10 == 3))
    v2 = fl_current_version(root)
    assert fl_read_mor(spark, root).count() < n_all

    v4 = fl_restore(spark, root, v1)
    # rolled back: deletes gone, content == v1
    assert fl_read_mor(spark, root).count() == n_all
    assert fl_table_props(root)["delete_dirs"] == []
    # history preserved: the undone v2 still reads with ITS delete set
    assert fl_read_mor(spark, root, v2).count() < n_all
    assert fl_versions(root) == [v1, v2, v4]
    # restoring to the current version is a no-op
    assert fl_restore(spark, root, v4) == v4
    # unknown/vacuumed version raises
    with pytest.raises(IOError, match="no version"):
        fl_restore(spark, root, "v99999999")
    # the table keeps working after a restore
    n_rep, n_ins, *_ = fl_merge_upsert(
        spark, root, o.limit(10), key="o_orderkey"
    )
    assert (n_rep, n_ins) == (10, 0)


def test_change_feed_replays_streamed_epochs(spark, tmp_path):
    """Stream-equals-batch for the change feed (the read half of the
    epoch sink's write half): micro-batches land through
    fl_epoch_step, a delete commit lands mid-stream, and then (a)
    applying the PER-EPOCH feeds in order to the v1 snapshot
    reproduces the final MOR state exactly, and (b) the one-shot
    v1->vN feed applied to v1 reproduces the same state — the feed
    composes across any version slicing a consumer chooses."""
    from pyspark.sql import types as T

    from citybikedatawarehouse_spark.streaming.incremental import (
        fl_epoch_step,
    )

    schema = T.StructType([
        T.StructField("k", T.LongType()), T.StructField("v", T.StringType())
    ])

    def kv(rows):
        return spark.createDataFrame(rows, schema)

    root = str(tmp_path / "flfeed")
    fl_init(spark, root, kv([(k, f"v{k}") for k in range(50)]),
            key="k", zorder_by=("k",), layout_files=4)
    versions = [fl_current_version(root)]

    # epoch 0: update + insert; then a DELETE commit; epoch 1: more
    # changes including a re-insert of a deleted key
    fl_epoch_step(kv([(1, "U1"), (60, "I60")]), 0, root, key="k",
                  txn_app_id="feed")
    versions.append(fl_current_version(root))
    fl_delete(spark, root, kv([(2, ""), (3, "")]).select("k"))
    versions.append(fl_current_version(root))
    fl_epoch_step(kv([(2, "BACK2"), (61, "I61")]), 1, root, key="k",
                  txn_app_id="feed")
    versions.append(fl_current_version(root))

    want = {(r["k"], r["v"]) for r in fl_read_mor(spark, root).collect()}

    def apply_feed(state_rows: dict, feed) -> dict:
        for r in feed.collect():
            if r["op"] == "D":
                state_rows.pop(r["k"], None)
            else:
                state_rows[r["k"]] = r["v"]
        return state_rows

    # (a) per-epoch replay
    state = {r["k"]: r["v"]
             for r in fl_read(spark, root, versions[0]).collect()}
    for va, vb in zip(versions, versions[1:]):
        state = apply_feed(state, fl_changes(spark, root, va, vb))
    assert set(state.items()) == want

    # (b) one-shot feed composes to the same state
    state1 = {r["k"]: r["v"]
              for r in fl_read(spark, root, versions[0]).collect()}
    state1 = apply_feed(state1, fl_changes(spark, root, versions[0]))
    assert set(state1.items()) == want


def test_optimize_packs_only_small_files_and_preserves_mor(
    spark, tmp_path
):
    """fl_optimize bin-packs only sub-threshold files (large carried
    by reference), is a pure layout op (the delete set carries
    unchanged and keeps hiding its keys), and no-ops when fewer than
    two files qualify."""
    from citybikedatawarehouse_spark.operators.table_format import (
        fl_optimize,
    )

    root = str(tmp_path / "flopt")
    df = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") % 13).alias("v")
    )
    fl_init(spark, root, df, key="k", zorder_by=("k",), layout_files=2)
    big = set(fl_manifest(root)["path"])
    # fragment: 4 tiny append commits + a merge-on-read delete
    for e in range(4):
        ins = spark.range(10_000 + e * 10, 10_000 + e * 10 + 10).select(
            F.col("id").alias("k"), F.lit(-1).alias("v")
        )
        fl_merge_upsert(spark, root, ins, key="k")
    fl_delete(spark, root, spark.range(0, 10_040, 7).select(
        F.col("id").alias("k")))
    n_mor = fl_read_mor(spark, root).count()
    dels_before = len(fl_delete_keys(spark, root))

    version, n_packed, n_total = fl_optimize(spark, root, small_rows=1000)
    assert n_packed == 4 and n_total == 6
    m = fl_manifest(root)
    assert big <= set(m["path"])          # large files shared
    assert len(m) < 6                     # fragmentation reduced
    # pure layout: same MOR content, delete set untouched
    assert fl_read_mor(spark, root).count() == n_mor
    assert len(fl_delete_keys(spark, root)) == dels_before
    assert fl_read(spark, root).count() == 10_040
    # fewer than two qualifying files: clean no-op, no new version
    v2, packed, _ = fl_optimize(spark, root, small_rows=5)
    assert packed == 0 and v2 == fl_current_version(root) == version


def test_check_constraints_enforced_on_merge(spark, tmp_path):
    """CHECK constraints: existing-state validation at add time, a
    violating merge is refused WHOLE (nothing committed), a valid
    merge passes, NULL predicate results count as violations, the
    epoch sink inherits enforcement, and renaming a constrained
    column is refused."""
    from citybikedatawarehouse_spark.operators.table_format import (
        CheckViolation,
        fl_add_constraint,
        fl_drop_constraint,
    )
    from citybikedatawarehouse_spark.streaming.incremental import (
        fl_epoch_step,
    )

    root = str(tmp_path / "flck")
    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") % 50 + 1).alias("v")
    )
    fl_init(spark, root, df, key="k", zorder_by=("k",), layout_files=2)
    fl_add_constraint(spark, root, "v_positive", "v > 0")
    # a constraint the data already violates is refused
    with pytest.raises(CheckViolation, match="existing row"):
        fl_add_constraint(spark, root, "v_big", "v > 10")

    v_before = fl_current_version(root)
    bad = spark.createDataFrame([(1, 0), (2, 5)], "k long, v long")
    with pytest.raises(CheckViolation, match="v_positive"):
        fl_merge_upsert(spark, root, bad, key="k")
    assert fl_current_version(root) == v_before  # nothing committed
    # NULL predicate result = violation
    null_v = spark.createDataFrame([(3, None)], "k long, v long")
    with pytest.raises(CheckViolation):
        fl_merge_upsert(spark, root, null_v, key="k")
    # valid batch passes; the epoch sink inherits enforcement
    ok = spark.createDataFrame([(1, 7)], "k long, v long")
    assert fl_merge_upsert(spark, root, ok, key="k")[0] == 1
    with pytest.raises(CheckViolation):
        fl_epoch_step(bad, 0, root, key="k", txn_app_id="ck")
    # constrained column cannot be renamed out from under the SQL
    with pytest.raises(ValueError, match="referenced by"):
        fl_rename_column(spark, root, "v", "val")
    fl_drop_constraint(spark, root, "v_positive")
    fl_rename_column(spark, root, "v", "val")
    assert fl_merge_upsert(
        spark, root,
        spark.createDataFrame([(9, -1)], "k long, val long"),
        key="k",
    )[0] == 1  # constraint gone, negative accepted


def test_aligned_read_keeps_pushdown_and_pruning(spark, sf_dir, tmp_path):
    """The schema-aligned (mixed write-time schemas) read must not
    cost scan efficiency: a narrow projection + filter over an
    evolved table still reaches every underlying parquet scan as
    PushedFilters + a two-column ReadSchema — the aliasing projection
    collapses, it does not block Catalyst."""
    root, o = _init(spark, sf_dir, tmp_path)
    fl_add_column(spark, root, "tier", "string")
    ups = o.where(F.col("o_orderkey").between(100, 300)).withColumn(
        "tier", F.lit("g")
    )
    fl_merge_upsert(spark, root, ups, key="o_orderkey")
    assert fl_manifest(root)["schema_cols"].nunique() == 2  # mixed

    df = (
        fl_read(spark, root)
        .select("o_orderkey", "o_totalprice")
        .where(F.col("o_totalprice") > 100)
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert len(schemas) >= 2  # one scan per write-time schema group
    for s in schemas:
        cols = {c.split(":")[0] for c in s.split(",")}
        assert cols == {"o_orderkey", "o_totalprice"}, s  # pruned
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed and all("GreaterThan(o_totalprice" in p for p in pushed)
