"""Streaming CDC source (streaming/changes_feed.py): tailing the
file-list table's per-commit change feed — stream-equals-batch over a
multi-commit history, initial-snapshot semantics, checkpointed
resume with no gaps or duplicates, the live StreamingQuery wrapper,
the vacuumed-offset failure mode — and net-diff replication: replica
lineage equals source states, lost-ack reruns, schema evolution, a
Spark job budget, layout-only commits that cost the feed nothing and
fresh replicas seeded by cloning the source's files."""

from __future__ import annotations

import os
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from citybikedatawarehouse_spark.operators.table_format import (
    fl_current_version,
    fl_delete,
    fl_init,
    fl_lineage,
    fl_merge_upsert,
    fl_read_mor,
    fl_vacuum,
)
from citybikedatawarehouse_spark.streaming.changes_feed import (
    FlChangesCursor,
    run_fl_changes_stream,
    start_fl_changes_feed,
)
from tests.spark_jobs import count_actions
from tests.spark_jobs import count_jobs as _count_jobs


def _orders(spark, sf_dir):
    from citybikedatawarehouse_spark.sources.readers import load_table

    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )


def _history(spark, sf_dir, tmp_path, name, merge_jobs=None):
    """init -> merge (band update + tail inserts) -> MOR delete ->
    merge (re-insert a deleted subset): 4 committed versions with
    I, U and D all represented, including delete-then-reinsert.
    ``merge_jobs``, when a list, receives each merge's Spark job
    count."""
    root = str(tmp_path / name)

    def merge(df):
        def run():
            fl_merge_upsert(spark, root, df, key="o_orderkey")

        if merge_jobs is None:
            run()
        else:
            group = f"{name}.merge{len(merge_jobs)}"
            merge_jobs.append(_count_jobs(spark, group, run)[1])

    o = _orders(spark, sf_dir)
    fl_init(
        spark, root, o, key="o_orderkey",
        zorder_by=("o_orderkey",), layout_files=8,
    )
    band = F.col("o_orderkey").between(1000, 2000)
    updates = o.where(band).select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") + F.lit(1.0)).alias("o_totalprice"),
        F.lit("R").alias("o_orderstatus"),
    )
    merge(updates)
    doomed = fl_read_mor(spark, root).where(F.col("o_orderkey") % 10 == 7)
    fl_delete(spark, root, doomed)
    reinserts = o.where(F.col("o_orderkey") % 50 == 7).select(
        "o_orderkey", "o_custkey", "o_totalprice",
        F.lit("N").alias("o_orderstatus"),
    )
    merge(reinserts)
    return root, o


def _apply_feed(snapshot_pd, feed_pd, key="o_orderkey"):
    """Replay the op log over a pandas snapshot, in commit order —
    the consumer-side apply the feed contract promises."""
    state = {r[key]: r for _, r in snapshot_pd.iterrows()}
    for _, r in feed_pd.sort_values("_commit_version", kind="stable").iterrows():
        if r["op"] == "D":
            state.pop(r[key], None)
        else:  # I or U: upsert the new payload
            state[r[key]] = r
    return {
        k: (v["o_custkey"], round(float(v["o_totalprice"]), 2))
        for k, v in state.items()
    }


def test_feed_applied_to_snapshot_equals_head(spark, sf_dir, tmp_path):
    """Stream-equals-batch: draining the per-commit feed from v1 and
    applying it to the v1 snapshot reproduces the head snapshot
    exactly — across a merge, a merge-on-read delete, and a
    delete-then-reinsert (which the per-commit feed must report as
    D then I, never a net U)."""
    root, o = _history(spark, sf_dir, tmp_path, "feed1")
    lineage = fl_lineage(root)
    assert len(lineage) == 4
    v1 = lineage[0]

    batches = []
    n = run_fl_changes_stream(
        spark, root, lambda df, off: batches.append(df.toPandas()),
        from_version=v1, versions_per_batch=1,
    )
    assert n == 3  # one batch per commit after v1
    import pandas as pd

    feed = pd.concat(batches, ignore_index=True)
    # delete-then-reinsert keys appear as D (one commit) then I (next)
    ks = feed[feed["o_orderkey"] % 50 == 7]
    assert set(ks["op"]) >= {"D", "I"}

    from citybikedatawarehouse_spark.operators.table_format import fl_read

    snap_v1 = fl_read(spark, root, v1).toPandas()
    head = fl_read_mor(spark, root).toPandas()
    want = {
        r["o_orderkey"]: (r["o_custkey"], round(float(r["o_totalprice"]), 2))
        for _, r in head.iterrows()
    }
    assert _apply_feed(snap_v1, feed) == want


def test_initial_snapshot_and_checkpoint_resume(spark, sf_dir, tmp_path):
    """from_version=None emits the initial snapshot as op=I; a
    checkpointed consumer killed mid-stream resumes at its offset
    with no duplicated and no skipped commits."""
    root, o = _history(spark, sf_dir, tmp_path, "feed2")
    ckpt = str(tmp_path / "ckpt2")

    seen = []
    step = lambda df, off: seen.append((off, df.toPandas()))
    n1 = run_fl_changes_stream(
        spark, root, step, versions_per_batch=1,
        checkpoint_dir=ckpt, max_batches=2,
    )
    assert n1 == 2
    lineage = fl_lineage(root)
    # batch 1 = initial snapshot of v1, all I
    off1, b1 = seen[0]
    assert off1 == lineage[0]
    assert set(b1["op"]) == {"I"}
    assert len(b1) == fl_read_mor(spark, root, lineage[0]).count()

    # "crash", then a NEW pump resumes from the checkpoint
    n2 = run_fl_changes_stream(
        spark, root, step, versions_per_batch=1, checkpoint_dir=ckpt,
    )
    assert n1 + n2 == len(lineage)  # every commit delivered exactly once
    assert [off for off, _ in seen] == lineage

    # rate limiting: versions_per_batch>1 groups commits per batch,
    # each row still tagged with its own commit version
    seen3 = []
    run_fl_changes_stream(
        spark, root,
        lambda df, off: seen3.append((off, df.toPandas())),
        versions_per_batch=10,
    )
    assert len(seen3) == 1
    assert set(seen3[0][1]["_commit_version"]) == set(lineage)


def test_live_streamingquery_tails_new_commits(spark, sf_dir, tmp_path):
    """start_fl_changes_feed is a real StreamingQuery: commits made
    WHILE it runs are picked up and delivered in order."""
    root = str(tmp_path / "feed3")
    o = _orders(spark, sf_dir).limit(200)
    fl_init(
        spark, root, o, key="o_orderkey",
        zorder_by=("o_orderkey",), layout_files=2,
    )
    v1 = fl_current_version(root)

    out = []
    q = start_fl_changes_feed(
        spark, root,
        lambda df, off: out.append((off, df.toPandas())),
        from_version=v1, versions_per_batch=1, ticks_per_second=4,
    )
    try:
        doomed = o.orderBy("o_orderkey").limit(3).select("o_orderkey")
        fl_delete(spark, root, doomed)
        ups = o.orderBy("o_orderkey").limit(5).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(9.0)
        )
        fl_merge_upsert(spark, root, ups, key="o_orderkey")
        deadline = time.monotonic() + 60
        while len(out) < 2 and time.monotonic() < deadline:
            time.sleep(0.25)
    finally:
        q.stop()
    assert [off for off, _ in out] == fl_lineage(root)[1:]
    assert set(out[0][1]["op"]) == {"D"} and len(out[0][1]) == 3
    # the 3 deleted keys re-upserted -> I; the other 2 -> U
    ops = out[1][1]["op"].value_counts().to_dict()
    assert ops == {"I": 3, "U": 2}


def test_offset_vacuumed_away_raises(spark, sf_dir, tmp_path):
    """A consumer that fell behind the retention horizon fails
    loudly, not silently-skips: its offset is no longer in the
    committed lineage after a forced vacuum."""
    root, o = _history(spark, sf_dir, tmp_path, "feed4")
    v1 = fl_lineage(root)[0]
    fl_vacuum(spark, root, keep=1, force=True)
    cur = FlChangesCursor(spark, root, from_version=v1)
    with pytest.raises(ValueError, match="lineage"):
        cur.next_batch()


def test_replication_converges_and_survives_replay(spark, sf_dir, tmp_path):
    """replicate_changes: the replica equals the source's MOR head
    after an incremental catch-up in two separately-checkpointed
    runs, and a crash-shaped replay (offset rolled back one commit)
    re-applies to the same state — convergence, not duplication."""
    import json as _json
    import pandas as pd

    from citybikedatawarehouse_spark.streaming.changes_feed import (
        replicate_changes,
    )

    src, o = _history(spark, sf_dir, tmp_path, "repl_src")
    dst = str(tmp_path / "repl_dst")
    ckpt = str(tmp_path / "repl_ckpt")

    def snap(root):
        df = fl_read_mor(spark, root).toPandas()
        return (
            df.sort_values("o_orderkey")
            .reset_index(drop=True)
            .round({"o_totalprice": 2})
        )

    # first run stops after 2 source commits (init + one)
    n1 = replicate_changes(
        spark, src, dst, checkpoint_dir=ckpt,
        versions_per_batch=1, max_batches=2,
    )
    assert n1 == 2
    # resume: applies the remaining 2 commits
    n2 = replicate_changes(
        spark, src, dst, checkpoint_dir=ckpt, versions_per_batch=1,
    )
    assert n1 + n2 == len(fl_lineage(src)) == 4
    pd.testing.assert_frame_equal(snap(dst), snap(src))

    # crash replay: roll the offset back one commit and re-apply —
    # the replayed delete/upsert must converge to the same state
    lineage = fl_lineage(src)
    with open(os.path.join(ckpt, "offset.json"), "w") as f:
        _json.dump({"last_version": lineage[-2]}, f)
    n3 = replicate_changes(
        spark, src, dst, checkpoint_dir=ckpt, versions_per_batch=1,
    )
    assert n3 == 1
    pd.testing.assert_frame_equal(snap(dst), snap(src))


def test_feed_crosses_restore_as_compensating_changes(
    spark, sf_dir, tmp_path
):
    """RESTORE is itself a commit, so the feed must emit the rollback
    as compensating changes (undoing v2's U/I), and a consumer that
    applies the whole feed lands exactly on the restored state."""
    from citybikedatawarehouse_spark.operators.table_format import (
        fl_restore,
    )

    root = str(tmp_path / "feed_restore")
    o = _orders(spark, sf_dir).limit(500)
    fl_init(
        spark, root, o, key="o_orderkey",
        zorder_by=("o_orderkey",), layout_files=2,
    )
    v1 = fl_current_version(root)
    hi = o.agg(F.max("o_orderkey")).first()[0]
    ups = (
        o.orderBy("o_orderkey").limit(5)
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(5.0))
    )
    ins = o.orderBy("o_orderkey").limit(2).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(hi + 1)
    )
    fl_merge_upsert(spark, root, ups.unionByName(ins), key="o_orderkey")
    fl_restore(spark, root, v1)

    batches = []
    run_fl_changes_stream(
        spark, root, lambda df, off: batches.append(df.toPandas()),
        from_version=v1, versions_per_batch=1,
    )
    assert len(batches) == 2
    # batch 1: the merge (5 U + 2 I); batch 2: the rollback undoes it
    # (5 U back to the original payload, 2 D for the inserts)
    ops1 = batches[0]["op"].value_counts().to_dict()
    ops2 = batches[1]["op"].value_counts().to_dict()
    assert ops1 == {"U": 5, "I": 2}
    assert ops2 == {"U": 5, "D": 2}
    # net application of both batches = restored (= v1) state
    from citybikedatawarehouse_spark.operators.table_format import fl_read

    snap_v1 = fl_read(spark, root, v1).toPandas()
    import pandas as pd

    feed = pd.concat(batches, ignore_index=True)
    head = fl_read_mor(spark, root).toPandas()
    want = {
        r["o_orderkey"]: (r["o_custkey"], round(float(r["o_totalprice"]), 2))
        for _, r in head.iterrows()
    }
    assert _apply_feed(snap_v1, feed) == want


def test_live_loop_write_stream_to_read_stream(spark, tmp_path):
    """The full loop LIVE: a streaming epoch sink commits
    micro-batches into the table WHILE the CDC feed streams them
    back out concurrently — write stream -> table -> read stream.
    After both stop (plus a final catch-up drain), the feed applied
    over the initial snapshot equals the table's head state."""
    import pandas as pd

    from citybikedatawarehouse_spark.operators.table_format import (
        fl_read,
    )
    from citybikedatawarehouse_spark.streaming.incremental import (
        start_fl_upsert_stream,
    )

    root = str(tmp_path / "liveloop")
    ckpt = str(tmp_path / "liveloop_ckpt")
    seed = spark.range(0, 50).select(
        F.col("id").alias("k"), F.lit(-1).alias("v")
    )
    fl_init(spark, root, seed, key="k", zorder_by=("k",), layout_files=2)
    v1 = fl_current_version(root)

    # writer: rate ticks -> (k = value % 80, v = value); keys 50-79
    # are inserts, the rest updates; value is the last-wins order
    updates = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 40)
        .load()
        .select(
            (F.col("value") % 80).alias("k"), F.col("value").alias("v")
        )
    )
    sink = start_fl_upsert_stream(
        updates, root, key="k", dedup_order_col="v", txn_app_id=root
    )

    feed_batches = []
    reader = start_fl_changes_feed(
        spark,
        root,
        lambda df, off: feed_batches.append(df.toPandas()),
        from_version=v1,
        versions_per_batch=1,
        checkpoint_dir=ckpt,
        ticks_per_second=4,
    )
    try:
        deadline = time.monotonic() + 90
        # run until the sink has committed a few epochs AND the live
        # reader has delivered at least two of them concurrently
        while time.monotonic() < deadline and (
            len(fl_lineage(root)) < 4 or len(feed_batches) < 2
        ):
            time.sleep(0.5)
    finally:
        sink.stop()
        reader.stop()
    assert len(fl_lineage(root)) >= 4, "sink committed too few epochs"
    assert len(feed_batches) >= 2, "live reader never caught a commit"

    # drain whatever the live reader had not yet consumed (same
    # checkpoint -> continues exactly where it stopped)
    run_fl_changes_stream(
        spark,
        root,
        lambda df, off: feed_batches.append(df.toPandas()),
        checkpoint_dir=ckpt,
    )

    snap_v1 = fl_read(spark, root, v1).toPandas()
    feed = pd.concat(feed_batches, ignore_index=True)
    head = fl_read_mor(spark, root).toPandas()
    want = {
        r["k"]: r["v"] for _, r in head.iterrows()
    }
    state = {r["k"]: r["v"] for _, r in snap_v1.iterrows()}
    for _, r in feed.sort_values("_commit_version", kind="stable").iterrows():
        if r["op"] == "D":
            state.pop(r["k"], None)
        else:
            state[r["k"]] = r["v"]
    assert state == want


# ---------------------------------------------------------------------------
# replication by net diff: one tagged replica commit per batch
# ---------------------------------------------------------------------------


def _sorted_pd(df, key):
    return df.toPandas().sort_values(key).reset_index(drop=True)


def test_replication_rerun_with_wider_window_after_lost_ack(
    spark, tmp_path, monkeypatch
):
    """A crash between a replica commit and its ack, then a rerun that
    takes a LONGER window: the diff must start from the replica's tag.
    Started from the stale offset it would miss the key inserted in
    the unacked batch and deleted after it, leaving it in the
    replica."""
    from citybikedatawarehouse_spark.streaming import changes_feed
    from citybikedatawarehouse_spark.streaming.changes_feed import (
        replicate_changes,
    )

    src = str(tmp_path / "wide_src")
    dst = str(tmp_path / "wide_dst")
    ckpt = str(tmp_path / "wide_ckpt")
    base = spark.range(0, 200).select(
        F.col("id").alias("k"), F.lit(0).alias("v")
    )
    fl_init(spark, src, base, key="k", zorder_by=("k",), layout_files=2)
    assert replicate_changes(spark, src, dst, checkpoint_dir=ckpt) == 1

    ins = spark.createDataFrame([(1000, 1)], "k bigint, v int")
    fl_merge_upsert(spark, src, ins, key="k")

    def lost_ack(*_a):
        raise RuntimeError("crash before the ack")

    with monkeypatch.context() as mp:
        mp.setattr(changes_feed, "_write_offset", lost_ack)
        with pytest.raises(RuntimeError, match="before the ack"):
            replicate_changes(
                spark, src, dst, checkpoint_dir=ckpt, versions_per_batch=1
            )
    # the batch committed on the replica, the offset did not move
    assert fl_read_mor(spark, dst).where("k = 1000").count() == 1

    fl_delete(spark, src, spark.createDataFrame([(1000,)], "k bigint"))

    n_before = len(fl_lineage(dst))
    n = replicate_changes(
        spark, src, dst, checkpoint_dir=ckpt, versions_per_batch=10
    )
    assert n == 2  # the offset advanced over both source commits
    assert len(fl_lineage(dst)) == n_before + 1  # one replica commit
    pd.testing.assert_frame_equal(
        _sorted_pd(fl_read_mor(spark, dst), "k"),
        _sorted_pd(fl_read_mor(spark, src), "k"),
    )


def _kv_source(spark, root):
    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    fl_init(spark, root, df, key="k", zorder_by=("k",), layout_files=2)


def _write_note(spark, root):
    """A merge that writes the evolved ``note`` column on five keys."""
    rows = spark.range(10, 15).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
        F.concat(F.lit("n"), F.col("id").cast("string")).alias("note"),
    )
    fl_merge_upsert(spark, root, rows, key="k")


def test_fresh_replica_of_schema_evolved_source(spark, tmp_path):
    """A source that gained a column after v1 replicates into a fresh
    replica one commit per batch: each batch reads the props of ITS
    target version, so the v1 snapshot is not asked for the head's
    columns, and the add-column alone lands as a schema-only commit."""
    from citybikedatawarehouse_spark.operators.table_format import (
        fl_add_column,
    )
    from citybikedatawarehouse_spark.streaming.changes_feed import (
        replicate_changes,
    )

    src = str(tmp_path / "evo_src")
    dst = str(tmp_path / "evo_dst")
    _kv_source(spark, src)
    fl_add_column(spark, src, "note", "string")
    _write_note(spark, src)
    assert replicate_changes(spark, src, dst, versions_per_batch=1) == 3
    assert len(fl_lineage(dst)) == 3
    got = _sorted_pd(fl_read_mor(spark, dst), "k")
    assert list(got.columns) == ["k", "v", "note"]
    pd.testing.assert_frame_equal(
        got, _sorted_pd(fl_read_mor(spark, src), "k")
    )


def test_existing_replica_follows_add_column(spark, tmp_path):
    """An add-column on the source reaches an EXISTING replica in the
    same replica commit as the rows that write it; untouched rows read
    the new column as NULL, as on the source."""
    from citybikedatawarehouse_spark.operators.table_format import (
        fl_add_column,
        fl_table_props,
    )
    from citybikedatawarehouse_spark.streaming.changes_feed import (
        replicate_changes,
    )

    src = str(tmp_path / "add_src")
    dst = str(tmp_path / "add_dst")
    ckpt = str(tmp_path / "add_ckpt")
    _kv_source(spark, src)
    replicate_changes(spark, src, dst, checkpoint_dir=ckpt)
    fl_add_column(spark, src, "note", "string")
    _write_note(spark, src)
    n_before = len(fl_lineage(dst))
    assert replicate_changes(spark, src, dst, checkpoint_dir=ckpt) == 2
    assert len(fl_lineage(dst)) == n_before + 1
    schema = fl_table_props(dst)["schema"]
    assert [f["name"] for f in schema] == ["k", "v", "note"]
    assert schema[-1]["id"] == max(f["id"] for f in schema[:-1]) + 1
    got = _sorted_pd(fl_read_mor(spark, dst), "k")
    pd.testing.assert_frame_equal(
        got, _sorted_pd(fl_read_mor(spark, src), "k")
    )
    assert got["note"].notna().sum() == 5


def test_replica_refuses_rename_and_type_change(spark, tmp_path):
    """A source rename cannot be followed by name: replication raises
    naming the column instead of dropping it. The fused commit refuses
    a type change the same way, with nothing committed."""
    from citybikedatawarehouse_spark.operators.table_format import (
        fl_rename_column,
    )
    from citybikedatawarehouse_spark.streaming.changes_feed import (
        replicate_changes,
    )

    src = str(tmp_path / "ren_src")
    dst = str(tmp_path / "ren_dst")
    _kv_source(spark, src)
    replicate_changes(spark, src, dst)
    fl_rename_column(spark, src, "v", "w")
    fl_merge_upsert(
        spark, src,
        spark.createDataFrame([(3, 7)], "k bigint, w bigint"), key="k",
    )
    head = fl_current_version(dst)
    with pytest.raises(ValueError, match="column 'v' is missing"):
        replicate_changes(spark, src, dst)

    retyped = spark.createDataFrame([(3, "7")], "k bigint, v string")
    with pytest.raises(ValueError, match="column 'v' changed type"):
        fl_merge_upsert(spark, dst, retyped, key="k", merge_schema=True)
    assert fl_current_version(dst) == head


def test_replication_batches_budget_and_lineage(spark, sf_dir, tmp_path):
    """Replicating the four-commit ``_history`` in batches of two:

    - every replica version is the exact MOR state of the source
      version its ``replicated_from`` tag names, so no reader of the
      replica sees a state the source never had;
    - cost counters: at most ceil(4 / 2) replica versions, and 18
      Spark jobs, measured with 4 local cores: the first batch is a
      clone that runs none (seeding by rewriting the snapshot took 28
      in all, the per-commit delete-then-merge pump before that 78);
      a merge with no D keys still runs exactly the jobs it ran
      before the fused delete existed (13 with no delete set, 20
      with one). Every read declares its schema from table metadata;
      inferring it cost one job per file group and per delete dir
      (14, 22 and 22-23). The replication count is 19 in some runs
      after the file's other tests: the second batch's merge then
      runs one more adaptive query-stage job (cause not found), so
      the pin is a range;
    - driver actions: exactly 4 SQL executions in every run, so the
      job wobble is a stage split inside an action, never an extra
      action."""
    from citybikedatawarehouse_spark.operators.table_format import (
        fl_table_props,
    )
    from citybikedatawarehouse_spark.streaming.changes_feed import (
        REPLICATED_FROM,
        replicate_changes,
    )

    merge_jobs = []
    src, _ = _history(spark, sf_dir, tmp_path, "batch_src", merge_jobs)
    assert merge_jobs == [13, 20]

    dst = str(tmp_path / "batch_dst")
    (applied, n_jobs), n_actions = count_actions(
        spark,
        lambda: _count_jobs(
            spark, "batch_replicate",
            lambda: replicate_changes(spark, src, dst, versions_per_batch=2),
        ),
    )
    src_lineage = fl_lineage(src)
    assert applied == len(src_lineage) == 4
    assert n_actions == 4
    assert 18 <= n_jobs <= 19
    assert len(fl_lineage(dst)) <= -(-4 // 2)

    tags = []
    for v in fl_lineage(dst):
        tag = fl_table_props(dst, v)[REPLICATED_FROM]
        tags.append(tag)
        got = _sorted_pd(fl_read_mor(spark, dst, v), "o_orderkey")
        want = _sorted_pd(fl_read_mor(spark, src, tag), "o_orderkey")
        pd.testing.assert_frame_equal(got, want)
    # one commit per batch of two source commits, each ending a batch
    assert tags == [src_lineage[1], src_lineage[3]]


# ---------------------------------------------------------------------------
# metadata shortcuts: layout-only commits and clone-seeded replicas
# ---------------------------------------------------------------------------


def test_layout_only_commits_are_free_for_the_feed(spark, tmp_path):
    """A compaction records ``data_change=False`` and leaves the MOR
    state alone: the cursor's batch for it is empty and runs no Spark
    job, and replicating it onto an up-to-date replica commits nothing
    and runs no job. A batch that mixes a compaction with a merge
    still lands the replica on the source state."""
    from citybikedatawarehouse_spark.operators.table_format import (
        fl_compact,
        fl_table_props,
    )
    from citybikedatawarehouse_spark.streaming.changes_feed import (
        REPLICATED_FROM,
        replicate_changes,
    )

    src = str(tmp_path / "lo_src")
    dst = str(tmp_path / "lo_dst")
    ckpt = str(tmp_path / "lo_ckpt")

    def upsert(lo, hi, v):
        rows = spark.range(lo, hi).select(
            F.col("id").alias("k"), F.lit(v).cast("bigint").alias("v")
        )
        fl_merge_upsert(spark, src, rows, key="k")

    _kv_source(spark, src)
    upsert(95, 105, -1)
    replicate_changes(spark, src, dst, checkpoint_dir=ckpt)
    v_merge = fl_current_version(src)
    v_compact = fl_compact(spark, src)

    def cursor_batch():
        df, offset = FlChangesCursor(
            spark, src, from_version=v_merge, versions_per_batch=1
        ).next_batch()
        return df.collect(), offset

    (rows, offset), n_jobs = _count_jobs(spark, "lo_cursor", cursor_batch)
    assert (rows, offset, n_jobs) == ([], v_compact, 0)

    replica_head = fl_current_version(dst)
    applied, n_jobs = _count_jobs(
        spark, "lo_replicate",
        lambda: replicate_changes(spark, src, dst, checkpoint_dir=ckpt),
    )
    assert (applied, n_jobs) == (1, 0)
    assert fl_current_version(dst) == replica_head
    assert fl_table_props(src, v_compact)["data_change"] is False

    # mixed batch: two compactions, then a merge
    fl_compact(spark, src, layout_files=1)
    upsert(50, 110, -2)
    assert replicate_changes(spark, src, dst, checkpoint_dir=ckpt) == 2
    assert fl_table_props(dst)[REPLICATED_FROM] == fl_current_version(src)
    pd.testing.assert_frame_equal(
        _sorted_pd(fl_read_mor(spark, dst), "k"),
        _sorted_pd(fl_read_mor(spark, src), "k"),
    )


def test_fresh_replica_is_a_faithful_clone(spark, tmp_path):
    """A source with a delete set, a renamed and an added column, all
    made before the replica exists, seeds the replica by cloning its
    files with no Spark job: MOR read, field ids, manifest stats and
    delete set match the source's. A later replication batch commits
    into the clone with no path collision, and vacuuming the replica
    keeps every cloned file its current version references."""
    import shutil

    from citybikedatawarehouse_spark.operators.table_format import (
        CommitConflictError,
        fl_add_column,
        fl_clone,
        fl_manifest,
        fl_rename_column,
        fl_table_props,
    )
    from citybikedatawarehouse_spark.streaming.changes_feed import (
        REPLICATED_FROM,
        replicate_changes,
    )

    src = str(tmp_path / "clone_src")
    dst = str(tmp_path / "clone_dst")
    ckpt = str(tmp_path / "clone_ckpt")
    _kv_source(spark, src)
    fl_delete(spark, src, spark.range(20, 30).select(F.col("id").alias("k")))
    fl_rename_column(spark, src, "v", "w")
    fl_add_column(spark, src, "note", "string")
    head = fl_current_version(src)

    applied, n_jobs = _count_jobs(
        spark, "clone_seed",
        lambda: replicate_changes(spark, src, dst, checkpoint_dir=ckpt),
    )
    assert (applied, n_jobs) == (4, 0)
    (clone_v,) = fl_lineage(dst)
    sp, dp = fl_table_props(src), fl_table_props(dst)
    assert dp[REPLICATED_FROM] == head
    assert dp["schema"] == sp["schema"]
    assert len(dp["delete_dirs"]) == len(sp["delete_dirs"]) == 1
    sm, dm = fl_manifest(src), fl_manifest(dst)
    assert all(p.startswith(dst) for p in [*dm["path"], *dp["delete_dirs"]])
    kept = [c for c in sm.columns if c != "path"]
    pd.testing.assert_frame_equal(dm[kept], sm[kept])
    pd.testing.assert_frame_equal(
        _sorted_pd(fl_read_mor(spark, dst), "k"),
        _sorted_pd(fl_read_mor(spark, src), "k"),
    )

    # a later batch: re-insert deleted keys, update others, delete more
    rows = spark.range(25, 35).select(
        F.col("id").alias("k"),
        (F.col("id") * 10 + 1).alias("w"),
        F.concat(F.lit("n"), F.col("id").cast("string")).alias("note"),
    )
    fl_merge_upsert(spark, src, rows, key="k")
    fl_delete(spark, src, spark.range(50, 52).select(F.col("id").alias("k")))
    assert replicate_changes(spark, src, dst, checkpoint_dir=ckpt) == 2
    assert len(fl_lineage(dst)) == 2
    pd.testing.assert_frame_equal(
        _sorted_pd(fl_read_mor(spark, dst), "k"),
        _sorted_pd(fl_read_mor(spark, src), "k"),
    )

    cloned = set(fl_manifest(dst, clone_v)["path"])
    fl_vacuum(spark, dst, keep=1, force=True)
    live = fl_manifest(dst)["path"]
    assert cloned & set(live)  # the merge left some cloned files alone
    assert all(os.path.isfile(p) for p in live)
    assert all(os.path.isdir(d) for d in fl_table_props(dst)["delete_dirs"])
    pd.testing.assert_frame_equal(
        _sorted_pd(fl_read_mor(spark, dst), "k"),
        _sorted_pd(fl_read_mor(spark, src), "k"),
    )

    with pytest.raises(CommitConflictError):
        fl_clone(src, dst, head)
    moved = str(tmp_path / "clone_moved")
    shutil.copytree(src, moved)  # its manifests still name src's files
    with pytest.raises(ValueError, match="outside"):
        fl_clone(moved, str(tmp_path / "clone_dst2"), head)
