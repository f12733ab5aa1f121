"""Stream-static and stream-stream joins, as-of joins, CDC
extraction, and file-list commits (merge crash injection,
compaction)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from citybikedatawarehouse_spark.sources.readers import load_table
from citybikedatawarehouse_spark.streaming.windows import (
    enrich_stream_static,
    read_events_stream,
    run_to_memory,
    stream_stream_self_join,
)


@pytest.fixture()
def events_stream_dir(spark, sf_dir, tmp_path):
    out = str(tmp_path / "ev")
    load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).write.parquet(out)
    return out


def test_stream_static_enrichment(spark, events_stream_dir):
    dim = spark.createDataFrame(
        [(t,) for t in ["click", "view", "purchase", "signup", "error"]],
        "event_type string",
    ).withColumn("type_code", F.substring("event_type", 1, 2))
    stream = read_events_stream(spark, events_stream_dir, max_files_per_trigger=4)
    q = run_to_memory(
        enrich_stream_static(stream, dim, "event_type").select(
            "event_id", "event_type", "type_code"
        ),
        "t_enrich",
        output_mode="append",
    )
    try:
        got = spark.sql("SELECT * FROM t_enrich")
        assert got.count() == spark.read.parquet(events_stream_dir).count()
        assert got.filter(F.col("type_code").isNull()).count() == 0
    finally:
        q.stop()


def test_stream_stream_self_join_matches_batch(spark, events_stream_dir):
    stream = read_events_stream(spark, events_stream_dir, max_files_per_trigger=4)
    joined = stream_stream_self_join(stream, window_seconds=600)
    q = run_to_memory(joined, "t_ss", output_mode="append")
    try:
        got = spark.sql("SELECT user_id, a_id, b_id FROM t_ss")
        ev = spark.read.parquet(events_stream_dir)
        want = stream_stream_self_join(ev, window_seconds=600).select(
            "user_id", "a_id", "b_id"
        )
        g = sorted(map(tuple, got.collect()))
        w = sorted(map(tuple, want.collect()))
        assert g == w and len(g) > 0
    finally:
        q.stop()


# ---------------------------------------------------------------------------
# as-of join: plain vs skew-bucketed equivalence
# ---------------------------------------------------------------------------


def test_asof_bucketed_matches_plain_on_skewed_key(spark):
    """One key owns 90% of the left timeline (the case the bucketed
    variant exists for): both implementations must agree row-for-row,
    including left rows that precede any right row (null payload) and
    buckets with no right rows (carry across the gap)."""
    from pyspark.sql import functions as F

    from citybikedatawarehouse_spark.operators.asof import (
        asof_join,
        asof_join_bucketed,
    )

    left = spark.range(2000).select(
        F.col("id").alias("event_id"),
        F.when(F.col("id") % 10 < 9, F.lit(1)).otherwise(F.lit(2)).alias("k"),
        (F.lit(1000.0) + F.col("id") * 7).alias("ts"),
    )
    right = spark.range(40).select(
        F.col("id").alias("rid"),
        F.when(F.col("id") % 4 == 0, F.lit(2)).otherwise(F.lit(1)).alias("k"),
        # sparse: long stretches of left buckets see no right row
        (F.lit(900.0) + F.col("id") * 400).alias("rts"),
        (F.col("id") * 1.5).alias("quote"),
    ).dropDuplicates(["k", "rts"])
    kwargs = dict(
        left_on="k",
        right_on="k",
        left_ts="ts",
        right_ts="rts",
        right_payload=("rts", "quote"),
    )
    plain = asof_join(left, right, strategy="plain", **kwargs)
    bucketed = asof_join_bucketed(left, right, n_buckets=16, **kwargs)
    a = {tuple(r) for r in plain.collect()}
    b = {tuple(r) for r in bucketed.collect()}
    assert a == b and len(a) == 2000


def test_asof_null_right_ts_matches_nothing(spark):
    """A right row with null ts must never be carried (right.ts <=
    left.ts is never true for null) and both variants must agree —
    pre-fix, plain sorted it nulls-first and carried it everywhere
    while bucketed dropped it into a null bucket."""
    from citybikedatawarehouse_spark.operators.asof import (
        asof_join,
        asof_join_bucketed,
    )

    left = spark.createDataFrame(
        [(1, 1, 10.0), (2, 1, 50.0), (3, 2, 10.0)],
        "event_id long, k long, ts double",
    )
    right = spark.createDataFrame(
        [(1, None, 99.0), (1, 30.0, 7.0), (None, 5.0, 13.0)],
        "k long, rts double, quote double",
    )
    kwargs = dict(
        left_on="k", right_on="k", left_ts="ts", right_ts="rts",
        right_payload=("rts", "quote"),
    )
    plain = {tuple(r) for r in asof_join(left, right, strategy="plain", **kwargs).collect()}
    bucketed = {
        tuple(r)
        for r in asof_join_bucketed(left, right, n_buckets=4, **kwargs).collect()
    }
    expected = {
        (1, 1, 10.0, None, None),   # before any valid right row
        (2, 1, 50.0, 30.0, 7.0),    # matches the real row, not the null-ts one
        (3, 2, 10.0, None, None),   # key 2 has no valid right rows
    }
    assert plain == expected
    assert bucketed == expected


def test_asof_auto_strategy_dispatches_and_agrees(spark):
    """auto on small input = plain plan (no crash, same rows); forcing
    a tiny skew_threshold routes through the bucketed path."""
    from pyspark.sql import functions as F

    from citybikedatawarehouse_spark.operators.asof import asof_join

    left = spark.range(500).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 3).alias("k"),
        (F.col("id") * 2.0).alias("ts"),
    )
    right = spark.range(20).select(
        (F.col("id") % 3).alias("k"),
        (F.col("id") * 40.0).alias("rts"),
        (F.col("id") * 1.0).alias("quote"),
    ).dropDuplicates(["k", "rts"])
    kwargs = dict(
        left_on="k", right_on="k", left_ts="ts", right_ts="rts",
        right_payload=("rts", "quote"),
    )
    auto = {tuple(r) for r in asof_join(left, right, **kwargs).collect()}
    plain = {tuple(r) for r in asof_join(left, right, strategy="plain", **kwargs).collect()}
    skew_forced = {
        tuple(r)
        for r in asof_join(
            left, right, strategy="auto", skew_threshold=10, sample_fraction=1.0, **kwargs
        ).collect()
    }
    assert auto == plain == skew_forced and len(auto) == 500


def test_asof_auto_strategy_costs_one_job(spark):
    """The auto gate's skew probe is a single ACTION over the key
    columns (VERDICT r2: the old shape ran a count action plus a
    sample action — two full key-column passes — on every call).
    Under AQE one action materializes as up to 3 Spark jobs (sample+
    partial-agg stage, final-agg stage, result collection), so the
    budget is <=3; the two-action shape measured 5+."""
    from pyspark.sql import functions as F

    from citybikedatawarehouse_spark.operators.asof import asof_join

    left = spark.range(200).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 5).alias("k"),
        (F.col("id") * 1.0).alias("ts"),
    )
    right = spark.range(10).select(
        (F.col("id") % 5).alias("k"),
        (F.col("id") * 10.0).alias("rts"),
        F.col("id").alias("quote"),
    )
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    asof_join(
        left, right, left_on="k", right_on="k", left_ts="ts",
        right_ts="rts", right_payload=("quote",),
    )  # plan build only — no action on the result
    after = set(tracker.getJobIdsForGroup(None) or [])
    assert len(after - before) <= 3


def test_cdc_extract_apply_identity_and_minimality(spark, tmp_path):
    """The CDC loop laws: apply(extract(old, new), old) == new, and
    extract(new, new) == empty (minimal log)."""
    from citybikedatawarehouse_spark.operators.maintenance import cdc_extract

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40)],
        "k long, v string, x long",
    )
    new = spark.createDataFrame(
        # 1 unchanged, 2 updated, 3 deleted, 5 inserted, 4 null-payload update
        [(1, "a", 10), (2, "B", 21), (4, None, 40), (5, "e", 50)],
        "k long, v string, x long",
    )
    log = cdc_extract(old, new, "k", ("v", "x"))
    ops = {r["k"]: r["op"] for r in log.collect()}
    assert ops == {2: "U", 3: "D", 4: "U", 5: "I"}

    # apply the log back onto old: drop D/U keys, add I/U payloads
    changed = log.where(F.col("op").isin("U", "D")).select("k")
    upserts = log.where(F.col("op").isin("I", "U")).select("k", "v", "x")
    applied = old.join(changed, "k", "left_anti").unionByName(upserts)
    assert sorted(map(tuple, applied.collect())) == sorted(
        map(tuple, new.collect())
    )
    # minimality: re-extract after apply -> empty log
    assert cdc_extract(applied, new, "k", ("v", "x")).count() == 0


def test_fl_merge_crash_injection(spark, tmp_path):
    """Crash-consistency proof for the file-list pointer commit: kill
    the merge BETWEEN the manifest write and the pointer flip and
    show readers still see the complete OLD table (never a torn one);
    retry succeeds; torn pointer tmp files are invisible; vacuum
    never deletes the live version."""
    import os

    import pytest

    from citybikedatawarehouse_spark.operators.table_format import (
        fl_current_version,
        fl_init,
        fl_merge_upsert,
        fl_read,
        fl_vacuum,
        fl_versions,
    )

    def kv(df):
        return {(r["k"], r["v"]) for r in df.collect()}

    root = str(tmp_path / "mt")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    v1 = fl_init(spark, root, base, key="k")
    assert fl_current_version(root) == v1
    before = kv(fl_read(spark, root))
    assert before == {(1, "a"), (2, "b"), (3, "c")}

    updates = spark.createDataFrame([(2, "B"), (4, "d")], "k long, v string")

    # crash AFTER the new version's files + manifest exist, BEFORE the flip
    with pytest.raises(RuntimeError, match="injected crash"):
        fl_merge_upsert(
            spark, root, updates, "k", _crash_before_commit=True
        )
    # the orphan version is on disk...
    assert [v for v in fl_versions(root) if v != v1], (
        "crash injection must leave the staged version"
    )
    # ...but readers still follow the pointer to the intact old table
    assert fl_current_version(root) == v1
    assert kv(fl_read(spark, root)) == before

    # a torn pointer tmp (crash mid-pointer-write) is also invisible
    with open(os.path.join(root, "_MANIFEST.tmp"), "w") as f:
        f.write("v9")  # torn: no newline, bogus target, never fsynced
    assert fl_current_version(root) == v1

    # retry commits cleanly (next version number, orphan ignored)
    n_replaced, n_inserted, _, _ = fl_merge_upsert(spark, root, updates, "k")
    assert (n_replaced, n_inserted) == (1, 1)
    got2 = kv(fl_read(spark, root))
    assert got2 == {(1, "a"), (2, "B"), (3, "c"), (4, "d")}

    # old version still readable (time travel) until vacuumed
    assert kv(fl_read(spark, root, v1)) == before
    current = fl_current_version(root)
    # default retention would keep the fresh version; retention
    # semantics are pinned in test_round12_table_format
    assert fl_vacuum(spark, root, keep=1) == []
    fl_vacuum(spark, root, keep=1, retain_hours=0.0)
    assert fl_versions(root) == [current]
    assert kv(fl_read(spark, root)) == got2

    # duplicate source keys still rejected, pointer untouched
    dup = spark.createDataFrame([(5, "x"), (5, "y")], "k long, v string")
    with pytest.raises(ValueError, match="duplicate"):
        fl_merge_upsert(spark, root, dup, "k")
    assert fl_current_version(root) == current


def _assert_compaction(spark, root, v1, n_frag, sums, n_jobs):
    """``fl_compact`` the fragmented table at ``root`` (``v1`` holding
    at least ``n_frag`` files): fewer files (at most 2), the same rows
    and ``sums`` checksums, published by a pointer flip in ``n_jobs``
    Spark jobs, the pre-compaction version readable until vacuum."""
    from citybikedatawarehouse_spark.operators.table_format import (
        fl_compact,
        fl_current_version,
        fl_manifest,
        fl_read,
    )
    from tests.spark_jobs import count_jobs

    n_before = len(fl_manifest(root, v1))
    assert n_before >= n_frag
    v2, jobs = count_jobs(
        spark, f"compact_{n_frag}",
        lambda: fl_compact(spark, root, layout_files=2),
    )
    assert jobs == n_jobs
    assert fl_current_version(root) == v2
    n_after = len(fl_manifest(root))
    assert n_after < n_before and n_after <= 2
    before, after = fl_read(spark, root, v1), fl_read(spark, root)
    assert sorted(after.collect()) == sorted(before.collect())
    assert after.agg(*sums).collect() == before.agg(*sums).collect()


def test_compaction_reduces_files_preserves_rows(spark, sf_dir, tmp_path):
    """40 small unclustered files of lineitem compact through
    ``fl_compact`` (a coalescing write) in two Spark jobs."""
    from citybikedatawarehouse_spark.operators.table_format import fl_init

    root = str(tmp_path / "fragmented")
    v1 = fl_init(
        spark, root,
        load_table(spark, sf_dir, "lineitem").repartition(40),
        key="l_orderkey",
    )
    _assert_compaction(
        spark, root, v1, 40,
        [F.sum("l_orderkey"), F.round(F.sum("l_extendedprice"), 2)], 2,
    )


def test_fl_compact_is_a_commit(spark, tmp_path):
    """File-list compaction of a 16-file Z-ordered range layout: a
    sampling job for the range partitioner, then the write."""
    from citybikedatawarehouse_spark.operators.table_format import fl_init

    root = str(tmp_path / "zordered")
    v1 = fl_init(
        spark, root, spark.range(1000), key="id",
        zorder_by=("id",), layout_files=16,
    )
    _assert_compaction(spark, root, v1, 16, [F.sum("id")], 3)
