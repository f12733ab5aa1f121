"""Cross-batch streaming dedup (streaming/incremental.py): the
persistent-digest-state foreachBatch loop must converge to exactly
the batch first-seen survivor set, independent of micro-batch
boundaries."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from citybikedatawarehouse_spark.streaming.incremental import (
    DIGEST_STATE_SCHEMA,
    dedup_batch_against_state,
    start_incremental_dedup,
)

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
    ]
)

# three "days" of crawl: day2 re-crawls half of day1, day3 re-crawls
# from both plus brings one in-batch duplicate pair
DAY1 = [(1, "alpha"), (2, "bravo"), (3, "charlie")]
DAY2 = [(4, "bravo"), (5, "delta"), (6, "charlie")]
DAY3 = [(7, "delta"), (8, "echo"), (9, "echo"), (10, "alpha")]


@pytest.fixture()
def stream_dirs(spark, tmp_path):
    src = tmp_path / "src"
    for i, day in enumerate((DAY1, DAY2, DAY3)):
        # one file per day + maxFilesPerTrigger=1 -> one micro-batch per day
        spark.createDataFrame(day, DOCS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
    return str(src), str(tmp_path / "out"), str(tmp_path / "state")


def test_stream_dedup_equals_batch_first_seen(spark, stream_dirs):
    src, out, state = stream_dirs
    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_incremental_dedup(stream, out, state)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(f"{out}/epoch=*").select(
            "doc_id", "text"
        ).collect()
    }
    # ground truth: global first-seen (min doc_id per text) — doc_ids
    # here increase with arrival order, so min-id == first-seen
    all_rows = DAY1 + DAY2 + DAY3
    first_seen = {}
    for doc_id, text in sorted(all_rows):
        first_seen.setdefault(text, (doc_id, text))
    assert got == set(first_seen.values())

    # state holds each digest exactly once (appends never re-record)
    digests = spark.read.parquet(state).collect()
    assert len(digests) == len({r["digest"] for r in digests}) == len(first_seen)


def test_stream_dedup_restarts_from_its_checkpoint(spark, tmp_path):
    """A dedup query stopped and restarted on the same checkpoint runs
    only the new epochs: the acknowledged epoch slices are not written
    again (no second ``epoch=0`` slice) and the survivors are the batch
    first-seen set of all three days. Without the checkpoint the
    restart would re-read every file from epoch 0, and epoch 0's replay
    would anti-join DAY1 against DAY2's digests."""
    src, out, state = (str(tmp_path / d) for d in ("src", "out", "state"))
    ck = str(tmp_path / "ck")

    def land(day):
        spark.createDataFrame(day, DOCS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        stream = (
            spark.readStream.schema(DOCS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = start_incremental_dedup(stream, out, state, checkpoint_location=ck)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def slices():  # each epoch slice under out/ and state/ -> its files
        return {
            os.path.relpath(d, tmp_path): sorted(os.listdir(d))
            for d in glob.glob(f"{tmp_path}/*/epoch=*")
        }

    land(DAY1)
    land(DAY2)
    run()
    first = slices()
    assert sorted(first) == [
        "out/epoch=0", "out/epoch=1", "state/epoch=0", "state/epoch=1"
    ]
    land(DAY3)
    run()
    again = slices()
    assert set(again) == set(first) | {"out/epoch=2", "state/epoch=2"}
    # part-file names are unique per write: a rerun would rename them
    assert {d: again[d] for d in first} == first

    got = {
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(f"{out}/epoch=*").select(
            "doc_id", "text"
        ).collect()
    }
    first_seen = {}
    for doc_id, text in sorted(DAY1 + DAY2 + DAY3):
        first_seen.setdefault(text, (doc_id, text))
    assert got == set(first_seen.values())


def test_batch_step_is_pure_q86_shape(spark):
    """The per-batch function alone: within-batch min-id survivor +
    anti-join against state."""
    state = spark.createDataFrame([("known",)], ["digest"]).select(
        F.md5("digest").alias("digest")
    )
    # plant: "known" already in state; "dup" twice in the batch
    batch = spark.createDataFrame(
        [(10, "known"), (11, "dup"), (12, "dup"), (13, "new")], DOCS_SCHEMA
    )
    out = dedup_batch_against_state(batch, state, "doc_id", "text")
    rows = {(r["doc_id"], r["text"]) for r in out.collect()}
    assert rows == {(11, "dup"), (13, "new")}


def test_stream_dedup_plan_shuffles_digests_only(spark):
    """Scale guard: the anti-join key is the 32-byte digest column,
    never the text — assert no exchange carries the text column as a
    partitioning key."""
    state = spark.createDataFrame([], DIGEST_STATE_SCHEMA)
    batch = spark.createDataFrame([(1, "x" * 10000)], DOCS_SCHEMA)
    plan = (
        dedup_batch_against_state(batch, state, "doc_id", "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for line in plan.splitlines():
        if "hashpartitioning" in line:
            assert "text" not in line


UPD_SCHEMA = T.StructType(
    [
        T.StructField("station_id", T.LongType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("capacity", T.LongType(), True),
        T.StructField("eff", T.TimestampType(), True),
    ]
)


def _scd2_rows(df):
    cols = ["station_id", "name", "capacity", "valid_from", "valid_to", "is_current"]
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_scd2_stream_equals_sequential_batch_merges(spark, tmp_path):
    """Two micro-batches of dimension updates through the stream must
    produce exactly the state of applying scd2_init + scd2_merge
    sequentially: history preserved, one current row per key,
    in-batch conflicts resolved to the latest."""
    import datetime as dt

    from citybikedatawarehouse_spark.operators.scd import scd2_init, scd2_merge
    from citybikedatawarehouse_spark.operators.table_format import fl_read
    from citybikedatawarehouse_spark.streaming.incremental import start_scd2_stream

    t0 = dt.datetime(2026, 1, 1)
    t1 = dt.datetime(2026, 2, 1)
    day1 = [(1, "alpha", 10, t0), (2, "bravo", 20, t0)]
    # day2: station 1 renamed; station 2 has an in-batch conflict
    # (same key twice — later eff must win); station 3 is new
    day2 = [
        (1, "alpha-2", 10, t1),
        (2, "bravo", 25, t0),
        (2, "bravo", 30, t1),
        (3, "charlie", 5, t1),
    ]
    src = tmp_path / "upd"
    for day in (day1, day2):
        spark.createDataFrame(day, UPD_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
    state = str(tmp_path / "dim")
    stream = (
        spark.readStream.schema(UPD_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = start_scd2_stream(stream, state, "station_id", ["name", "capacity"], "eff")
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = fl_read(spark, state)
    # expected: batch twin applied in order, with day2's in-batch
    # conflict collapsed to the t1 row first
    d1 = spark.createDataFrame(day1, UPD_SCHEMA)
    d2 = spark.createDataFrame([day2[0], day2[2], day2[3]], UPD_SCHEMA)
    want = scd2_merge(
        scd2_init(d1, "station_id", "eff"),
        d2,
        "station_id",
        ["name", "capacity"],
        "eff",
    )
    assert _scd2_rows(got) == _scd2_rows(want)
    # invariant: exactly one current row per key
    cur = got.filter(F.col("is_current")).groupBy("station_id").count()
    assert cur.filter(F.col("count") > 1).count() == 0
    # history survived: station 1 and 2 have a closed version each
    closed = got.filter(~F.col("is_current"))
    assert {r["station_id"] for r in closed.collect()} == {1, 2}


def _crash_once(monkeypatch, point, state):
    """Arm one injected crash inside the next SCD2 epoch, defined at
    the filesystem boundary so it means the same for any state
    protocol: ``before_write`` fails the epoch's first parquet write
    under ``state``; ``before_flip`` fails its first rename or replace
    that lands in ``state`` (the step that publishes the new
    dimension); ``after_flip`` lets that one through, then fails
    before the stream can checkpoint the epoch."""
    from pyspark.sql.readwriter import DataFrameWriter

    armed = [True]

    def fire():
        armed[0] = False
        raise RuntimeError(f"injected crash {point}")

    if point == "before_write":
        orig = DataFrameWriter.parquet

        def parquet(self, path, *a, **k):
            if armed[0] and str(path).startswith(state):
                fire()
            return orig(self, path, *a, **k)

        monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
        return
    for name in ("rename", "replace"):
        orig = getattr(os, name)

        def move(src, dst, *a, _orig=orig, **k):
            if not (armed[0] and str(dst).startswith(state)):
                return _orig(src, dst, *a, **k)
            if point == "before_flip":
                fire()
            out = _orig(src, dst, *a, **k)
            fire()
            return out

        monkeypatch.setattr(os, name, move)


@pytest.mark.parametrize("point", ["before_write", "before_flip", "after_flip"])
def test_scd2_stream_crash_then_checkpointed_restart(
    spark, tmp_path, monkeypatch, point
):
    """A crash at any step of an SCD2 epoch, then a restart of the
    query from its checkpoint: the previous dimension stays readable
    through ``fl_read`` and the replayed epoch converges to
    ``scd2_merge(scd2_init(d0), d1)``; the replay of an epoch
    published before the crash commits nothing. A delete-then-rename
    state swap fails ``before_flip``: the replay finds no state and
    bootstraps the dimension from the batch alone."""
    import datetime as dt

    from citybikedatawarehouse_spark.operators.scd import scd2_init, scd2_merge
    from citybikedatawarehouse_spark.operators.table_format import (
        fl_current_version,
        fl_read,
        fl_table_props,
    )
    from citybikedatawarehouse_spark.streaming.incremental import start_scd2_stream

    t0, t1 = dt.datetime(2026, 1, 1), dt.datetime(2026, 2, 1)
    d0 = [(1, "a", 10, t0), (2, "b", 20, t0)]
    d1 = [(2, "b", 25, t1), (3, "c", 5, t1)]
    src, state = str(tmp_path / "upd"), str(tmp_path / "dim")

    def run():  # every start shares one checkpoint: a restart replays
        q = start_scd2_stream(
            spark.readStream.schema(UPD_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            state, "station_id", ["name", "capacity"], "eff",
            checkpoint_location=str(tmp_path / "ck"),
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def land(rows):
        spark.createDataFrame(rows, UPD_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    land(d0)
    run()
    v0 = fl_current_version(state)
    dim0 = _scd2_rows(fl_read(spark, state))
    assert [r[:3] for r in dim0] == [(1, "a", 10), (2, "b", 20)]

    land(d1)
    with monkeypatch.context() as m:
        _crash_once(m, point, state)
        with pytest.raises(Exception, match=f"injected crash {point}"):
            run()
    # the previous dimension stays readable; only after the flip is
    # the epoch's new one current
    assert _scd2_rows(fl_read(spark, state, v0)) == dim0
    assert (fl_current_version(state) == v0) == (point != "after_flip")
    if point != "after_flip":
        assert _scd2_rows(fl_read(spark, state)) == dim0

    v_crash = fl_current_version(state)
    run()  # restart from the checkpoint: epoch 1 is replayed
    assert (fl_current_version(state) == v_crash) == (point == "after_flip")
    want = scd2_merge(
        scd2_init(spark.createDataFrame(d0, UPD_SCHEMA), "station_id", "eff"),
        spark.createDataFrame(d1, UPD_SCHEMA),
        "station_id",
        ["name", "capacity"],
        "eff",
    )
    assert _scd2_rows(fl_read(spark, state)) == _scd2_rows(want)
    props = fl_table_props(state)
    assert props["last_epoch"] == 1 and props["operation"] == "overwrite"


def test_empty_epoch_state_collects_without_a_job(spark, tmp_path):
    """Epoch 0 of a slice loop reads no state: an empty local
    relation with the state schema, which collects without a job."""
    from citybikedatawarehouse_spark.streaming.incremental import (
        _read_epoch_state,
    )
    from tests.spark_jobs import count_jobs

    state = _read_epoch_state(
        spark, str(tmp_path / "state"), DIGEST_STATE_SCHEMA, 0
    )
    assert state.schema == DIGEST_STATE_SCHEMA
    assert count_jobs(spark, "epoch0_state", state.collect) == ([], 0)


def test_stream_novelty_equals_batch_q114_semantics(spark, tmp_path):
    """Streaming novelty over ordered micro-batches must equal the
    corpus-wide q114 rule (a trigram is novel for the min doc_id
    holding it): state accumulation across epochs is exactly the
    'docs seen so far' prefix."""
    import re

    from citybikedatawarehouse_spark.streaming.incremental import (
        start_incremental_novelty,
    )

    day1 = [(1, "a b c d"), (2, "a b c")]          # doc2: all seen via doc1
    day2 = [(3, "b c d e f"), (4, "x y z w")]      # doc3 mixes old+new
    day3 = [(5, "x y z"), (6, "e f g h i")]
    src = tmp_path / "nsrc"
    for day in (day1, day2, day3):
        spark.createDataFrame(day, DOCS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
    out, state = str(tmp_path / "nout"), str(tmp_path / "nstate")
    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = start_incremental_novelty(stream, out, state)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        r["doc_id"]: (r["n_shingles"], r["n_novel"])
        for r in spark.read.parquet(f"{out}/epoch=*").collect()
    }
    # python ground truth: global min-doc-id first-seen over trigrams
    corpus = dict(day1 + day2 + day3)
    first = {}
    for doc_id in sorted(corpus):
        w = re.split(r"\s+", corpus[doc_id].strip())
        for s in {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}:
            first.setdefault(s, doc_id)
    want = {}
    for doc_id in corpus:
        w = re.split(r"\s+", corpus[doc_id].strip())
        sh = {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}
        if sh:
            want[doc_id] = (
                len(sh),
                sum(1 for s in sh if first[s] == doc_id),
            )
    assert got == want
    # state holds each shingle exactly once across epochs
    st = spark.read.parquet(f"{state}/epoch=*").collect()
    assert len(st) == len({r["shingle"] for r in st}) == len(first)


def test_replayed_epoch_ignores_its_own_crashed_state(spark, tmp_path):
    """The round-4 ADVICE failure window: a crash AFTER the state
    write but BEFORE the epoch commits used to make the replayed
    batch anti-join against its own digests and emit an empty
    survivor set. With epoch-keyed state and the current-epoch
    exclusion, the replay sees exactly the state its first attempt
    saw and recomputes identical survivors."""
    from citybikedatawarehouse_spark.streaming.incremental import (
        _read_epoch_state,
    )

    state_dir = str(tmp_path / "state")
    # epoch 0 committed normally: 'alpha' known
    spark.createDataFrame([("alpha",)], ["digest"]).select(
        F.md5("digest").alias("digest")
    ).write.parquet(f"{state_dir}/epoch=0")
    # epoch 1 CRASHED between writes: its digests are on disk
    batch1 = spark.createDataFrame(
        [(5, "alpha"), (6, "bravo"), (7, "bravo")], DOCS_SCHEMA
    )
    batch1.select(F.md5("text").alias("digest")).distinct().write.parquet(
        f"{state_dir}/epoch=1"
    )
    # replay of epoch 1: state read must EXCLUDE epoch=1
    state = _read_epoch_state(
        spark, state_dir, DIGEST_STATE_SCHEMA, epoch_id=1
    )
    fresh = dedup_batch_against_state(batch1, state, "doc_id", "text")
    rows = {(r["doc_id"], r["text"]) for r in fresh.collect()}
    # 'alpha' deduped by epoch-0 state; 'bravo' survives via min id —
    # NOT the empty set the flat-append shape produced here
    assert rows == {(6, "bravo")}
    # and a non-replay read (next epoch) sees everything
    state2 = _read_epoch_state(
        spark, state_dir, DIGEST_STATE_SCHEMA, epoch_id=2
    )
    assert state2.count() == 3  # alpha + alpha/bravo from epoch 1


EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), True),
        T.StructField("ts", T.TimestampNTZType(), True),
        T.StructField("event_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
    ]
)


def test_stream_transitions_equal_batch_q137_semantics(spark, tmp_path):
    """Streaming transition counts over time-ordered micro-batches
    must equal the batch matrix over the union — the cross-batch
    boundary pair (last event of epoch k, first of epoch k+1) is
    contributed exactly once, by the later epoch via its persisted
    last-event state."""
    from datetime import datetime

    from citybikedatawarehouse_spark.streaming.incremental import (
        start_incremental_transitions,
    )

    def t(s):
        return datetime(2024, 1, 1, 0, 0, s)

    # u1 spans all three batches (two boundary transitions);
    # u2 spans batches 1+3 (state must survive an absent epoch);
    # u3 lives in one batch only; same-ts pair tiebroken by event_id
    day1 = [(1, t(1), 1, "view"), (1, t(2), 2, "click"), (2, t(3), 3, "signup")]
    day2 = [(1, t(4), 4, "purchase"), (3, t(5), 5, "view"), (3, t(5), 6, "error")]
    day3 = [(1, t(7), 7, "view"), (2, t(8), 8, "purchase")]
    src = tmp_path / "tsrc"
    for day in (day1, day2, day3):
        spark.createDataFrame(day, EVENTS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
    out, state = str(tmp_path / "tout"), str(tmp_path / "tstate")
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = start_incremental_transitions(stream, out, state)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {}
    for r in spark.read.parquet(f"{out}/epoch=*").collect():
        key = (r["from_type"], r["to_type"])
        got[key] = got.get(key, 0) + r["n"]

    # pure-python batch ground truth over the union
    ev = sorted(day1 + day2 + day3, key=lambda e: (e[0], e[1], e[2]))
    want = {}
    for a, b in zip(ev, ev[1:]):
        if a[0] == b[0]:
            want[(a[3], b[3])] = want.get((a[3], b[3]), 0) + 1
    assert got == want
    # state resolution: exactly one (latest) row per user
    from citybikedatawarehouse_spark.streaming.incremental import (
        LAST_EVENT_STATE_SCHEMA,
        resolve_last_events,
    )

    st = spark.read.schema(LAST_EVENT_STATE_SCHEMA).parquet(
        f"{state}/epoch=*"
    )
    last = {
        r["user_id"]: r["event_id"]
        for r in resolve_last_events(st).collect()
    }
    assert last == {1: 7, 2: 8, 3: 6}


def test_stream_funnel_equals_batch_q128_semantics(spark, tmp_path):
    """Streaming funnel state over time-ordered micro-batches must
    reproduce q128's ordered-stage semantics: per user, t_signup =
    first signup, t_view = first view/click AFTER it, t_purchase =
    first purchase AFTER that — including stages completed across
    different epochs and several stages inside ONE epoch."""
    from datetime import datetime

    from citybikedatawarehouse_spark.streaming.incremental import (
        FUNNEL_STATE_SCHEMA,
        resolve_funnel_state,
        start_incremental_funnel,
    )

    def t(s):
        return datetime(2024, 1, 1, 0, 0, s)

    # u1: all three stages in one epoch; u2: stages across epochs;
    # u3: purchase BEFORE view (must not convert); u4: view before
    # signup (not engaged)
    day1 = [
        (1, t(1), "signup"), (1, t(2), "view"), (1, t(3), "purchase"),
        (2, t(4), "signup"), (3, t(1), "signup"), (3, t(2), "purchase"),
        (4, t(1), "view"),
    ]
    day2 = [(2, t(10), "click"), (3, t(11), "view"), (4, t(12), "signup")]
    day3 = [(2, t(20), "purchase"), (4, t(21), "click"), (4, t(22), "purchase")]
    schema = "user_id long, ts timestamp_ntz, event_type string"
    src = tmp_path / "fsrc"
    for day in (day1, day2, day3):
        spark.createDataFrame(day, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
    state = str(tmp_path / "fstate")
    stream = (
        spark.readStream.schema(
            spark.createDataFrame([], schema).schema
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = start_incremental_funnel(stream, state)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    final = {
        r["user_id"]: (r["t_signup"], r["t_view"], r["t_purchase"])
        for r in resolve_funnel_state(
            spark.read.schema(FUNNEL_STATE_SCHEMA).parquet(f"{state}/epoch=*")
        ).collect()
    }
    # batch ground truth (q128 semantics) in pure python
    ev = day1 + day2 + day3
    want = {}
    for u in {e[0] for e in ev}:
        mine = sorted(e for e in ev if e[0] == u)
        s = min((e[1] for e in mine if e[2] == "signup"), default=None)
        v = (
            min(
                (e[1] for e in mine if e[2] in ("view", "click") and e[1] > s),
                default=None,
            )
            if s
            else None
        )
        p = (
            min(
                (e[1] for e in mine if e[2] == "purchase" and e[1] > v),
                default=None,
            )
            if v
            else None
        )
        want[u] = (s, v, p)
    assert final == want
    # the batch q128 aggregate over the same facts agrees
    n_signup = sum(1 for s, _, _ in want.values() if s)
    n_engaged = sum(1 for _, v, _ in want.values() if v)
    n_converted = sum(1 for _, _, p in want.values() if p)
    # u1 converts in-epoch, u2 across epochs, u4 across epochs after
    # an unqualified early view; u3's purchase precedes its view
    assert (n_signup, n_engaged, n_converted) == (4, 4, 3)


def test_epoch_replay_is_idempotent_for_all_state_loops(spark, tmp_path):
    """Crash-replay property over the PRODUCTION epoch steps: run
    epochs 0 and 1, snapshot every output/state slice, then re-run
    epoch 1 with its own first-attempt slices still on disk (the
    crashed-between-writes scenario) and assert byte-level-equal
    results for dedup, novelty, transitions, and funnel state. This
    is the failure the epoch-keyed state read exists to prevent: a
    replay anti-joining its own digests would wipe the epoch's
    survivors with an empty overwrite."""
    from citybikedatawarehouse_spark.streaming.incremental import (
        dedup_epoch_step,
        funnel_epoch_step,
        novelty_epoch_step,
        resolve_funnel_state,
        resolve_last_events,
        transitions_epoch_step,
        _read_epoch_state,
        DIGEST_STATE_SCHEMA,
        FUNNEL_STATE_SCHEMA,
        LAST_EVENT_STATE_SCHEMA,
    )

    def snap(path):
        try:
            return sorted(
                tuple(r) for r in spark.read.parquet(path).collect()
            )
        except Exception:
            return None

    # --- dedup ---
    d_out, d_state = str(tmp_path / "d_out"), str(tmp_path / "d_state")
    b0 = spark.createDataFrame(
        [(0, "alpha"), (1, "bravo")], "doc_id long, text string"
    )
    b1 = spark.createDataFrame(
        [(2, "alpha"), (3, "charlie"), (4, "charlie")],
        "doc_id long, text string",
    )
    dedup_epoch_step(b0, 0, d_out, d_state)
    dedup_epoch_step(b1, 1, d_out, d_state)
    first = snap(f"{d_out}/epoch=1")
    # row shape is (digest, doc_id, text): the digest join key leads
    assert [t[2] for t in first] == ["charlie"]  # alpha known, 4 in-batch dup
    dedup_epoch_step(b1, 1, d_out, d_state)  # REPLAY with own state on disk
    assert snap(f"{d_out}/epoch=1") == first
    assert (
        _read_epoch_state(spark, d_state, DIGEST_STATE_SCHEMA, 2).count() == 3
    )

    # --- novelty ---
    n_out, n_state = str(tmp_path / "n_out"), str(tmp_path / "n_state")
    t0 = spark.createDataFrame(
        [(0, "a b c d")], "doc_id long, text string"
    )
    t1 = spark.createDataFrame(
        [(1, "a b c e"), (2, "f g h i")], "doc_id long, text string"
    )
    novelty_epoch_step(t0, 0, n_out, n_state)
    novelty_epoch_step(t1, 1, n_out, n_state)
    first = snap(f"{n_out}/epoch=1")
    first_state = snap(f"{n_state}/epoch=1")
    novelty_epoch_step(t1, 1, n_out, n_state)
    assert snap(f"{n_out}/epoch=1") == first
    assert snap(f"{n_state}/epoch=1") == first_state

    # --- transitions ---
    from datetime import datetime

    tr_out, tr_state = str(tmp_path / "t_out"), str(tmp_path / "t_state")
    e0 = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 0), 10, "view"),
         (1, datetime(2024, 1, 1, 1), 11, "cart")],
        "user_id long, ts timestamp_ntz, event_id long, event_type string",
    )
    e1 = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 2), 12, "purchase"),
         (2, datetime(2024, 1, 1, 3), 13, "view")],
        "user_id long, ts timestamp_ntz, event_id long, event_type string",
    )
    transitions_epoch_step(e0, 0, tr_out, tr_state)
    transitions_epoch_step(e1, 1, tr_out, tr_state)
    first = snap(f"{tr_out}/epoch=1")
    assert ("cart", "purchase", 1) in first  # boundary pair via state
    transitions_epoch_step(e1, 1, tr_out, tr_state)
    assert snap(f"{tr_out}/epoch=1") == first
    resolved = {
        r["user_id"]: r["event_type"]
        for r in resolve_last_events(
            _read_epoch_state(spark, tr_state, LAST_EVENT_STATE_SCHEMA, 2)
        ).collect()
    }
    assert resolved == {1: "purchase", 2: "view"}

    # --- funnel ---
    f_state = str(tmp_path / "f_state")
    funnel_epoch_step(e0, 0, f_state)
    funnel_epoch_step(e1, 1, f_state)
    first_resolved = sorted(
        tuple(r)
        for r in resolve_funnel_state(
            _read_epoch_state(spark, f_state, FUNNEL_STATE_SCHEMA, 99)
        ).collect()
    )
    funnel_epoch_step(e1, 1, f_state)
    again = sorted(
        tuple(r)
        for r in resolve_funnel_state(
            _read_epoch_state(spark, f_state, FUNNEL_STATE_SCHEMA, 99)
        ).collect()
    )
    assert again == first_resolved


def test_stream_assign_equals_batch_q167_stats(spark, tmp_path):
    """Streaming ANN ingest against frozen centroids: the resolved
    per-cell (n, mean_sq) state after N epochs equals the one-shot
    batch assignment of the concatenated stream, and an epoch replay
    is idempotent."""
    from citybikedatawarehouse_spark.operators.clustering import (
        kmeans_assign,
        kmeans_fit,
    )
    from citybikedatawarehouse_spark.sources.readers import load_table
    from citybikedatawarehouse_spark.streaming.incremental import (
        assign_epoch_step,
        resolve_cell_state,
        CELL_STATE_SCHEMA,
        _read_epoch_state,
    )
    from pyspark.sql import functions as F

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    hist = emb.filter(F.col("vec_id") % 2 == 0)
    _, cents = kmeans_fit(hist, k=4, n_iter=2)
    state = str(tmp_path / "cells")
    batches = [
        emb.filter((F.col("vec_id") % 3) == i) for i in range(3)
    ]
    for i, b in enumerate(batches):
        assign_epoch_step(b, i, state, cents)
    assign_epoch_step(batches[1], 1, state, cents)  # replay epoch 1
    got = {
        r["cell"]: (r["n"], r["mean_sq"])
        for r in resolve_cell_state(
            _read_epoch_state(spark, state, CELL_STATE_SCHEMA, 99)
        ).collect()
    }
    batch = (
        kmeans_assign(emb, cents, "vec_id", "embedding")
        .groupBy(F.col("cluster_id").cast("int").alias("cell"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("sq_dist") / F.count(F.lit(1)), 6).alias("m"),
        )
        .collect()
    )
    want = {r["cell"]: (r["n"], r["m"]) for r in batch}
    assert set(got) == set(want)
    for c in want:
        assert got[c][0] == want[c][0]
        assert abs(got[c][1] - want[c][1]) < 1e-9


def test_stream_wau_equals_batch_q173(spark, tmp_path):
    """Streaming WAU slices resolved after 3 epochs (one replayed)
    equal the batch q173 result on the full events table."""
    from pyspark.sql import functions as F

    from citybikedatawarehouse_spark.plans.catalog import QUERIES
    from citybikedatawarehouse_spark.sources.readers import load_table
    from citybikedatawarehouse_spark.streaming.incremental import (
        USER_DAY_STATE_SCHEMA,
        _read_epoch_state,
        resolve_wau,
        wau_epoch_step,
    )

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    state = str(tmp_path / "wau")
    for i in range(3):
        wau_epoch_step(ev.filter(F.col("event_id") % 3 == i), i, state)
    wau_epoch_step(ev.filter(F.col("event_id") % 3 == 1), 1, state)  # replay
    got = {
        r["day"]: r["wau"]
        for r in resolve_wau(
            _read_epoch_state(spark, state, USER_DAY_STATE_SCHEMA, 99)
        ).collect()
    }
    want = {
        r["day"]: r["wau"]
        for r in QUERIES["q173_rolling_wau"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert got == want


def test_stream_jsd_equals_batch_q188(spark, tmp_path):
    """JSD resolved from 3 word-count epoch slices (one replayed)
    equals the batch q188 on the full documents table."""
    from pyspark.sql import functions as F

    from citybikedatawarehouse_spark.plans.catalog import QUERIES
    from citybikedatawarehouse_spark.sources.readers import load_table
    from citybikedatawarehouse_spark.streaming.incremental import (
        SOURCE_WORD_STATE_SCHEMA,
        _read_epoch_state,
        resolve_source_jsd,
        wordcount_epoch_step,
    )

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    state = str(tmp_path / "jsd")
    for i in range(3):
        wordcount_epoch_step(d.filter(F.col("doc_id") % 3 == i), i, state)
    wordcount_epoch_step(d.filter(F.col("doc_id") % 3 == 1), 1, state)
    got = {
        (r["source_a"], r["source_b"]): r["jsd_bits"]
        for r in resolve_source_jsd(
            _read_epoch_state(spark, state, SOURCE_WORD_STATE_SCHEMA, 99)
        ).collect()
    }
    want = {
        (r["source_a"], r["source_b"]): r["jsd_bits"]
        for r in QUERIES["q188_source_jsd"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert got == want


def test_stream_key_census_equals_batch_q210(spark, tmp_path):
    """The census resolved from 3 per-epoch count slices (one
    replayed — crash-replay must not double-count) equals q210's
    events/user_id row computed in one batch."""
    from pyspark.sql import functions as F

    from citybikedatawarehouse_spark.plans.catalog import QUERIES
    from citybikedatawarehouse_spark.sources.readers import load_table
    from citybikedatawarehouse_spark.streaming.incremental import (
        KEY_COUNT_STATE_SCHEMA,
        _read_epoch_state,
        keycount_epoch_step,
        resolve_key_census,
    )

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    state = str(tmp_path / "census")
    for i in range(3):
        keycount_epoch_step(ev.filter(F.col("event_id") % 3 == i), i, state)
    keycount_epoch_step(ev.filter(F.col("event_id") % 3 == 1), 1, state)
    got = resolve_key_census(
        _read_epoch_state(spark, state, KEY_COUNT_STATE_SCHEMA, 99)
    ).collect()[0]
    want = [
        r
        for r in QUERIES["q210_key_skew_census"](
            spark, "/root/testdata/sf0.001"
        ).collect()
        if r["tbl"] == "events"
    ][0]
    assert got.asDict() == want.asDict()


def test_stream_cms_equals_batch_q243(spark, tmp_path):
    """The sketch merged from 3 per-epoch slices (one replayed —
    crash-replay must not double-count) probed with q243's true
    top-20 keys gives exactly q243's cms_estimate column, and the
    merged counters equal the single-batch sketch (counter monoid +
    pure hash = stream == batch)."""
    from pyspark.sql import functions as F

    from citybikedatawarehouse_spark.plans.catalog import QUERIES
    from citybikedatawarehouse_spark.sources.readers import load_table
    from citybikedatawarehouse_spark.streaming.incremental import (
        CMS_STATE_SCHEMA,
        _read_epoch_state,
        cms_epoch_step,
        cms_estimate,
        resolve_cms,
    )

    sf = "/root/testdata/sf0.001"
    li = load_table(spark, sf, "lineitem")
    state = str(tmp_path / "cms")
    for i in range(3):
        cms_epoch_step(li.filter(F.col("l_orderkey") % 3 == i), i, state)
    cms_epoch_step(li.filter(F.col("l_orderkey") % 3 == 1), 1, state)  # replay
    sketch = resolve_cms(_read_epoch_state(spark, state, CMS_STATE_SCHEMA, 99))

    batch = QUERIES["q243_countmin_heavy_hitters"](spark, sf)
    keys = batch.select("l_partkey")
    got = {
        r.l_partkey: r.cms_estimate
        for r in cms_estimate(sketch, keys, "l_partkey").collect()
    }
    want = {r.l_partkey: r.cms_estimate for r in batch.collect()}
    assert got == want
    # overestimate law holds on the streamed sketch too
    actual = {r.l_partkey: r.actual for r in batch.collect()}
    assert all(got[k] >= actual[k] for k in got)
    # total mass: every depth row carries every update exactly once
    per_row = {
        r.j: r.s
        for r in sketch.groupBy("j").agg(F.sum("counter").alias("s")).collect()
    }
    n = li.count()
    assert set(per_row.values()) == {n}


def test_stream_hll_equals_batch_q244(spark, tmp_path):
    """HLL registers merged from 3 per-epoch slices (one replayed)
    give exactly q244's estimate for the same entity — MAX-monoid +
    pure hash = stream == batch regardless of how rows were split
    across epochs."""
    from pyspark.sql import functions as F

    from citybikedatawarehouse_spark.plans.catalog import QUERIES
    from citybikedatawarehouse_spark.sources.readers import load_table
    from citybikedatawarehouse_spark.streaming.incremental import (
        HLL_STATE_SCHEMA,
        _read_epoch_state,
        hll_epoch_step,
        resolve_hll_estimate,
    )

    sf = "/root/testdata/sf0.001"
    li = load_table(spark, sf, "lineitem")
    state = str(tmp_path / "hll")
    for i in range(3):
        hll_epoch_step(
            li.filter(F.col("l_orderkey") % 3 == i), i, state, "l_partkey"
        )
    hll_epoch_step(li.filter(F.col("l_orderkey") % 3 == 1), 1, state, "l_partkey")
    got = resolve_hll_estimate(
        _read_epoch_state(spark, state, HLL_STATE_SCHEMA, 99)
    ).collect()[0].hll_estimate
    want = [
        r.hll_estimate
        for r in QUERIES["q244_hll_distinct"](spark, sf).collect()
        if r.entity == "lineitem_l_partkey"
    ][0]
    assert got == want


def test_stream_cdc_equals_batch_q252(spark, tmp_path):
    """The CDC ops log split across 3 epochs (one replayed) resolves
    to exactly q252's census — last-writer-wins is a semilattice, so
    per-epoch reduction then cross-epoch reduction equals one global
    reduction regardless of how ops were split."""
    from pyspark.sql import functions as F

    from citybikedatawarehouse_spark.plans.catalog import QUERIES
    from citybikedatawarehouse_spark.sources.readers import load_table
    from citybikedatawarehouse_spark.streaming.incremental import (
        CDC_STATE_SCHEMA,
        _read_epoch_state,
        cdc_epoch_step,
        resolve_cdc,
    )

    sf = "/root/testdata/sf0.001"
    o = load_table(spark, sf, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")

    def tick(tag):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(tag), F.col("o_orderkey").cast("string"))),
                    1, 8,
                ), 16, 10,
            ).cast("long") % 100
        )

    ins = o.select(
        F.col("o_orderkey").alias("k"), F.col("o_orderdate").alias("ts"),
        F.lit(1).alias("seq"), F.lit("I").alias("op"), cents.alias("cents"),
    )
    upd = o.where(tick("cdc_u:") < 30).select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_orderdate") + F.expr("INTERVAL 10 DAY")).alias("ts"),
        F.lit(2).alias("seq"), F.lit("U").alias("op"),
        F.round(F.col("o_totalprice") * 110).cast("bigint").alias("cents"),
    )
    dels = o.where(tick("cdc_d:") < 10).select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_orderdate") + F.expr("INTERVAL 20 DAY")).alias("ts"),
        F.lit(3).alias("seq"), F.lit("D").alias("op"),
        F.lit(0).cast("bigint").alias("cents"),
    )
    ops = ins.unionAll(upd).unionAll(dels)
    state = str(tmp_path / "cdc")
    # epochs split by key mod 3 — every key's ops land together but
    # ALSO run a split-by-op variant to prove cross-epoch merge
    for i in range(3):
        cdc_epoch_step(ops.filter(F.col("k") % 3 == i), i, state)
    cdc_epoch_step(ops.filter(F.col("k") % 3 == 1), 1, state)  # replay
    # op-type split: inserts epoch 10, updates 11, deletes 12 —
    # a key's ops now SPAN epochs
    state2 = str(tmp_path / "cdc2")
    cdc_epoch_step(ins, 10, state2)
    cdc_epoch_step(upd, 11, state2)
    cdc_epoch_step(dels, 12, state2)

    want = QUERIES["q252_cdc_apply"](spark, sf).collect()[0]
    for st in (state, state2):
        live = resolve_cdc(
            _read_epoch_state(spark, st, CDC_STATE_SCHEMA, 99)
        )
        got = live.agg(
            F.sum(F.when(F.col("op") != "D", 1).otherwise(0)).alias("n_live"),
            F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).alias("n_del"),
            F.sum(F.when(F.col("op") != "D", F.col("cents")).otherwise(0)).alias("cents"),
        ).collect()[0]
        assert got.n_live == want.n_live
        assert got.n_del == want.n_deleted
        assert got.cents == want.live_cents


def test_stream_hist_equals_batch_q261(spark, tmp_path):
    """The histogram merged from 3 per-epoch slices (one replayed —
    crash-replay must not double-count) equals q261's batch-built
    bins bin-for-bin, and its quantile estimates equal the batch
    est_* columns (SUM-monoid + pure string binning = stream ==
    batch for any epoch partitioning)."""
    from pyspark.sql import functions as F

    from citybikedatawarehouse_spark.plans.catalog import QUERIES
    from citybikedatawarehouse_spark.sources.readers import load_table
    from citybikedatawarehouse_spark.streaming.incremental import (
        HIST_STATE_SCHEMA,
        _read_epoch_state,
        hist_epoch_step,
        hist_quantile_estimate,
        resolve_hist,
    )

    sf = "/root/testdata/sf0.001"
    li = load_table(spark, sf, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        "l_orderkey",
    )
    state = str(tmp_path / "hist")
    for i in range(3):
        hist_epoch_step(li.filter(F.col("l_orderkey") % 3 == i), i, state, "cents")
    hist_epoch_step(li.filter(F.col("l_orderkey") % 3 == 1), 1, state, "cents")  # replay
    bins = resolve_hist(_read_epoch_state(spark, state, HIST_STATE_SCHEMA, 99))

    got = hist_quantile_estimate(bins).collect()[0].asDict()
    batch = QUERIES["q261_histogram_quantiles"](spark, sf).collect()[0]
    assert got == {k: batch[k] for k in ("est_p50", "est_p90", "est_p99")}
    # total mass: every row counted exactly once across epochs
    assert bins.agg(F.sum("cnt")).first()[0] == li.count()
    # bin-for-bin identity with the batch sketch (n_bins column)
    assert bins.count() == batch.n_bins


def test_stream_kmv_equals_batch_q275(spark, tmp_path):
    """KMV bottom-k slices from 3 epochs (one replayed) resolve to
    exactly the batch sketch over the union — bottom-k of a union of
    bottom-k slices is the union's bottom-k (idempotent commutative
    monoid), and the estimator over the resolved sketch matches the
    one-pass value."""
    from pyspark.sql import functions as F

    from citybikedatawarehouse_spark.sources.readers import load_table
    from citybikedatawarehouse_spark.streaming.incremental import (
        KMV_STATE_SCHEMA,
        _read_epoch_state,
        kmv_epoch_step,
        kmv_estimate,
        kmv_hash,
        resolve_kmv,
    )

    sf = "/root/testdata/sf0.01"
    o = load_table(spark, sf, "orders").select("o_custkey")
    state = str(tmp_path / "kmv")
    for i in range(3):
        kmv_epoch_step(o.filter(F.col("o_custkey") % 3 == i), i, state, "o_custkey")
    # replay epoch 1: must overwrite, not double-count
    kmv_epoch_step(o.filter(F.col("o_custkey") % 3 == 1), 1, state, "o_custkey")
    sketch = resolve_kmv(_read_epoch_state(spark, state, KMV_STATE_SCHEMA, 99))
    batch_sketch = (
        o.select(kmv_hash(F.col("o_custkey")).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(256)
    )
    assert sorted(r.h for r in sketch.collect()) == sorted(
        r.h for r in batch_sketch.collect()
    )
    got = kmv_estimate(sketch).collect()[0].kmv_estimate
    want = kmv_estimate(batch_sketch).collect()[0].kmv_estimate
    assert got == want
    # accuracy band: rel std err ~ 1/sqrt(k-2) ~ 6.3%; allow 4 sigma
    exact = o.distinct().count()
    assert abs(got - exact) / exact < 0.25, (got, exact)


def test_kmv_estimate_small_set_is_exact(spark):
    """A set that never fills k slots IS its own sketch — the
    estimator must return the exact count, not extrapolate."""
    from citybikedatawarehouse_spark.streaming.incremental import (
        kmv_estimate,
        kmv_hash,
    )
    from pyspark.sql import functions as F

    small = spark.range(37).select(kmv_hash(F.col("id")).alias("h"))
    assert kmv_estimate(small).collect()[0].kmv_estimate == 37


def test_q275_overlap_laws(spark, sf_dir):
    """Structural laws of the theta intersection beyond the oracle
    hash gate: the estimates land within the k=256 accuracy band of
    their exact legs, and the sampled-intersection estimate is
    consistent (0 <= est_overlap, est bounded by the smaller set's
    estimate scaled by band)."""
    from citybikedatawarehouse_spark.plans.catalog import QUERIES

    r = QUERIES["q275_kmv_overlap"](spark, sf_dir).collect()[0]
    assert r.k == 256
    for est, exact in ((r.est_a, r.exact_a), (r.est_b, r.exact_b)):
        if exact < 256:
            # unfilled sketch IS the set: estimator must be exact
            assert est == exact, (est, exact)
        else:
            assert abs(est - exact) / exact < 0.25, (est, exact)
    assert r.exact_overlap > 0
    if r.exact_a < 256 and r.exact_b < 256:
        # both sketches hold their whole sets -> exact intersection
        assert r.est_overlap == r.exact_overlap
    else:
        assert abs(r.est_overlap - r.exact_overlap) / r.exact_overlap < 0.45
    assert abs(float(r.rel_error_overlap)) < 0.45


def test_q276_matrix_laws(spark, sf_dir):
    """Matrix laws beyond the hash gate: all C(5,2) priority pairs
    present, estimates within band of (or exactly equal to, when
    both cohorts are under k) their exact legs, and symmetry is by
    construction (seg_a < seg_b, each unordered pair exactly once)."""
    from citybikedatawarehouse_spark.plans.catalog import QUERIES

    rows = QUERIES["q276_kmv_overlap_matrix"](spark, sf_dir).collect()
    prios = {r.seg_a for r in rows} | {r.seg_b for r in rows}
    assert len(rows) == len(prios) * (len(prios) - 1) // 2
    assert all(r.seg_a < r.seg_b for r in rows)
    seen = {(r.seg_a, r.seg_b) for r in rows}
    assert len(seen) == len(rows)
    # per-cohort sizes decide which law applies
    from citybikedatawarehouse_spark.sources.readers import load_table
    from pyspark.sql import functions as F

    o = load_table(spark, sf_dir, "orders")
    sizes = {
        r.seg: r.n
        for r in o.groupBy(F.col("o_orderpriority").alias("seg"))
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    for r in rows:
        assert r.exact_overlap > 0
        if sizes[r.seg_a] < 256 and sizes[r.seg_b] < 256:
            assert r.est_overlap == r.exact_overlap, r
        else:
            assert abs(r.est_overlap - r.exact_overlap) / r.exact_overlap < 0.5, r
