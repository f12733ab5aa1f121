"""Streaming twins of batch queries, as foreachBatch loops with
persistent state. foreachBatch makes each micro-batch a normal batch
job, so every step is the oracle-verified batch plan (AQE, broadcast
of a small state side included), executed incrementally. Delivery is
at-least-once: after a crash between a step's side effects and the
stream's checkpoint, Structured Streaming replays the epoch. Every
``start_*`` starter takes an optional ``checkpoint_location`` to
restart a stopped query where it left off (``_start``). The state
takes one of two shapes, each replay-safe:

- **Epoch slices** (dedup, novelty, transitions, funnel and the
  sketch and monoid feeds): each epoch writes its state slice, and
  any output, to epoch-keyed directories (``state_dir/epoch=N``) by
  overwrite, and the state read unions every slice EXCEPT the current
  epoch's. A replayed epoch sees exactly the state its first attempt
  saw and overwrites its own slices idempotently: a batch can never
  anti-join against digests its own crashed attempt recorded, which
  would yield an empty "fresh" set that overwrites the epoch dir
  holding the real survivors. Only a replay rewrites a slice, before
  any later epoch has read it.
- **A file-list table** (``operators/table_format.py``: the SCD2
  dimension of ``start_scd2_stream`` and the upsert sink of
  ``start_fl_upsert_stream``): each epoch is ONE atomic commit that
  records the epoch id and the stream's id in its props, the Delta
  ``txnAppId``/``txnVersion`` idempotent-sink pattern. A crash before
  the pointer flip leaves readers on the previous version, and a
  replay of a published epoch is skipped (``_epoch_is_replay``).

The module starts with the cross-batch dedup, the streaming twin of
q86_incremental_dedup (plans/curation.py). Unlike
``dropDuplicatesWithinWatermark`` (windows.py), its state has no
horizon: "have we EVER seen this document". Each micro-batch keeps
its min-id survivor per digest and anti-joins the accumulated 32-byte
digests, shuffling only digests, never text (q60's rule).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

DIGEST_STATE_SCHEMA = T.StructType(
    [T.StructField("digest", T.StringType(), False)]
)

SHINGLE_STATE_SCHEMA = T.StructType(
    [T.StructField("shingle", T.StringType(), False)]
)


def _read_epoch_state(spark, state_dir, schema, epoch_id):
    """Union every epoch slice EXCEPT the current one (a replayed
    batch must never see state its own crashed attempt recorded) —
    the shared replay-safe state read of this module's loops. With no
    slice yet it is an empty local relation, which collects without
    a Spark job."""
    from citybikedatawarehouse_spark.operators.table_format import (
        _local_relation,
    )

    dirs = []
    if os.path.isdir(state_dir):
        dirs = [
            os.path.join(state_dir, d)
            for d in os.listdir(state_dir)
            if d.startswith("epoch=") and d != f"epoch={epoch_id}"
        ]
    if not dirs:
        return _local_relation(spark, schema)
    return spark.read.schema(schema).parquet(*dirs)


def _start(stream: DataFrame, step, checkpoint_location: str | None):
    """Start ``stream`` with ``step`` as its foreachBatch function —
    the one start of this module's starters. With a
    ``checkpoint_location`` a stopped or crashed query restarts from
    its checkpoint: the epochs it acknowledged do not run again, and
    an epoch that had not been acknowledged is replayed under the same
    id. Without one, Spark gives each start a fresh checkpoint."""
    writer = stream.writeStream.foreachBatch(step)
    if checkpoint_location is not None:
        writer = writer.option("checkpointLocation", checkpoint_location)
    return writer.start()


def dedup_batch_against_state(
    batch: DataFrame, state_df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """One batch step: digest, within-batch min-id survivor, then
    anti-join against the accumulated state. Pure function of
    (batch, state) — unit-testable without a stream, and exactly the
    q86 batch shape."""
    digested = batch.withColumn("digest", F.md5(F.col(text_col)))
    w = Window.partitionBy("digest").orderBy(id_col)
    in_batch = (
        digested.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return in_batch.join(state_df, "digest", "left_anti")


def start_scd2_stream(
    updates_stream: DataFrame,
    state_dir: str,
    key: str,
    attrs: list[str],
    effective_ts: str,
    checkpoint_location: str | None = None,
):
    """Streaming SCD2 maintenance: each micro-batch of dimension
    updates is collapsed to its latest row per key (history inside
    one micro-batch is batch-granular — only the newest version
    opens; ordering is (effective_ts, attrs) descending, so the
    survivor is deterministic even for same-timestamp conflicts) and
    merged into the persistent dimension with operators.scd.scd2_merge
    — the incremental upsert-with-history the reference's
    ``if_exists='replace'`` wholesale reload loses.

    ``state_dir`` is a file-list table (operators/table_format.py).
    The first batch creates it with ``fl_init(scd2_init(latest))``;
    every later epoch is ONE commit that replaces the dimension's
    files with ``scd2_merge(fl_read(parent), latest)`` — the parent
    version's files are immutable, so the lazy read of the old
    dimension while the new one is written is safe. Each commit
    records the epoch and the query's id (stable across restarts from
    one checkpoint), so a crash before the pointer flip leaves readers
    on the previous dimension and a replay of a published epoch is
    skipped (``_epoch_is_replay``); a restart from a fresh checkpoint
    merges its batches into the existing dimension."""
    from citybikedatawarehouse_spark.operators.scd import scd2_init, scd2_merge
    from citybikedatawarehouse_spark.operators.table_format import (
        _replace_all,
        fl_current_version,
        fl_init,
        fl_read,
        fl_table_props,
    )

    def step(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        w = Window.partitionBy(key).orderBy(
            F.col(effective_ts).desc(), *[F.col(a).desc() for a in attrs]
        )
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        txn_app_id = spark.sparkContext.getLocalProperty(
            "sql.streaming.queryId"
        )
        epoch = {"last_epoch": int(epoch_id), "txn_app_id": txn_app_id}
        try:
            parent = fl_current_version(state_dir)
        except FileNotFoundError:
            fl_init(
                spark, state_dir, scd2_init(latest, key, effective_ts),
                key=key, extra_props=epoch,
            )
            return
        props = fl_table_props(state_dir, parent)
        if _epoch_is_replay(props, epoch_id, txn_app_id):
            return
        merged = scd2_merge(
            fl_read(spark, state_dir, parent), latest, key, attrs,
            effective_ts,
        )
        _replace_all(
            spark, state_dir, parent, {**props, **epoch}, merged,
            operation="overwrite",
        )

    return _start(updates_stream, step, checkpoint_location)


def start_incremental_dedup(
    docs_stream: DataFrame,
    out_dir: str,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint_location: str | None = None,
):
    """Start the streaming dedup: survivors land under
    ``out_dir/epoch=N``, digests under ``state_dir/epoch=N``.
    Returns the started query (caller processes/stops).

    Replay safety: the state READ unions every epoch slice EXCEPT the
    current one, and both writes are per-epoch overwrites — a batch
    replayed after a crash between the two writes sees exactly the
    state its first attempt saw, recomputes the same survivors, and
    overwrites both directories idempotently (the flat-append shape
    this replaced could anti-join a replay against its own digests
    and wipe the epoch's real survivors with an empty write)."""
    def step(batch_df: DataFrame, epoch_id: int) -> None:
        dedup_epoch_step(
            batch_df, epoch_id, out_dir, state_dir, id_col, text_col
        )

    return _start(docs_stream, step, checkpoint_location)


def dedup_epoch_step(
    batch_df: DataFrame,
    epoch_id: int,
    out_dir: str,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """One dedup epoch, module-level so crash-replay tests drive the
    EXACT production step: running the same (batch, epoch_id) twice —
    even with the first attempt's state slice already on disk — must
    produce identical survivors and state (asserted in
    tests/test_streaming_incremental.py)."""
    spark = batch_df.sparkSession
    state = _read_epoch_state(spark, state_dir, DIGEST_STATE_SCHEMA, epoch_id)
    fresh = dedup_batch_against_state(
        batch_df, state, id_col, text_col
    ).localCheckpoint()  # two consumers below; don't replay the join
    fresh.write.mode("overwrite").parquet(f"{out_dir}/epoch={epoch_id}")
    fresh.select("digest").write.mode("overwrite").parquet(
        f"{state_dir}/epoch={epoch_id}"
    )


def score_shingles_against_state(
    batch: DataFrame, state_df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """One novelty batch step (pure function of (batch, state) — the
    streaming counterpart of q114's corpus-wide trigram novelty):
    the batch's distinct per-doc trigram relation, annotated with
    ``__first`` (the min batch id holding the shingle — in-batch
    first-seen, deterministic regardless of arrival order inside the
    batch) and ``__known`` (true iff the shingle exists in the
    accumulated state). A shingle is NOVEL for doc d iff it is not
    known and d == __first — exactly q114's min-id rule applied
    incrementally.

    Plan: the shingle relation repartitions by shingle ONCE; the
    first-seen window and the state join both ride that exchange
    (q114's ReusedExchange discipline), and only shingles — never
    text — cross the wire after the explode."""
    from citybikedatawarehouse_spark.plans.text import doc_shingles

    sh = doc_shingles(batch, id_col, text_col).repartition("shingle")
    w = Window.partitionBy("shingle")
    return (
        sh.withColumn("__first", F.min(id_col).over(w))
        .join(
            state_df.withColumn("__known", F.lit(True)), "shingle", "left"
        )
    )


def novelty_of_scored(scored: DataFrame, id_col: str) -> DataFrame:
    """Per-doc novelty aggregate over score_shingles_against_state's
    output: (id, n_shingles, n_novel, novelty round 6)."""
    novel = (
        F.col("__known").isNull() & (F.col(id_col) == F.col("__first"))
    ).cast("bigint")
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(novel).alias("n_novel"),
        F.round(F.sum(novel).cast("double") / F.count(F.lit(1)), 6).alias(
            "novelty"
        ),
    )


def start_incremental_novelty(
    docs_stream: DataFrame,
    out_dir: str,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint_location: str | None = None,
):
    """Streaming n-gram novelty: per-doc novelty scores land under
    ``out_dir/epoch=N``, the accumulated shingle vocabulary under
    ``state_dir/epoch=N``. Same replay-safety contract as
    start_incremental_dedup: the state read excludes the current
    epoch and both writes are per-epoch overwrites, so a replayed
    batch recomputes identical scores idempotently. Converges to the
    batch q114 semantics when batches arrive in id order
    (tests/test_streaming_incremental.py)."""
    def step(batch_df: DataFrame, epoch_id: int) -> None:
        novelty_epoch_step(
            batch_df, epoch_id, out_dir, state_dir, id_col, text_col
        )

    return _start(docs_stream, step, checkpoint_location)


def novelty_epoch_step(
    batch_df: DataFrame,
    epoch_id: int,
    out_dir: str,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """One novelty epoch (module-level; see dedup_epoch_step)."""
    spark = batch_df.sparkSession
    state = _read_epoch_state(spark, state_dir, SHINGLE_STATE_SCHEMA, epoch_id)
    scored = score_shingles_against_state(
        batch_df, state, id_col, text_col
    ).localCheckpoint()  # two consumers; don't replay explode+join
    novelty_of_scored(scored, id_col).write.mode("overwrite").parquet(
        f"{out_dir}/epoch={epoch_id}"
    )
    (
        scored.filter(F.col("__known").isNull())
        .select("shingle")
        .distinct()
        .write.mode("overwrite")
        .parquet(f"{state_dir}/epoch={epoch_id}")
    )


LAST_EVENT_STATE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("ts", T.TimestampNTZType(), False),
        T.StructField("event_id", T.LongType(), False),
        T.StructField("event_type", T.StringType(), False),
    ]
)


def resolve_last_events(state_df: DataFrame) -> DataFrame:
    """Collapse accumulated per-epoch last-event slices to ONE row
    per user (latest by (ts, event_id) — the q137 total order). Each
    epoch writes only the users it saw, so the accumulated union
    holds one candidate per (user, epoch); resolution is a per-user
    window on a users-sized relation, not the event stream."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        state_df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def transitions_batch_with_state(
    batch: DataFrame, last_events: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """One transition-matrix batch step (pure function of
    (batch, resolved state) — the streaming counterpart of q137):
    prepend each user's persisted LAST event to their batch slice,
    count adjacent (from_type, to_type) pairs in (ts, event_id)
    order, and emit (counts, new_state_slice). The prepended row
    contributes exactly the one cross-batch boundary transition its
    prior epoch could not see; everything before it was already
    counted. Assumes per-user event-time monotone batches (same
    contract as the SCD2 stream; an out-of-order source needs a
    watermark/reorder stage first — this is the foreachBatch twin of
    applyInPandasWithState sequence tracking, with the state in
    plain parquet instead of the state store).

    New state slice: the batch's latest event per user — users
    absent from the batch keep their older slices, resolved at read
    time by resolve_last_events."""
    cols = ["user_id", "ts", "event_id", "event_type"]
    ev = batch.select(*cols).unionByName(last_events.select(*cols))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
    )
    counts = t.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    w_last = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    new_state = (
        batch.select(*cols)
        .withColumn("__rn", F.row_number().over(w_last))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return counts, new_state


def start_incremental_transitions(
    events_stream: DataFrame,
    out_dir: str,
    state_dir: str,
    checkpoint_location: str | None = None,
):
    """Streaming first-order transition matrix: per-epoch
    (from_type, to_type, n) counts land under ``out_dir/epoch=N``
    (the full matrix is their groupBy-sum — counts are mergeable, so
    the aggregate is exact with no rescan), per-user last-event
    state under ``state_dir/epoch=N``. Same replay-safety contract
    as the dedup/novelty streams: the state read excludes the
    current epoch and both writes are per-epoch overwrites."""
    def step(batch_df: DataFrame, epoch_id: int) -> None:
        transitions_epoch_step(batch_df, epoch_id, out_dir, state_dir)

    return _start(events_stream, step, checkpoint_location)


def transitions_epoch_step(
    batch_df: DataFrame, epoch_id: int, out_dir: str, state_dir: str
) -> None:
    """One transitions epoch (module-level; see dedup_epoch_step)."""
    spark = batch_df.sparkSession
    state = _read_epoch_state(
        spark, state_dir, LAST_EVENT_STATE_SCHEMA, epoch_id
    )
    counts, new_state = transitions_batch_with_state(
        batch_df, resolve_last_events(state)
    )
    counts.write.mode("overwrite").parquet(f"{out_dir}/epoch={epoch_id}")
    new_state.write.mode("overwrite").parquet(
        f"{state_dir}/epoch={epoch_id}"
    )


FUNNEL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("t_signup", T.TimestampNTZType(), True),
        T.StructField("t_view", T.TimestampNTZType(), True),
        T.StructField("t_purchase", T.TimestampNTZType(), True),
    ]
)


def resolve_funnel_state(state_df: DataFrame) -> DataFrame:
    """Collapse per-epoch funnel slices to one row per user: stage
    timestamps only ever move EARLIER-or-set (each is the min over
    epochs, nulls ignored), so the resolution is a plain min
    aggregate — funnel state is a semilattice, which is what makes
    the epoch slices mergeable without ordering metadata."""
    return state_df.groupBy("user_id").agg(
        F.min("t_signup").alias("t_signup"),
        F.min("t_view").alias("t_view"),
        F.min("t_purchase").alias("t_purchase"),
    )


def funnel_batch_with_state(
    batch: DataFrame, state: DataFrame
) -> DataFrame:
    """One funnel batch step (pure function of (batch, resolved
    state) — the streaming counterpart of q128's ordered
    signup → view/click → purchase): merge the batch's events into
    each user's stage timestamps, honoring the ORDER constraints
    (a view only counts after the signup on record; a purchase only
    after the view on record). Returns the user's new state slice.

    Stage advancement uses the POST-MERGE earlier stage (a signup
    and a qualifying view arriving in the same batch both advance),
    so batch boundaries never change the outcome — the
    stream-equals-batch test pins this. Within the q128 semantics
    this is exact for in-order and same-batch arrivals; a view
    arriving in an EARLIER batch than its preceding signup is the
    same out-of-order case the other incremental loops exclude
    (watermark/reorder upstream)."""
    st = resolve_funnel_state(state)
    b = batch.select("user_id", "event_type", "ts")
    j = b.join(st, "user_id", "full")
    # stage 1 first: the post-merge signup gates which batch views
    # qualify, so it must resolve before the view scan
    agg = j.groupBy("user_id").agg(
        F.least(
            F.min("t_signup"),
            F.min(
                F.when(F.col("event_type") == "signup", F.col("ts"))
            ),
        ).alias("s_new"),
        F.min("t_view").alias("v_old"),
        F.min("t_purchase").alias("p_old"),
    )
    # qualifying view: first view/click AFTER the (post-merge) signup
    b2 = b.join(agg.select("user_id", "s_new"), "user_id", "left")
    v_new = (
        b2.filter(
            F.col("event_type").isin("view", "click")
            & F.col("s_new").isNotNull()
            & (F.col("ts") > F.col("s_new"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_batch"))
    )
    mid = (
        agg.join(v_new, "user_id", "left")
        .select(
            "user_id",
            "s_new",
            F.least("v_old", "v_batch").alias("v_new2"),
            "p_old",
        )
    )
    b3 = b.join(mid.select("user_id", "v_new2"), "user_id", "left")
    p_new = (
        b3.filter(
            (F.col("event_type") == "purchase")
            & F.col("v_new2").isNotNull()
            & (F.col("ts") > F.col("v_new2"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_batch"))
    )
    return (
        mid.join(p_new, "user_id", "left")
        .select(
            "user_id",
            F.col("s_new").alias("t_signup"),
            F.col("v_new2").alias("t_view"),
            F.least("p_old", "p_batch").alias("t_purchase"),
        )
    )


def start_incremental_funnel(
    events_stream: DataFrame,
    state_dir: str,
    checkpoint_location: str | None = None,
):
    """Streaming funnel: per-user stage timestamps accumulate under
    ``state_dir/epoch=N`` (semilattice slices — resolve with
    resolve_funnel_state, which is also how the final counts are
    read). Same replay-safety contract as the sibling loops."""
    def step(batch_df: DataFrame, epoch_id: int) -> None:
        funnel_epoch_step(batch_df, epoch_id, state_dir)

    return _start(events_stream, step, checkpoint_location)


def funnel_epoch_step(
    batch_df: DataFrame, epoch_id: int, state_dir: str
) -> None:
    """One funnel epoch (module-level; see dedup_epoch_step)."""
    spark = batch_df.sparkSession
    state = _read_epoch_state(spark, state_dir, FUNNEL_STATE_SCHEMA, epoch_id)
    new_state = funnel_batch_with_state(batch_df, state)
    new_state.write.mode("overwrite").parquet(
        f"{state_dir}/epoch={epoch_id}"
    )


CELL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("cell", T.IntegerType(), False),
        T.StructField("n", T.LongType(), False),
        T.StructField("sum_sq", T.DoubleType(), False),
    ]
)


def assign_batch_against_centroids(
    batch: DataFrame, centroids: DataFrame
) -> DataFrame:
    """One ingest step of a FROZEN ANN index (q167's streaming twin):
    assign the batch's vectors to the trained centroids with the
    zero-shuffle broadcast-argmin scan and emit per-cell mergeable
    stats (count, sum of squared quantization error). Counts and
    sums form a commutative monoid, so per-epoch slices resolve by
    plain groupBy-sum — the same semilattice trick as the funnel
    state — and drift monitoring reads sum_sq/n per cell at any
    time without rescanning history."""
    from citybikedatawarehouse_spark.operators.clustering import kmeans_assign

    assigned = kmeans_assign(batch, centroids, "vec_id", "embedding")
    return assigned.groupBy(
        F.col("cluster_id").cast("int").alias("cell")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("sq_dist").alias("sum_sq"),
    )


def resolve_cell_state(state_df: DataFrame) -> DataFrame:
    """Collapse per-epoch cell slices: (cell, n, sum_sq, mean_sq)."""
    return state_df.groupBy("cell").agg(
        F.sum("n").alias("n"),
        F.sum("sum_sq").alias("sum_sq"),
    ).select(
        "cell", "n", "sum_sq",
        F.round(F.col("sum_sq") / F.col("n"), 6).alias("mean_sq"),
    )


def assign_epoch_step(
    batch_df: DataFrame,
    epoch_id: int,
    state_dir: str,
    centroids: DataFrame,
) -> None:
    """One streaming ANN-ingest epoch against a frozen quantizer: the
    batch's per-cell (count, sum_sq) slice lands under
    ``state_dir/epoch=N``. The slice is a pure function of the batch
    (the step never reads state), so a replayed epoch's overwrite is
    idempotent; resolve_cell_state reads the drift picture."""
    assign_batch_against_centroids(batch_df, centroids).write.mode(
        "overwrite"
    ).parquet(f"{state_dir}/epoch={epoch_id}")


USER_DAY_STATE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("day", T.DateType(), False),
    ]
)


def wau_epoch_step(
    batch_df: DataFrame, epoch_id: int, state_dir: str
) -> None:
    """One rolling-WAU epoch: the batch's distinct (user_id, day)
    slice lands under ``state_dir/epoch=N``. User-days form a set, so
    the step never reads state and a replay is idempotent; resolve_wau
    computes q173's rollup from the accumulated slices."""
    (
        batch_df.select("user_id", F.to_date("ts").alias("day"))
        .distinct()
        .write.mode("overwrite")
        .parquet(f"{state_dir}/epoch={epoch_id}")
    )


def resolve_wau(state_df: DataFrame) -> DataFrame:
    """q173's rollup over the accumulated user-day set: per observed
    day, distinct users active in the trailing 7 days."""
    ud = state_df.select("user_id", "day").distinct()
    contrib = ud.select(
        "user_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(6)),
                lambda i: F.date_add("day", i.cast("int")),
            )
        ).alias("wday"),
    )
    days = ud.select(F.col("day").alias("wday")).distinct()
    return (
        contrib.join(days, "wday")
        .groupBy(F.date_format("wday", "yyyy-MM-dd").alias("day"))
        .agg(F.count_distinct("user_id").cast("bigint").alias("wau"))
    )


SOURCE_WORD_STATE_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("w", T.StringType(), False),
        T.StructField("c", T.LongType(), False),
    ]
)


def wordcount_epoch_step(
    batch_df: DataFrame, epoch_id: int, state_dir: str
) -> None:
    """One distribution-drift epoch: the batch's per-(source, word)
    COUNT slice lands under ``state_dir/epoch=N``. Counts are a
    commutative monoid, so slices resolve by one re-aggregate and a
    replayed epoch overwrites its own slice instead of
    double-counting; resolve_source_jsd computes q188's pairwise
    Jensen-Shannon divergence from them."""
    from citybikedatawarehouse_spark.functions.textfns import words

    (
        batch_df.select("source", F.explode(words("text")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .write.mode("overwrite")
        .parquet(f"{state_dir}/epoch={epoch_id}")
    )


def resolve_source_jsd(state_df: DataFrame) -> DataFrame:
    """q188's pairwise JSD over the accumulated (source, word, c)
    slices: merge the monoid (sum counts), then the identical
    union-accumulate support construction — absent words are exact
    zeros, no outer join."""
    wc = state_df.groupBy("source", "w").agg(F.sum("c").alias("c"))
    tot = wc.groupBy("source").agg(F.sum("c").alias("n"))
    pairs = (
        tot.select(F.col("source").alias("s1"))
        .crossJoin(tot.select(F.col("source").alias("s2")))
        .where(F.col("s1") < F.col("s2"))
    )
    wcn = wc.join(tot, "source").select(
        "source", "w", (F.col("c") * F.lit(1.0) / F.col("n")).alias("f")
    )
    left = wcn.join(F.broadcast(pairs), wcn.source == pairs.s1).select(
        "s1", "s2", "w", F.col("f").alias("pw"), F.lit(0.0).alias("qw")
    )
    right = wcn.join(F.broadcast(pairs), wcn.source == pairs.s2).select(
        "s1", "s2", "w", F.lit(0.0).alias("pw"), F.col("f").alias("qw")
    )
    pq = (
        left.unionAll(right)
        .groupBy("s1", "s2", "w")
        .agg(F.sum("pw").alias("p"), F.sum("qw").alias("q"))
    )
    p, q = F.col("p"), F.col("q")
    term = F.when(
        p > 0, F.lit(0.5) * p * F.log2(F.lit(2.0) * p / (p + q))
    ).otherwise(F.lit(0.0)) + F.when(
        q > 0, F.lit(0.5) * q * F.log2(F.lit(2.0) * q / (p + q))
    ).otherwise(F.lit(0.0))
    return pq.groupBy(
        F.col("s1").alias("source_a"), F.col("s2").alias("source_b")
    ).agg(F.round(F.sum(term), 6).alias("jsd_bits"))


# ---------------------------------------------------------------------------
# incremental key-skew census (q210's events row as a stream monitor)
# ---------------------------------------------------------------------------

KEY_COUNT_STATE_SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("c", T.LongType()),
    ]
)


def keycount_epoch_step(
    batch_df: DataFrame, epoch_id: int, state_dir: str
) -> None:
    """One key-census epoch: persist the batch's per-user_id COUNT
    slice. Counts are a commutative monoid, so slices resolve by one
    re-aggregate, and a replayed epoch (same id) overwrites its own
    directory instead of double-counting — the module's replay
    contract."""
    (
        batch_df.select(F.col("user_id").cast("long").alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .write.mode("overwrite")
        .parquet(f"{state_dir}/epoch={epoch_id}")
    )


def resolve_key_census(state_df: DataFrame) -> DataFrame:
    """q210's summary over the accumulated (k, c) slices: merge the
    monoid (sum per key), then the identical census expression —
    byte-compatible with the batch row (tbl='events',
    key_col='user_id')."""
    merged = state_df.groupBy("k").agg(F.sum("c").alias("c"))
    return merged.agg(
        F.lit("events").alias("tbl"),
        F.lit("user_id").alias("key_col"),
        F.sum("c").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.max("c").cast("bigint").alias("max_rows_per_key"),
        F.round(
            F.max("c") * F.lit(1.0) / F.sum("c"), 6
        ).alias("top_key_share"),
        F.round(F.expr("percentile(c, 0.5)"), 6).alias(
            "med_rows_per_key"
        ),
        F.round(F.expr("percentile(c, 0.99)"), 6).alias(
            "p99_rows_per_key"
        ),
        F.round(
            F.max("c") * F.count(F.lit(1)) * F.lit(1.0) / F.sum("c"), 6
        ).alias("max_over_mean"),
    )


# ---------------------------------------------------------------------------
# streaming count-min sketch (q243's live twin)
# ---------------------------------------------------------------------------

CMS_STATE_SCHEMA = T.StructType(
    [
        T.StructField("j", T.IntegerType()),
        T.StructField("bucket", T.LongType()),
        T.StructField("counter", T.LongType()),
    ]
)

_CMS_DEPTH = 4
_CMS_WIDTH = 256


def cms_epoch_step(
    batch_df: DataFrame,
    epoch_id: int,
    state_dir: str,
    key_col: str = "l_partkey",
) -> None:
    """One count-min epoch: land this batch's 4x256 counter slice.
    Counters are a commutative monoid (SUM-mergeable) and the hash
    is a pure function of the key (one md5; hash row j reads the
    digest's j-th 8-hex chunk), so slices from any epoch
    partitioning resolve to the identical sketch q243 builds in one
    batch; a replayed epoch overwrites its own directory instead of
    double-counting (the module's replay contract)."""
    from citybikedatawarehouse_spark.functions.keys import cms_buckets

    (
        batch_df.select(F.col(key_col).alias("__k"))
        .select(
            F.posexplode(
                cms_buckets(F.col("__k"), _CMS_WIDTH, _CMS_DEPTH)
            ).alias("j", "bucket")
        )
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("counter"))
        .write.mode("overwrite")
        .parquet(f"{state_dir}/epoch={epoch_id}")
    )


def resolve_cms(state_df: DataFrame) -> DataFrame:
    """Merge the per-epoch counter slices into the sketch: SUM per
    (j, bucket) — byte-compatible with q243's batch-built `cms`
    relation."""
    return state_df.groupBy("j", "bucket").agg(
        F.sum("counter").cast("bigint").alias("counter")
    )


def cms_estimate(sketch: DataFrame, keys: DataFrame, key_col: str) -> DataFrame:
    """Point-query the sketch: min over the key's 4 row counters —
    q243's estimate expression over any resolved sketch. `keys` is a
    small relation (heavy-hitter candidates); both sides of the
    probe join broadcast."""
    from citybikedatawarehouse_spark.functions.keys import cms_buckets

    probes = keys.select(F.col(key_col).alias("__k")).select(
        "__k",
        F.posexplode(cms_buckets(F.col("__k"), _CMS_WIDTH, _CMS_DEPTH)).alias(
            "j", "bucket"
        ),
    )
    return (
        probes.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy(F.col("__k").alias(key_col))
        .agg(F.min("counter").cast("bigint").alias("cms_estimate"))
    )


# ---------------------------------------------------------------------------
# streaming HyperLogLog (q244's live twin)
# ---------------------------------------------------------------------------

HLL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType()),
        T.StructField("reg", T.IntegerType()),
    ]
)


def hll_epoch_step(
    batch_df: DataFrame,
    epoch_id: int,
    state_dir: str,
    key_col: str,
) -> None:
    """One HLL epoch: land this batch's 256-register slice (max rho
    per bucket). Registers are a MAX-monoid and the hash is a pure
    md5 function of the key, so slices from any epoch partitioning
    — or a replayed epoch overwriting its own directory — resolve
    to exactly the register array q244 builds in one batch."""
    from citybikedatawarehouse_spark.functions.keys import hll_parts

    bucket, rho = hll_parts(key_col)
    (
        batch_df.select(bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").cast("int").alias("reg"))
        .write.mode("overwrite")
        .parquet(f"{state_dir}/epoch={epoch_id}")
    )


def resolve_hll_estimate(state_df: DataFrame) -> DataFrame:
    """Merge register slices (MAX per bucket) and evaluate q244's
    estimator — exact-integer harmonic sum, linear-counting branch —
    returning one row (hll_estimate)."""
    from citybikedatawarehouse_spark.functions.keys import HLL_RHO_MAX

    spark = state_df.sparkSession
    merged = state_df.groupBy("bucket").agg(F.max("reg").alias("reg"))
    all_b = spark.range(256).select(F.col("id").cast("int").alias("bucket"))
    full = all_b.join(F.broadcast(merged), "bucket", "left").select(
        F.coalesce(F.col("reg"), F.lit(0)).alias("reg")
    )
    stats = full.agg(
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_RHO_MAX} - reg)").cast(
                "decimal(20,0)"
            )
        ).alias("sum_scaled"),
        F.sum(F.when(F.col("reg") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("zeros"),
    )
    alpha = 0.7182725932495458
    raw = (
        F.lit(alpha)
        * 256.0
        * 256.0
        * F.lit(float(1 << HLL_RHO_MAX))
        / F.col("sum_scaled").cast("double")
    )
    return stats.select(
        F.round(
            F.when(
                (raw <= 640.0) & (F.col("zeros") > 0),
                F.lit(256.0) * F.log(F.lit(256.0) / F.col("zeros")),
            ).otherwise(raw)
        )
        .cast("bigint")
        .alias("hll_estimate")
    )


# ---------------------------------------------------------------------------
# streaming CDC apply (q252's live twin)
# ---------------------------------------------------------------------------

CDC_STATE_SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("seq", T.IntegerType()),
        T.StructField("op", T.StringType()),
        T.StructField("cents", T.LongType()),
    ]
)


def cdc_epoch_step(
    ops_batch: DataFrame, epoch_id: int, state_dir: str
) -> None:
    """One CDC epoch: land this batch's PER-KEY LAST op (the op log
    is reducible per key by max (ts, seq) — a last-writer-wins
    semilattice, so per-epoch slices resolve by one more
    last-writer-wins pass and a replayed epoch overwrites its own
    slice)."""
    wk = Window.partitionBy("k").orderBy(
        F.col("ts").desc(), F.col("seq").desc()
    )
    (
        ops_batch.withColumn("rn", F.row_number().over(wk))
        .where(F.col("rn") == 1)
        .select("k", "ts", "seq", "op", "cents")
        .write.mode("overwrite")
        .parquet(f"{state_dir}/epoch={epoch_id}")
    )


def resolve_cdc(state_df: DataFrame) -> DataFrame:
    """Merge per-epoch last-op slices by one more last-writer-wins
    pass and drop deleted keys: the live table (k, cents, op)."""
    wk = Window.partitionBy("k").orderBy(
        F.col("ts").desc(), F.col("seq").desc()
    )
    return (
        state_df.withColumn("rn", F.row_number().over(wk))
        .where(F.col("rn") == 1)
        .select("k", "op", "cents")
    )


# ---------------------------------------------------------------------------
# streaming histogram-sketch quantiles (q261's live twin)
# ---------------------------------------------------------------------------

HIST_STATE_SCHEMA = T.StructType(
    [
        T.StructField("lo", T.LongType()),
        T.StructField("cnt", T.LongType()),
    ]
)


def hist_epoch_step(
    batch_df: DataFrame,
    epoch_id: int,
    state_dir: str,
    value_col: str,
) -> None:
    """One histogram epoch: land this batch's (bin, count) slice of
    the two-significant-digit quantile sketch (q261's `_hq_bin_lo`
    binning — a pure string function of the value, so any epoch
    partitioning resolves to the identical histogram). Counts are a
    SUM-monoid; a replayed epoch overwrites its own directory (the
    module's replay contract). State is bounded at ~90 bins per
    decimal magnitude per epoch regardless of row count — the
    reason a 100 TB stream keeps this sketch instead of sorting."""
    from citybikedatawarehouse_spark.plans.analytics import _hq_bin_lo

    (
        batch_df.select(
            # round, THEN cast: a raw double value_col (e.g. price*100
            # cents) must land in the same bin as batch q261's
            # round(...) — a bare bigint cast truncates and silently
            # breaks the stream==batch identity by one cent
            _hq_bin_lo(F.round(F.col(value_col)).cast("bigint")).alias("lo")
        )
        .groupBy("lo")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .write.mode("overwrite")
        .parquet(f"{state_dir}/epoch={epoch_id}")
    )


def resolve_hist(state_df: DataFrame) -> DataFrame:
    """Merge per-epoch histogram slices: SUM per bin — byte-
    compatible with q261's batch-built `bins` relation."""
    return state_df.groupBy("lo").agg(
        F.sum("cnt").cast("bigint").alias("cnt")
    )


def hist_quantile_estimate(
    bins: DataFrame, quantiles: list[tuple[str, int, int]] | None = None
) -> DataFrame:
    """Point-query the resolved sketch: for each (label, num, den)
    quantile, the first bin whose cumulative count reaches
    ceil(N*num/den) — q261's integer-exact estimate expression
    (cum*den >= N*num) over any resolved histogram. Runs on O(bins)
    rows."""
    if quantiles is None:
        from citybikedatawarehouse_spark.plans.analytics import _HQ_QUANTILES

        quantiles = _HQ_QUANTILES
    n1 = bins.agg(F.sum("cnt").alias("n"))
    w = Window.orderBy("lo").rowsBetween(Window.unboundedPreceding, 0)
    cum = bins.select("lo", F.sum("cnt").over(w).alias("cum"))
    return cum.crossJoin(F.broadcast(n1)).agg(
        *[
            F.min(
                F.when(
                    F.col("cum") * den >= F.col("n") * num, F.col("lo")
                )
            )
            .cast("bigint")
            .alias(f"est_{lab}")
            for lab, num, den in quantiles
        ]
    )


# ---------------------------------------------------------------------------
# streaming KMV / theta sketch (q275's live twin)
# ---------------------------------------------------------------------------

_KMV_K = 256
_KMV_DOM = float(1 << 60)

KMV_STATE_SCHEMA = T.StructType([T.StructField("h", T.LongType())])


from citybikedatawarehouse_spark.functions.keys import (  # noqa: E402
    kmv_hash,
)


def kmv_epoch_step(
    batch_df: DataFrame,
    epoch_id: int,
    state_dir: str,
    key_col: str,
) -> None:
    """One KMV epoch: land this batch's bottom-k DISTINCT hash slice.
    Bottom-k is a commutative idempotent monoid (bottom-k of a union
    of bottom-k slices == bottom-k of the union), so slices from any
    epoch partitioning — or a replayed epoch overwriting its own
    directory — resolve to exactly the sketch q275 builds in one
    batch. State per epoch is <= k rows regardless of batch size."""
    (
        batch_df.select(kmv_hash(F.col(key_col)).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(_KMV_K)
        .write.mode("overwrite")
        .parquet(f"{state_dir}/epoch={epoch_id}")
    )


def resolve_kmv(state_df: DataFrame) -> DataFrame:
    """Merge epoch slices into the sketch: global bottom-k of the
    distinct union — byte-compatible with q275's batch-built
    bottom-k relation."""
    return state_df.select("h").distinct().orderBy("h").limit(_KMV_K)


def kmv_estimate(sketch: DataFrame) -> DataFrame:
    """Evaluate the (k-1)*DOMAIN/theta distinct-count estimator over
    a resolved sketch (exact count if the set never filled k slots
    — then theta is meaningless and the sketch IS the set)."""
    stats = sketch.agg(
        F.count(F.lit(1)).alias("n"), F.max("h").alias("theta")
    )
    return stats.select(
        F.when(F.col("n") < _KMV_K, F.col("n").cast("bigint"))
        .otherwise(
            F.round(
                F.lit(float(_KMV_K - 1)) * F.lit(_KMV_DOM) / F.col("theta")
            ).cast("bigint")
        )
        .alias("kmv_estimate")
    )


# ---------------------------------------------------------------------------
# streaming sink into the file-list table format: every micro-batch
# is one transactional MERGE commit, exactly-once by epoch
# ---------------------------------------------------------------------------


def _dedup_batch_last_wins(
    batch_df: DataFrame, key: str, dedup_order_col: str | None
) -> DataFrame:
    """A CDC micro-batch can carry several changes for one key; MERGE
    requires unique source keys, so keep each key's row with the max
    (order_col, then any-column tiebreak via max struct) —
    deterministic last-change-wins in ONE map-side-combinable agg,
    no window."""
    if dedup_order_col is None:
        return batch_df
    others = [c for c in batch_df.columns if c != key]
    ordered = F.struct(
        F.col(dedup_order_col),
        *[F.col(c) for c in others if c != dedup_order_col],
    ).alias("__s")
    return (
        batch_df.groupBy(key)
        .agg(F.max(ordered).alias("__s"))
        .select(key, "__s.*")
        .select(*batch_df.columns)
    )


def _epoch_is_replay(
    props: dict, epoch_id: int, txn_app_id: str | None
) -> bool:
    """Exactly-once guard with STREAM IDENTITY (Delta's txnAppId +
    txnVersion pair, not a bare version): a batch is a replay — and
    only then skipped — iff the table's recorded lineage matches the
    caller's ``txn_app_id`` AND the epoch is not newer. A fresh
    checkpoint (new lineage) restarts epoch ids at 0; under a bare
    epoch compare all its batches would be silently dropped as
    replays (round-10 ADVICE) — here the lineage differs, so they
    commit and the table re-binds to the new lineage. One lineage
    pair is stored: a table fed by two ALTERNATING checkpoints is
    outside the contract (as it is for Delta's txn properties)."""
    last = props.get("last_epoch")
    return (
        last is not None
        and props.get("txn_app_id") == txn_app_id
        and int(epoch_id) <= int(last)
    )


def fl_epoch_step(
    batch_df: DataFrame,
    epoch_id: int,
    root: str,
    key: str,
    dedup_order_col: str | None = None,
    txn_app_id: str | None = None,
    _crash_before_commit: bool = False,
) -> tuple[str, int, int, int, int]:
    """One micro-batch -> one ``fl_merge_upsert`` commit into a
    file-list table (operators/table_format.py), with the epoch id
    recorded in the SAME atomic commit (``extra_props``, the Delta
    ``txnAppId``/``txnVersion`` idempotent-sink pattern). Each epoch
    rewrites ONLY the data files whose key zones intersect the
    batch's keys, so per-epoch cost tracks the batch, not the table.

    foreachBatch is at-least-once: after a crash between the sink's
    side effect and the checkpoint write, Structured Streaming
    REPLAYS the epoch. The two halves of the contract:

    - **never a torn table**: the commit is the manifest pointer flip
      — a crash anywhere before it (including the injected
      ``_crash_before_commit``) leaves readers on the previous
      committed version, stats included (the manifest IS the stats).
    - **replay is a no-op**: the committed ``last_epoch`` property is
      read BEFORE merging; a batch whose epoch is <= it (for the same
      ``txn_app_id``) was already published and is skipped entirely —
      exactly-once publication on top of at-least-once delivery.

    ``dedup_order_col``: a CDC micro-batch can carry several changes
    for one key; MERGE requires unique source keys, so when set only
    each key's last change survives (``_dedup_batch_last_wins``).
    Empty batches are clean no-ops. Returns ("committed"|"skipped",
    n_replaced, n_inserted, files_rewritten, files_total).

    Cites: reference's append-only stream sink has no transactional
    story (create_db_from_csv.py if_exists='append'); this is the
    §2.4 streaming-warehouse gap surface."""
    from citybikedatawarehouse_spark.operators.table_format import (
        fl_merge_upsert,
        fl_table_props,
    )

    if _epoch_is_replay(fl_table_props(root), epoch_id, txn_app_id):
        return "skipped", 0, 0, 0, 0
    updates = _dedup_batch_last_wins(batch_df, key, dedup_order_col)
    n_rep, n_ins, n_touch, n_total = fl_merge_upsert(
        batch_df.sparkSession,
        root,
        updates,
        key=key,
        _crash_before_commit=_crash_before_commit,
        extra_props={
            "last_epoch": int(epoch_id),
            "txn_app_id": txn_app_id,
        },
    )
    return "committed", n_rep, n_ins, n_touch, n_total


def start_fl_upsert_stream(
    updates_stream: DataFrame,
    root: str,
    key: str,
    dedup_order_col: str | None = None,
    txn_app_id: str | None = None,
    checkpoint_location: str | None = None,
):
    """Streaming upsert sink into a file-list manifest table
    (``fl_init`` first; cluster by the merge key so epochs stay
    file-sparse): every micro-batch is one atomic, exactly-once,
    O(touched-files) MERGE commit. The table is always readable
    (plain or zone-map-pruned) at some committed epoch boundary —
    never mid-batch. Pass the query's checkpoint location (or any
    stable query name) as ``txn_app_id`` so the replay guard is keyed
    to THIS stream's lineage — a restart from a fresh checkpoint then
    commits instead of being mistaken for a replay."""

    def step(batch_df: DataFrame, epoch_id: int) -> None:
        fl_epoch_step(
            batch_df, epoch_id, root, key, dedup_order_col, txn_app_id
        )

    return _start(updates_stream, step, checkpoint_location)
