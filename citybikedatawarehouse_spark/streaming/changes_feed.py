"""Streaming CDC SOURCE over the file-list table format: tail
``fl_changes`` incrementally — the read half of the loop the epoch
sink (``streaming/incremental.start_fl_upsert_stream``) writes:

    write stream --(exactly-once MERGE commits)--> fl table
    fl table --(this module: per-commit I/U/D feed)--> read stream
    fl table --(replicate_changes: net diff per batch)--> replica

Shape: Delta's ``readChangeFeed`` with ``startingVersion`` in
micro-batch form. The source of truth for progress is ONE tiny
checkpointed offset — the last committed version this consumer has
fully processed — and each micro-batch is the union of the PER-COMMIT
diffs (``fl_changes(parent, child)`` for adjacent committed lineage
pairs), each row tagged with ``_commit_version``, rate-limited to
``versions_per_batch`` commits per batch so a consumer that fell far
behind catches up in bounded steps instead of one giant diff.

Why per-commit pairs for the feed: CDC consumers want commit
attribution (which commit deleted this key), and net-diffing across
commits would silently collapse intermediate states a downstream
audit may need. Each pair diff is O(that commit's changed files),
the whole point of ``fl_changes``.

Replication needs no attribution — only the end state — so
``replicate_changes`` takes the NET diff of each batch instead:
``fl_changes(src, replicated_from, target)`` applied as one fused
replica commit tagged with the source version it reproduces. Every
replica version is then an exact source state, and catching up costs
O(batches) replica commits rather than two per source commit.

Both halves take from metadata what the table already records. A
layout-only source commit (``data_change=False``: compaction,
OPTIMIZE, cluster-spec and constraint changes) leaves the
merge-on-read state unchanged, so ``fl_changes`` steps over it: the
cursor's batch for a compaction is empty and runs no Spark job, and
a replication batch of nothing else acks with no replica commit. A
fresh replica is seeded by ``fl_clone`` — the source version's
immutable, already laid-out files copied under the replica's names —
instead of re-reading and rewriting the snapshot.

Delivery contract: the offset is persisted AFTER the consumer's step
returns (at-least-once); a step that is idempotent per
``_commit_version`` — e.g. an epoch-keyed overwrite sink, or a MERGE
keyed on (commit, key) — makes the pipeline exactly-once, the same
contract Spark's own foreachBatch gives. Crash between step and
offset write replays exactly the unacknowledged batch. Replication
is idempotent by construction: each diff starts from the replica's
own ``replicated_from`` tag, never from the offset.

Scale shape: everything driver-side here is O(versions) metadata (the
lineage walk and the offset file); all row work stays in
``fl_changes``'s executor plan (touched-files-only scans, one
key-partitioned full-outer join per diff). The live-query wrapper
(``start_fl_changes_feed``) drives the cursor from a rate-source
ticker inside a real StreamingQuery, consuming at most one cursor
batch per tick — start/stop/awaitTermination lifecycle for free, no
custom JVM source needed.

Cites: Delta Lake CDF (``table_changes`` / readChangeFeed
startingVersion) and Iceberg's incremental changelog scan are the
public designs this re-expresses over operators/table_format.py;
the reference (append/replace ``to_sql`` sink,
create_db_from_csv.py:12-14) has no change capture surface at all.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_OFFSET_FILE = "offset.json"

# sentinel offset meaning "before the first committed version": the
# next batch emits the initial snapshot as op=I rows (Delta CDF's
# startingVersion=0 behavior)
BEFORE_FIRST = "<before-first>"

# replica commit prop: the source version whose state the replica holds
REPLICATED_FROM = "replicated_from"


def _read_offset(checkpoint_dir: str | None) -> str | None:
    if not checkpoint_dir:
        return None
    p = os.path.join(checkpoint_dir, _OFFSET_FILE)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)["last_version"]


def _write_offset(checkpoint_dir: str | None, version: str) -> None:
    if not checkpoint_dir:
        return
    os.makedirs(checkpoint_dir, exist_ok=True)
    p = os.path.join(checkpoint_dir, _OFFSET_FILE)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"last_version": version}, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, p)  # atomic: a crash leaves old or new, never torn


def _after(
    root: str, lineage: list[str], version: str, what: str
) -> list[str]:
    """The committed versions newer than ``version``, oldest first —
    failing loudly when ``version`` has left the lineage."""
    if version == BEFORE_FIRST:
        return lineage
    if version not in lineage:
        raise ValueError(
            f"changes feed on {root}: {what} {version!r} "
            f"is not in the committed lineage {lineage} — it was "
            f"vacuumed away (consumer fell behind the retention "
            f"horizon) or belongs to an orphaned writer"
        )
    return lineage[lineage.index(version) + 1 :]


class FlChangesCursor:
    """Checkpointable incremental reader over a file-list table's
    committed lineage.

    ``from_version``: exclusive lower bound — the consumer has
    already seen that snapshot; the feed starts with the NEXT
    commit's changes. ``None`` starts before the beginning: the
    first batch is the initial snapshot as op=I rows tagged with the
    first committed version. A persisted checkpoint offset always
    wins over ``from_version`` (restart semantics).
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        from_version: str | None = None,
        versions_per_batch: int = 4,
        checkpoint_dir: str | None = None,
    ) -> None:
        if versions_per_batch < 1:
            raise ValueError("versions_per_batch must be >= 1")
        self.spark = spark
        self.root = root
        self.versions_per_batch = versions_per_batch
        self.checkpoint_dir = checkpoint_dir
        self.offset = (
            _read_offset(checkpoint_dir)
            or from_version
            or BEFORE_FIRST
        )

    def _pending(self) -> list[str]:
        """Committed versions newer than the offset, oldest first."""
        from citybikedatawarehouse_spark.operators.table_format import (
            fl_lineage,
        )

        return _after(self.root, fl_lineage(self.root), self.offset, "offset")

    def next_batch(self) -> tuple[DataFrame, str] | None:
        """The next micro-batch as (changes_df, new_offset), or None
        when caught up. Does NOT advance the checkpoint — call
        ``ack(new_offset)`` after the batch is durably consumed."""
        from citybikedatawarehouse_spark.operators.table_format import (
            fl_changes,
            fl_read_mor,
            fl_table_props,
        )

        pending = self._pending()
        if not pending:
            return None
        take = pending[: self.versions_per_batch]

        parts: list[DataFrame] = []
        prev = self.offset
        for v in take:
            if prev == BEFORE_FIRST:
                # initial snapshot: every row is an insert — shaped
                # exactly like cdc_extract output (op, key, payload).
                # MOR view on purpose: after a vacuum the oldest
                # replayable version can carry a delete set, and a
                # plain file read would resurrect its deleted rows
                props = fl_table_props(self.root, v)
                cols = [f["name"] for f in props["schema"]]
                key = props["key"]
                payload = [c for c in cols if c != key]
                ch = fl_read_mor(self.spark, self.root, v).select(
                    F.lit("I").alias("op"), key, *payload
                )
            else:
                ch = fl_changes(self.spark, self.root, prev, v)
            parts.append(ch.withColumn("_commit_version", F.lit(v)))
            prev = v
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out, take[-1]

    def ack(self, new_offset: str) -> None:
        """Durably advance the offset — the consumer owns WHEN (after
        its sink write), which is what makes the at-least-once /
        idempotent-sink contract composable."""
        self.offset = new_offset
        _write_offset(self.checkpoint_dir, new_offset)

    def pump(self, step: Callable[[DataFrame, str], None]) -> bool:
        """Deliver the next batch through ``step(changes_df, offset)``,
        then ack it; False (and no step) when caught up."""
        nxt = self.next_batch()
        if nxt is None:
            return False
        df, new_offset = nxt
        step(df, new_offset)
        self.ack(new_offset)
        return True


def run_fl_changes_stream(
    spark: SparkSession,
    root: str,
    step: Callable[[DataFrame, str], None],
    from_version: str | None = None,
    versions_per_batch: int = 4,
    checkpoint_dir: str | None = None,
    max_batches: int | None = None,
) -> int:
    """Drain the change feed through ``step(changes_df, offset)``
    until caught up (or ``max_batches``): the batch-twin pump the
    stream-equals-batch tests replay, and the availableNow-trigger
    analog for backfills. Returns the number of batches delivered."""
    cur = FlChangesCursor(
        spark, root, from_version, versions_per_batch, checkpoint_dir
    )
    n = 0
    while (max_batches is None or n < max_batches) and cur.pump(step):
        n += 1
    return n


def start_fl_changes_feed(
    spark: SparkSession,
    root: str,
    step: Callable[[DataFrame, str], None],
    from_version: str | None = None,
    versions_per_batch: int = 4,
    checkpoint_dir: str | None = None,
    ticks_per_second: int = 2,
):
    """LIVE tail of the change feed as a real StreamingQuery: a rate
    ticker drives the cursor (at most one cursor batch per tick, so
    ``versions_per_batch`` stays the rate limit), giving the
    start/stop/awaitTermination lifecycle without a custom JVM
    source. The offset checkpoint is the cursor's own (tiny JSON,
    atomic replace) — the rate ticker's checkpoint carries no state
    worth keeping."""
    cur = FlChangesCursor(
        spark, root, from_version, versions_per_batch, checkpoint_dir
    )

    def tick(_batch_df: DataFrame, _epoch_id: int) -> None:
        cur.pump(step)

    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", ticks_per_second)
        .load()
        .writeStream.foreachBatch(tick)
        .start()
    )


def replicate_changes(
    spark: SparkSession,
    src_root: str,
    dst_root: str,
    checkpoint_dir: str | None = None,
    versions_per_batch: int = 4,
    max_batches: int | None = None,
) -> int:
    """Table-to-table INCREMENTAL REPLICATION by net diff — the
    canonical CDC consumer (Delta deep-clone-incremental /
    Fivetran-style sync). Each batch of up to ``versions_per_batch``
    pending source commits, ending at source version ``target``,
    lands on the replica as ONE atomic commit tagged
    ``replicated_from = target``:

    - the first batch ``fl_clone``s the source version ``target``
      into the empty replica: its data files and delete dirs are
      copied, its manifest stats, field ids and key/stats/zorder/
      layout props kept, one pointer flip, no Spark job — no replay
      of the initial snapshot plus each diff, and no rewrite of
      files that are immutable and already laid out;
    - a later batch whose source commits are all layout-only
      (``data_change=False``, e.g. a compaction) is acked with no
      replica commit and no job: the tag lags, but the two MOR states
      agree;
    - every other batch applies ``fl_changes(src, tag, target)``, the
      NET diff from the version the replica's tag names (advanced
      over the layout-only commits that follow it), as one fused
      ``fl_merge_upsert``: D keys form the commit's delete set, I/U
      rows its merge, source columns the replica lacks are appended
      (``merge_schema``), one CAS pointer flip publishes all of it.

    So every replica version is the exact state of the source version
    its tag names — no reader sees a half-applied batch — and catching
    up costs O(batches) replica commits, not O(commits). An empty net
    diff commits nothing either.

    Delivery contract: the checkpoint offset acks AFTER the commit
    (at-least-once), and each diff starts from the replica's own tag,
    never from the offset. A crash between commit and ack therefore
    re-runs safely whatever window the rerun takes: a batch ending at
    or before the tag is acked with no commit, a longer one diffs
    from the tag — a diff from the stale offset would miss keys
    inserted after it and deleted by the new target. A tag that left
    the source lineage (vacuumed, orphaned writer) fails loudly, like
    the cursor's offset. ``max_batches`` bounds the batches, hence
    the replica commits, of one call. Returns the number of source
    commits the offset advanced over."""
    from citybikedatawarehouse_spark.operators.table_format import (
        fl_changes,
        fl_clone,
        fl_current_version,
        fl_lineage,
        fl_merge_upsert,
        fl_skip_layout_only,
        fl_table_props,
    )

    cur = FlChangesCursor(
        spark, src_root, None, versions_per_batch, checkpoint_dir
    )
    applied = n = 0
    while max_batches is None or n < max_batches:
        lineage = fl_lineage(src_root)
        pending = _after(src_root, lineage, cur.offset, "offset")
        if not pending:
            break
        take = pending[:versions_per_batch]
        target = take[-1]
        tag = {REPLICATED_FROM: target}
        try:
            fl_current_version(dst_root)
            fresh = False
        except FileNotFoundError:  # the replica was never initialized
            fresh = True
        if fresh:
            fl_clone(src_root, dst_root, target, extra_props=tag)
        else:
            base = fl_table_props(dst_root).get(REPLICATED_FROM)
            if base is None:
                raise ValueError(
                    f"replica {dst_root} has no {REPLICATED_FROM!r} tag "
                    f"— it was not written by replicate_changes"
                )
            # nothing to apply when the target is at or before the tag
            # (committed by a run whose ack was lost), nor when every
            # source commit since the tag is layout-only
            if target in _after(src_root, lineage, base, "replica tag"):
                base = fl_skip_layout_only(src_root, base, target)
            else:
                base = target
            if base != target:
                props = fl_table_props(src_root, target)
                key = props["key"]
                cols = [f["name"] for f in props["schema"]]
                # persisted: the merge's aggregate materializes the
                # diff once, the delete staging reads it from cache
                diff = fl_changes(spark, src_root, base, target).persist()
                try:
                    fl_merge_upsert(
                        spark,
                        dst_root,
                        diff.where(F.col("op").isin("I", "U")).select(*cols),
                        key=key,
                        deletes=diff.where(F.col("op") == "D").select(key),
                        merge_schema=True,
                        extra_props=tag,
                    )
                finally:
                    diff.unpersist()
        cur.ack(target)
        applied += len(take)
        n += 1
    return applied
