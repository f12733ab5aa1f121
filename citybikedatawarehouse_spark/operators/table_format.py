"""File-list manifest table format: the repo's versioned table.

The reference's warehouse sink is a plain ``to_sql(if_exists=
'append'|'replace')`` (create_db_from_csv.py) — no versions, no
incremental merge. This module adds both at the file level, the
actual kernel of Delta/Iceberg, so a merge that touches 0.1 % of the
keys of a 100 TB table costs those files, not a full rewrite:

- a **version is a manifest**: a small driver-side relation of
  ``(path, n_rows, min_/max_ stats per tracked column, write-time
  schema)`` — the zone map IS the manifest, so data skipping and
  merge targeting read the same artifact and cannot desync from each
  other;
- **data files are immutable and SHARED across versions**: a commit
  writes only new files and a new manifest referencing
  (untouched-old + new); time travel is free and vacuum is reference
  counting;
- **MERGE rewrites only intersecting files**: update keys are
  range-joined against the manifest's per-file key zones, files whose
  zone cannot contain any update key are carried forward by
  reference — merge cost is O(touched files + updates), not O(table).
  Pure inserts beyond every file's key range touch ZERO existing
  files;
- **merge-on-read DELETE**: delete keys are EXECUTOR-WRITTEN parquet
  data files (never driver-materialized — a 100 TB table's delete
  wave can be billions of keys), applied by an AQE-planned anti-join
  and folded physically by ``fl_compact``;
- **schema evolution by field id**: add-column and rename commit a
  new manifest only — old files stay valid forever, readers map each
  file's write-time columns to the current schema by id (Iceberg's
  rule, manifest-recorded instead of parquet-field-id-recorded);
- **commit = one CAS pointer flip** (write files -> write manifest ->
  verify parent -> fsync+rename ``_MANIFEST``): versions are claimed
  with O_EXCL marker files and the flip verifies the pointer still
  names the writer's parent, so two concurrent committers cannot
  silently lose an update — exactly one wins, the loser gets
  ``CommitConflictError`` and its orphan stays invisible to readers.
  Every operation publishes through ONE path, ``_commit`` (stage
  manifest + props, then flip), and writes its data files through
  ONE path, ``_write_files`` (layout, write, footer stats). A commit
  that replaces all of a table's files (compact, and the streaming
  SCD2 dimension's overwrite) goes through ``_replace_all``, so this
  module is the only package code that replaces a live table;
- **every commit records what it did**: its props carry
  ``operation`` (init, merge, delete, compact, optimize, set_zorder,
  add_constraint, drop_constraint, restore, add_column,
  rename_column, clone, overwrite) and ``data_change`` — False for the
  layout-only operations (compact, optimize, set_zorder and the two
  constraint commits), which leave ``fl_read_mor`` unchanged, so the
  change feed steps over them without reading a file (Delta's
  ``dataChange=false`` on OPTIMIZE). A version written before the
  flag existed counts as a data change.

Layout on disk::

    root/_MANIFEST                      # pointer: current version name
    root/_COMMIT_LOCK                   # transient CAS critical section
    root/_manifests/v00000001.parquet   # manifest (pyarrow, 1 file)
    root/_manifests/v00000001.props.json
    root/_manifests/v00000001.claim     # O_EXCL version-number claim
    root/data/c_v00000001/part-*.parquet   # immutable data files
    root/deletes/d_v00000002/part-*.parquet  # immutable delete-key files

Scale shape: the manifest is O(files) tiny rows — the same
cardinality Spark's own file index holds to plan any scan; every
driver-side operation here (targeting, pruning, vacuum ref-count) is
over that relation, never the data. Executors read only the file
subset a manifest names, write the new files of one commit, and own
the delete set end-to-end (write, anti-join, fold).

Cites: reference's sink is ``to_sql(if_exists='append'|'replace')``
(create_db_from_csv.py) — no versioning, no incremental merge; this
is the §2.4 warehouse-gap surface at its 100 TB shape.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from functools import reduce

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from citybikedatawarehouse_spark.operators.maintenance import cdc_extract

_MANIFEST_DIR = "_manifests"


class CommitConflictError(RuntimeError):
    """Raised by a CAS pointer flip when the table's pointer no
    longer names the committing writer's parent version — a
    concurrent writer won the race. The loser's staged version stays
    an invisible orphan (readers only follow the pointer); retry the
    whole operation against the new current version."""


class CheckViolation(ValueError):
    """An updates batch (or, for ``fl_add_constraint``, the existing
    table state) violates a CHECK constraint — the commit is refused
    whole; nothing is staged or published."""
# fl_delete accumulates one immutable delete-file dir per commit; past
# this many it folds them into one (executor-side distinct + rewrite)
# so the read-side anti-join never unions an unbounded dir list
_DELETE_FOLD_AFTER = 8



def _pointer_path(root: str) -> str:
    return os.path.join(root, "_MANIFEST")


def fl_current_version(root: str) -> str:
    """Name of the committed current version (pointer target). Raises
    ``FileNotFoundError`` for a table that was never initialized — an
    uncommitted staging write must NOT be readable."""
    with open(_pointer_path(root)) as f:
        version = f.read().strip()
    if not version:
        raise IOError(f"filelist table {root}: empty _MANIFEST")
    return version


def fl_versions(root: str) -> list[str]:
    """All committed-or-orphan manifest versions, oldest first (an
    entry newer than the pointer is a crashed/conflicted writer's
    orphan — invisible to pointer-following readers)."""
    mdir = os.path.join(root, _MANIFEST_DIR)
    return sorted(
        f[: -len(".parquet")]
        for f in os.listdir(mdir)
        # exactly vNNNNNNNN.parquet — NOT the .props.json / .claim
        # sidecars that share the version stem
        if f.endswith(".parquet")
        and f[0] == "v"
        and f[1:-len(".parquet")].isdigit()
    )


def _version_numbers(root: str) -> list[int]:
    """Every version number any artifact (manifest, props, claim) has
    ever used — claims count, so a crashed writer's number is never
    reissued to a second writer."""
    mdir = os.path.join(root, _MANIFEST_DIR)
    out = []
    for f in os.listdir(mdir):
        stem = f.split(".", 1)[0]
        if stem.startswith("v") and stem[1:].isdigit():
            out.append(int(stem[1:]))
    return out


def _claim_version(root: str) -> str:
    """Atomically claim the next version number with an O_EXCL marker
    file — two concurrent writers can never stage artifacts under the
    same version name (which would let the loser's manifest overwrite
    the winner's before the CAS flip even runs)."""
    mdir = os.path.join(root, _MANIFEST_DIR)
    os.makedirs(mdir, exist_ok=True)
    n = max(_version_numbers(root), default=0) + 1
    while True:
        v = f"v{n:08d}"
        try:
            fd = os.open(
                os.path.join(mdir, f"{v}.claim"),
                os.O_CREAT | os.O_EXCL | os.O_WRONLY,
            )
            os.close(fd)
            return v
        except FileExistsError:
            n += 1


def _manifest_commit(root: str, version: str) -> None:
    """Flip the pointer: write ``_MANIFEST.tmp``, fsync it, then
    atomically rename over ``_MANIFEST`` (``os.replace`` — POSIX
    atomic; on HDFS this maps to an atomic single-file rename, on S3
    to an atomic single-object PUT, which is why the pointer is ONE
    tiny file and not the data). A crash anywhere in this function
    leaves either the old pointer (plus a harmless ``.tmp``) or the
    new pointer — never a torn table, because readers only ever
    follow the pointer."""
    tmp = _pointer_path(root) + ".tmp"
    with open(tmp, "w") as f:
        f.write(version + "\n")
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, _pointer_path(root))


_COMMIT_LOCK = "_COMMIT_LOCK"
_LOCK_STALE_SEC = 30.0
_LOCK_WAIT_SEC = 10.0


def manifest_commit_cas(
    root: str, version: str, parent: str | None
) -> None:
    """Optimistic-concurrency pointer flip (the Delta/Iceberg commit
    rule): publish ``version`` IFF the pointer still names
    ``parent`` (None = table must be uninitialized). Two concurrent
    committers both compute their commit from the same parent; the
    first flip wins, the second finds the pointer moved and raises
    ``CommitConflictError`` — never a silent lost update. The staged
    loser is an orphan invisible to pointer-following readers.

    The read-compare-flip critical section is guarded by an O_EXCL
    lock file (atomic create on POSIX/HDFS); a lock older than
    ``_LOCK_STALE_SEC`` is presumed abandoned by a crashed writer
    and stolen — by atomic ``os.rename`` of the corpse, so when two
    recovery writers race over the same stale lock EXACTLY ONE
    rename succeeds (the loser's raises FileNotFoundError and it
    re-enters the normal acquire loop against whatever the winner
    installs). A plain ``os.remove`` steal would be a TOCTOU hole:
    two stealers could interleave so the second removes the first's
    FRESH lock and both enter the critical section — a silent lost
    update, the exact failure the CAS exists to prevent. After
    winning the rename, the corpse's mtime is re-verified: if it
    turns out fresh (the μs-scale race where a live holder's lock
    was yanked between the staleness check and the rename), it is
    restored via O_EXCL create of the original bytes, or — if the
    slot was grabbed in between — the stealer FAILS LOUDLY rather
    than let two writers proceed. Release is token-verified: the
    lock is removed only if it still holds this writer's unique
    token, so a holder that stalls past ``_LOCK_STALE_SEC`` and gets
    legitimately stolen can never delete the thief's live lock on
    its way out. On object stores without atomic create-if-absent,
    swap this for the store's conditional-PUT (S3 If-None-Match,
    GCS x-goog-if-generation-match) — the CAS contract is the same."""
    lock = os.path.join(root, _COMMIT_LOCK)
    token = f"{os.getpid()}:{uuid.uuid4().hex}\n"
    deadline = time.monotonic() + _LOCK_WAIT_SEC
    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, token.encode())
            os.close(fd)
            break
        except FileExistsError:
            try:
                age = time.time() - os.path.getmtime(lock)
            except FileNotFoundError:
                continue  # holder just released; retry immediately
            if age > _LOCK_STALE_SEC:
                corpse = f"{lock}.stale.{os.getpid()}.{uuid.uuid4().hex}"
                try:
                    os.rename(lock, corpse)  # atomic: one stealer wins
                except FileNotFoundError:
                    continue  # another stealer won; re-enter acquire
                # rename preserves mtime — re-verify the corpse really
                # was the stale file the check saw, not a fresh lock
                # installed in the window since
                if time.time() - os.path.getmtime(corpse) > _LOCK_STALE_SEC:
                    os.remove(corpse)  # confirmed crashed holder
                    continue
                # mis-steal of a LIVE lock: put it back exactly as it
                # was, or fail loudly — never proceed alongside the
                # holder we just yanked
                with open(corpse, "rb") as f:
                    original = f.read()
                os.remove(corpse)
                try:
                    fd = os.open(
                        lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY
                    )
                    os.write(fd, original)
                    os.close(fd)
                except FileExistsError:
                    raise IOError(
                        f"commit {version}: stole a live lock {lock} "
                        f"and could not restore it (slot re-acquired) "
                        f"— failing rather than risk a double-entry"
                    )
                if time.monotonic() > deadline:
                    raise IOError(
                        f"commit {version}: lock {lock} looked stale "
                        f"but kept proving live past the deadline — "
                        f"restored it and gave up"
                    )
                continue
            if time.monotonic() > deadline:
                raise IOError(
                    f"commit {version}: could not acquire {lock} in "
                    f"{_LOCK_WAIT_SEC}s (held {age:.1f}s)"
                )
            time.sleep(0.01)
    try:
        try:
            cur = fl_current_version(root)
        except FileNotFoundError:
            cur = None  # uninitialized table
        if cur != parent:
            raise CommitConflictError(
                f"commit {version}: table {root} moved from parent "
                f"{parent!r} to {cur!r} — a concurrent writer "
                f"committed first; retry against the new version"
            )
        _manifest_commit(root, version)
    finally:
        # token-verified release: only remove a lock that is still
        # OURS — if we stalled past _LOCK_STALE_SEC and were stolen,
        # the path now holds the thief's token and must be left alone
        try:
            with open(lock) as f:
                still_ours = f.read() == token
        except FileNotFoundError:
            still_ours = False
        if still_ours:
            os.remove(lock)


# ---------------------------------------------------------------------------
# commit-slice layout + persist policy
# ---------------------------------------------------------------------------

# Scale-adaptive persist threshold for commit slices (rows). The range
# partitioner's sampling pass re-executes the commit plan before the
# write does, so a persist saves one recompute — but building the
# columnar cache costs a full extra pass of its own, and below ~10^6
# rows that build measurably LOSES to just recomputing a local-mode
# slice (q285 interleaved A/B: no-persist 4.4 s vs persist 5.9 s at
# sf0.1, OPTIMIZATION_r12.md). Above it, the slice's upstream is a
# multi-join pipeline whose recompute doubles real work (the 100x
# scale points run 30-60 M-row slices).
_PERSIST_MIN_ROWS = 4_000_000

# Byte-form of the same threshold, for call sites with no row count
# available (init: only the optimizer's size estimate exists). ~64
# bytes/row at the 4M-row crossover.
_PERSIST_MIN_BYTES = 256 * 1024 * 1024


def _plan_size_bytes(df: DataFrame) -> int | None:
    """The optimizer's sizeInBytes estimate for a plan — file-size
    truth for scans/projections (the init shape), a crude upper bound
    for join pipelines. Driver-side metadata only, zero jobs."""
    try:
        return int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception:
        return None


def _persist_wanted(
    est_rows: int | None = None, est_bytes: int | None = None
) -> bool:
    """Persist a commit slice across the sampling pass + write?
    Decided on the slice's KNOWN row estimate (manifest n_rows +
    update counts — no extra job) against ``_PERSIST_MIN_ROWS``, or
    on a byte estimate against ``_PERSIST_MIN_BYTES``. Unknown size
    -> persist (the conservative choice at scale)."""
    if est_rows is not None:
        return est_rows >= _PERSIST_MIN_ROWS
    if est_bytes is not None:
        return est_bytes >= _PERSIST_MIN_BYTES
    return True


def _apply_layout(
    df: DataFrame,
    props: dict,
    bounds: dict[str, tuple[int, int]] | None = None,
    pack: bool = False,
) -> DataFrame:
    """Re-apply the table's committed clustering to a commit's output:
    Z-order key over ``zorder_by``, range-partitioned into
    ``layout_files`` files — Delta's OPTIMIZE ZORDER BY maintained ON
    WRITE, so every version's files keep tight multi-dimensional
    min/max boxes and the manifest zones stay PRUNABLE, not merely
    correct. Without this, a merge's shuffle output scatters keys
    across files and skipping quietly degrades to nothing.
    ``bounds`` (col -> (min, max), may be wider than the data, never
    narrower) skips the Z-order bounds aggregate pass — callers
    derive them from the manifest's per-file zone stats. ``pack``
    marks the rewrites whose job is file size (compact, OPTIMIZE): on
    a table with no Z-order spec they still cap the output at
    ``layout_files`` files, by a shuffle-free coalesce; init and
    merge keep the caller's partitioning there."""
    zcols = props.get("zorder_by") or []
    n = int(props.get("layout_files") or 16)
    if not zcols:
        return df.coalesce(n) if pack else df
    from citybikedatawarehouse_spark.functions.layout import zorder_key

    return (
        zorder_key(df, list(zcols), bounds=bounds)
        .repartitionByRange(n, "z_key")
        .drop("z_key")
    )


# ---------------------------------------------------------------------------
# commit stats from parquet footers
# ---------------------------------------------------------------------------


def footer_stats_trustworthy(arrow_type) -> bool:
    """Types whose parquet footer min/max are EXACT and ordered the
    way Spark's min/max aggregates order them: integers, dates,
    booleans, timestamps. Excluded on purpose — float/double (NaN:
    Spark's max treats NaN as largest while parquet writers skip
    NaNs in stats) and strings/binary (writers may truncate long
    byte-array stats). Untrusted types make the caller fall back to
    a Spark scan, never to wrong stats."""
    import pyarrow.types as pat

    return (
        pat.is_integer(arrow_type)
        or pat.is_date(arrow_type)
        or pat.is_boolean(arrow_type)
        or pat.is_timestamp(arrow_type)
    )


def _data_files(path: str) -> list[str]:
    """The parquet data files directly under a written dir, sorted
    (Spark's ``_SUCCESS`` and hidden checksum files excluded)."""
    return [
        os.path.join(path, f)
        for f in sorted(os.listdir(path))
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]


def footer_zone_stats(path: str, cols: tuple[str, ...]):
    """Per-file (path, n_rows, min_<c>, max_<c>) for every parquet
    data file directly under ``path``, read from the file FOOTERS —
    O(files) driver-side metadata, zero Spark jobs. This is how
    Delta/Iceberg gather per-file stats at commit time; the scan
    form (``zone_map_stats``) is the fallback. Returns a pandas
    DataFrame, or None whenever any tracked column's footer stats
    cannot be trusted bit-exactly (untrusted type, absent
    statistics, or a chunk whose min/max is missing for any reason
    other than being all-NULL) — the caller must then use the scan
    path."""
    import pyarrow.parquet as pq

    recs: list[dict] = []
    for fp in _data_files(path):
        md = pq.read_metadata(fp)
        arrow_schema = md.schema.to_arrow_schema()
        rec: dict = {"path": fp, "n_rows": md.num_rows}
        for c in cols:
            idx = arrow_schema.get_field_index(c)
            if idx < 0 or not footer_stats_trustworthy(
                arrow_schema.field(idx).type
            ):
                return None
            mn = mx = None
            for rg in range(md.num_row_groups):
                rgm = md.row_group(rg)
                cc = None
                for ci in range(rgm.num_columns):
                    cand = rgm.column(ci)
                    if cand.path_in_schema == c:
                        cc = cand
                        break
                if cc is None:
                    return None
                st = cc.statistics
                if st is None:
                    return None
                if not st.has_min_max:
                    # an all-NULL chunk legitimately has no min/max
                    # and contributes no values; anything else means
                    # the writer dropped stats -> fall back
                    if st.has_null_count and st.null_count == cc.num_values:
                        continue
                    return None
                mn = st.min if mn is None else min(mn, st.min)
                mx = st.max if mx is None else max(mx, st.max)
            rec[f"min_{c}"] = mn
            rec[f"max_{c}"] = mx
        recs.append(rec)
    return pd.DataFrame(recs, columns=_zone_cols(cols))


def zone_map_stats(
    spark: SparkSession, path: str, cols: tuple[str, ...]
) -> DataFrame:
    """Per-file zone map by SCAN: (file, n_rows, min_<c>, max_<c> per
    stats column) for every parquet data file under ``path``. The
    fallback of ``_stats_of_commit`` when ``footer_zone_stats`` cannot
    trust the footers (floats, strings, a writer that dropped stats):
    the same relation, computed from the rows instead of the metadata.

    Scale shape: one scan that folds map-side into ONE row per file
    (groupBy input_file_name is keyed by file, and a file's rows are
    co-located in its scan partitions, so partial aggregation
    collapses nearly everything before the |files|-row shuffle) —
    O(files) rows, written into the manifest once per commit, never
    rebuilt per query."""
    df = spark.read.parquet(path)
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_rows")]
    for c in cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    return df.groupBy(F.input_file_name().alias("file")).agg(*aggs)


def _norm_file_uri(p: str) -> str:
    """Canonical form for comparing file identities across the two
    renderings in play: ``input_file_name()`` emits URL-ENCODED
    ``file:///`` URIs (a space becomes ``%20``), while Hadoop
    ``Path.toString``/local paths are unencoded. Unquote the escapes
    and strip the scheme so both sides meet in the middle — without
    the unquote, a path containing any URL-special character would
    never match its own manifest row."""
    from urllib.parse import unquote

    p = unquote(p)
    if ":" in p.split("/", 1)[0]:  # scheme prefix (file:, hdfs:, s3a:)
        p = p.split(":", 1)[1]
        # file:///x, file:/x, hdfs://host/x all reduce to /x modulo
        # authority; local-vs-local comparison is exact, cross-store
        # comparisons never mix schemes in one manifest
        while p.startswith("//"):
            p = p[1:]
    return p


def fl_lineage(root: str) -> list[str]:
    """The COMMITTED version chain, oldest first, by walking parent
    pointers back from the pointer's current target — the list
    ``fl_versions`` cannot give, because that one also returns
    crashed/conflicted writers' orphans (staged manifests the pointer
    never named). This is the history an incremental CDC consumer
    replays: every adjacent pair is one committed diff. O(versions)
    driver-side metadata reads; stops at the oldest version still on
    disk (vacuumed ancestry is simply not replayable)."""
    chain = [v for v, _ in _ancestry(root, fl_current_version(root))]
    chain.reverse()
    return chain


def _ancestry(root: str, version: str | None):
    """Yield (version, props) for ``version`` and then each ancestor,
    newest first, by parent pointers; stops after the first commit or
    at the first ancestor no longer on disk (vacuumed)."""
    while version is not None:
        try:
            props = fl_table_props(root, version)
        except FileNotFoundError:
            return
        yield version, props
        version = props.get("parent")


def _manifest_file(root: str, version: str) -> str:
    return os.path.join(root, _MANIFEST_DIR, f"{version}.parquet")


def _props_file(root: str, version: str) -> str:
    return os.path.join(root, _MANIFEST_DIR, f"{version}.props.json")


def fl_manifest(root: str, version: str | None = None) -> pd.DataFrame:
    """The manifest relation of a version (current by default):
    one row per data file — (path, n_rows, min_<c>/max_<c> for every
    tracked column, schema_cols = the file's write-time field-id ->
    column-name map). Driver-side pandas on purpose: it is O(files)
    metadata consulted by planning, not data."""
    if version is None:
        version = fl_current_version(root)
    p = _manifest_file(root, version)
    if not os.path.isfile(p):
        raise IOError(
            f"filelist table {root}: no version {version!r} "
            f"(have {fl_versions(root)})"
        )
    return pd.read_parquet(p)


def fl_table_props(root: str, version: str | None = None) -> dict:
    if version is None:
        version = fl_current_version(root)
    with open(_props_file(root, version)) as f:
        return json.load(f)


# operations that move or re-describe rows without changing what
# fl_read_mor returns: their commits record data_change=False
_LAYOUT_ONLY_OPS = frozenset(
    {"compact", "optimize", "set_zorder", "add_constraint", "drop_constraint"}
)


def _commit(
    root: str,
    parent: str | None,
    manifest: pd.DataFrame,
    props: dict,
    *,
    operation: str,
    version: str | None = None,
    before_flip=None,
) -> str:
    """THE commit path: stage a version's manifest + props, then CAS
    the pointer from ``parent`` (None = uninitialized table) to it.
    Claims a version unless the caller already claimed one to write
    its files under. Staged artifacts are keyed by the version name,
    so a writer that crashes (``before_flip`` is where the test hooks
    inject one) or loses the race leaves only invisible orphans.
    ``parent``, ``operation`` and ``data_change`` are stamped over
    whatever ``props`` carried: every commit copies its parent's props
    forward, so a field left to each caller would be inherited by the
    next commit. Returns the committed version."""
    if version is None:
        version = _claim_version(root)
    props = {
        **props,
        "parent": parent,
        "operation": operation,
        "data_change": operation not in _LAYOUT_ONLY_OPS,
    }
    manifest.reset_index(drop=True).to_parquet(
        _manifest_file(root, version), index=False
    )
    with open(_props_file(root, version), "w") as f:
        json.dump(props, f)
    if before_flip is not None:
        before_flip()
    manifest_commit_cas(root, version, parent)
    return version


def _test_hooks(op: str, crash: bool, pause=None):
    """``before_flip`` for an operation's test hooks: pause, crash."""
    if not crash and pause is None:
        return None

    def before_flip():
        if pause is not None:
            pause()
        if crash:
            raise RuntimeError(
                f"{op}: injected crash between manifest write and "
                f"pointer flip (test hook)"
            )

    return before_flip


# ---------------------------------------------------------------------------
# schema-by-field-id helpers
# ---------------------------------------------------------------------------


def _schema_fields(df: DataFrame) -> list[dict]:
    """Field-id schema for a fresh table: ids are assigned once at
    init and NEVER reused — renames keep the id, adds take a new
    one (the Iceberg identity rule that makes old files readable
    forever)."""
    return [
        {"id": i + 1, "name": f.name, "type": f.dataType.simpleString()}
        for i, f in enumerate(df.schema.fields)
    ]


def _schema_sig(fields: list[dict]) -> str:
    """A file group's write-time (field id -> physical column name)
    map, stored per manifest row. Compact and canonical: reads group
    files by this string."""
    return json.dumps([[f["id"], f["name"]] for f in fields])


def _parse_types(spark: SparkSession, fields: list[dict]) -> list[T.DataType]:
    """The engine's one type parser: each of ``fields``' type strings
    (``{"name", "type"}`` dicts, the schema-props shape) parsed on its
    own as exactly one data type, by the parser ``Column.cast`` applies
    to a string — an invalid type raises ``ParseException`` and no
    text is spliced into SQL. One driver-side JVM call per distinct
    string, no Spark job and no query analysis (building a relation
    to read the types off would cost tens of milliseconds a call)."""
    parse = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.parseDataType
    types = {
        t: T._parse_datatype_json_string(parse(t).json())
        for t in {f["type"] for f in fields}
    }
    return [types[f["type"]] for f in fields]


def _local_relation(spark: SparkSession, schema: T.StructType) -> DataFrame:
    """An empty relation with ``schema``: a local relation with no
    rows, so it collects without a Spark job, built by one JVM call
    that analyses one plan (a few ms, where a projection over a
    filtered range took ~40 and ``spark.createDataFrame([], schema)``
    runs a job when collected)."""
    jss = spark._jsparkSession
    return DataFrame(
        jss.createDataFrame([], jss.parseDataType(schema.json())), spark
    )


def _empty_relation(spark: SparkSession, fields: list[dict]) -> DataFrame:
    """``_local_relation`` with ``fields`` (``{"name", "type"}`` dicts,
    the schema-props shape) as its columns, every one nullable. The
    types come from ``_parse_types`` and each name is only a struct
    field name."""
    return _local_relation(
        spark,
        T.StructType(
            [
                T.StructField(f["name"], t)
                for f, t in zip(fields, _parse_types(spark, fields))
            ]
        ),
    )


def _schema_additions(
    spark: SparkSession, root: str, props: dict, df: DataFrame
) -> list[dict]:
    """The fields ``df`` carries that the table schema lacks, matched
    BY NAME and given fresh ids after the highest ever assigned (the
    ``fl_add_column`` rule). A table column that ``df`` lacks or
    types differently cannot be followed by name — a rename, drop or
    type change upstream — and raises instead of silently dropping
    data. Driver-side analysis only, zero jobs."""
    incoming = {f.name: f.dataType for f in df.schema.fields}
    schema = props["schema"]
    for f, t in zip(schema, _parse_types(spark, schema)):
        if f["name"] not in incoming:
            raise ValueError(
                f"filelist table {root}: column {f['name']!r} is missing "
                f"from the incoming rows (renamed or dropped upstream); "
                f"schema merge follows columns by name only"
            )
        if incoming[f["name"]] != t:
            raise ValueError(
                f"filelist table {root}: column {f['name']!r} changed type "
                f"{t.simpleString()} -> "
                f"{incoming[f['name']].simpleString()}; schema merge "
                f"cannot follow a type change"
            )
    names = {f["name"] for f in props["schema"]}
    next_id = max(f["id"] for f in props["schema"]) + 1
    new = [f for f in df.schema.fields if f.name not in names]
    return [
        {"id": next_id + i, "name": f.name, "type": f.dataType.simpleString()}
        for i, f in enumerate(new)
    ]


def _store_assign(
    spark: SparkSession, root: str, props: dict, df: DataFrame
) -> DataFrame:
    """``df`` with every table column cast to the table's type, by
    Spark's store-assignment rule (the one ``INSERT INTO`` applies): a
    numeric column of another width is cast, and under ANSI an
    overflowing value fails the first action over it; a pair Spark
    would not store-assign (string into bigint) raises ``ValueError``
    naming the column. A commit's files must carry the table's
    physical types — one INT64 file under an INT column makes every
    later read of the table fail. Columns the table lacks pass
    through; matching types return ``df`` itself, the plan unchanged.
    Driver-side analysis only, zero jobs."""
    types = {f["name"]: f["type"] for f in props["schema"]}
    if all(
        types.get(f.name) in (None, f.dataType.simpleString())
        for f in df.schema
    ):
        return df  # the common case, decided without a JVM call
    table = {
        f["name"]: t
        for f, t in zip(props["schema"], _parse_types(spark, props["schema"]))
    }
    jvm = spark._jvm
    to_jvm = jvm.org.apache.spark.sql.types.DataType.fromJson
    can_assign = jvm.org.apache.spark.sql.catalyst.expressions.Cast.canANSIStoreAssign
    sel = []
    for f in df.schema:
        want = table.get(f.name, f.dataType)
        if want == f.dataType:
            sel.append(F.col(f.name))
            continue
        if not can_assign(to_jvm(f.dataType.json()), to_jvm(want.json())):
            raise ValueError(
                f"filelist table {root}: cannot store column {f.name!r} "
                f"of type {f.dataType.simpleString()} into "
                f"{want.simpleString()}"
            )
        sel.append(F.col(f.name).cast(want).alias(f.name))
    return df.select(*sel)


def _read_files(
    spark: SparkSession, m_subset: pd.DataFrame, props: dict
) -> DataFrame:
    """Read a manifest subset ALIGNED to the current schema: files
    are grouped by write-time schema signature; within each group,
    current columns resolve by FIELD ID to the group's physical
    names (renames), and ids the group predates backfill as typed
    NULLs (add-column) — no data file is ever rewritten for an
    evolution commit. The group count is O(distinct schemas ever
    written), a handful; each group is one ordinary pruned parquet
    scan, so pushdown/pruning per group is untouched.

    Each group is read with a DECLARED schema built from metadata:
    physical names from the group's field-id map, types from the
    table schema (every commit's files carry the table's types, see
    ``_store_assign``), parsed once by ``_parse_types``. Spark never
    infers a schema from the footers, which costs one Spark job per
    group."""
    cur = props["schema"]
    if len(m_subset) == 0:
        return _empty_relation(spark, cur)
    types = {f["id"]: t for f, t in zip(cur, _parse_types(spark, cur))}
    cur_sig = _schema_sig(cur)
    if "schema_cols" not in m_subset.columns:
        sigs = pd.Series(cur_sig, index=m_subset.index)
    else:
        sigs = m_subset["schema_cols"].fillna(cur_sig)
    parts = []
    for sig in sorted(sigs.unique()):
        paths = sorted(m_subset.loc[sigs == sig, "path"])
        mapping = {fid: name for fid, name in json.loads(sig)}
        read_schema = T.StructType(
            [
                T.StructField(mapping[fid], types[fid])
                for fid in types
                if fid in mapping
            ]
        )
        dfg = spark.read.schema(read_schema).parquet(*paths)
        if all(mapping.get(f["id"]) == f["name"] for f in cur):
            # written under the current schema: the declared read is
            # already aligned, and the select would only cost analysis
            parts.append(dfg)
            continue
        sel = []
        for f in cur:
            phys = mapping.get(f["id"])
            if phys is None:
                sel.append(F.lit(None).cast(types[f["id"]]).alias(f["name"]))
            else:
                sel.append(F.col(phys).alias(f["name"]))
        parts.append(dfg.select(*sel))
    return reduce(DataFrame.unionByName, parts)


def _zone_cols(cols: tuple[str, ...]) -> list[str]:
    return ["path", "n_rows"] + [
        f"{m}_{c}" for c in cols for m in ("min", "max")
    ]


def _stats_of_commit(
    spark: SparkSession,
    commit_dir: str,
    cols: tuple[str, ...],
    schema_sig: str,
) -> pd.DataFrame:
    """Per-file stats for a commit's freshly-written files: parquet
    FOOTER metadata when every tracked column's footer stats are
    trustworthy-exact (the common case — keys are integers; zero
    Spark jobs, O(files) driver-side metadata reads, the way
    Delta/Iceberg gather commit stats), else one zone_map_stats scan
    folding map-side to O(files) rows. Paths normalized to plain
    filesystem form, each row stamped with the commit's write-time
    schema signature. The column types select the scan path: floats,
    strings, or a writer that dropped stats (``footer_zone_stats``
    returns None)."""
    stats = footer_zone_stats(commit_dir, cols)
    if stats is None:
        rows = zone_map_stats(spark, commit_dir, cols).collect()
        recs = [r.asDict() for r in rows]
        for d in recs:
            d["path"] = _norm_file_uri(d.pop("file"))
        stats = pd.DataFrame(recs, columns=_zone_cols(cols))
    return stats.assign(schema_cols=schema_sig)[
        [*_zone_cols(cols), "schema_cols"]
    ]


def _commit_dir(root: str, version: str) -> str:
    return os.path.join(root, "data", f"c_{version}")


def _write_files(
    spark: SparkSession,
    root: str,
    version: str,
    df: DataFrame,
    props: dict,
    *,
    bounds: dict[str, tuple[int, int]] | None = None,
    pack: bool = False,
    persist: bool = False,
) -> pd.DataFrame:
    """THE data-file write of a commit: ``df`` laid out on the table's
    clustering (``_apply_layout`` with ``props``, ``bounds`` and
    ``pack``) into the claimed ``version``'s commit dir, then the new
    files' manifest rows from their footers (``_stats_of_commit``).
    ``persist`` caches ``df`` across the range partitioner's sampling
    pass and the write, released as soon as the files exist — the
    caller decides it with ``_persist_wanted``."""
    if persist:
        df = df.persist()
    cdir = _commit_dir(root, version)
    try:
        _apply_layout(df, props, bounds=bounds, pack=pack).write.mode(
            "errorifexists"
        ).parquet(cdir)
    finally:
        if persist:
            df.unpersist()
    return _stats_of_commit(
        spark, cdir, tuple(props["stats_cols"]), _schema_sig(props["schema"])
    )


def fl_init(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    key: str,
    stats_cols: tuple[str, ...] = (),
    zorder_by: tuple[str, ...] = (),
    layout_files: int = 16,
    extra_props: dict | None = None,
) -> str:
    """Create a file-list manifest table with ``df`` as version 1.
    The MERGE key's per-file min/max is always tracked (merge
    targeting needs it); ``stats_cols`` adds skipping columns;
    ``zorder_by`` sets the clustering every commit re-applies to the
    files it writes. Cluster by the merge key (or lead with it) to
    make merges file-sparse — the standard Delta guidance.
    ``extra_props`` rides the commit, as on ``fl_merge_upsert``. Fails
    with ``CommitConflictError`` if the table is already initialized."""
    os.makedirs(os.path.join(root, "data"), exist_ok=True)
    version = _claim_version(root)
    props = {
        "key": key,
        "stats_cols": list(dict.fromkeys((key, *stats_cols))),
        "zorder_by": list(zorder_by),
        "layout_files": layout_files,
        "schema": _schema_fields(df),
        "delete_dirs": [],
        **(extra_props or {}),
    }
    # with a Z-order spec the layout needs a bounds pass and the
    # range partitioner a sampling pass — three computations of the
    # input without a persist. Persist ADAPTIVELY on the optimizer's
    # size estimate (no job: init has no manifest to count from):
    # when persisted, the bounds aggregate materializes the cache and
    # the input computes ONCE; below the threshold the cache build
    # measurably loses to recomputing a small local slice
    # (_persist_wanted rationale).
    manifest = _write_files(
        spark, root, version, df, props,
        persist=bool(zorder_by)
        and _persist_wanted(est_bytes=_plan_size_bytes(df)),
    )
    return _commit(
        root, None, manifest, props, operation="init", version=version
    )


def fl_read(
    spark: SparkSession, root: str, version: str | None = None
) -> DataFrame:
    """Read a committed version: exactly the files its manifest
    names, aligned to the version's current schema (files are
    immutable and shared, so any version is a consistent snapshot
    with no coordination). An empty manifest — a table whose every
    row was deleted then compacted — is an empty relation with the
    table schema, not an error."""
    if version is None:
        version = fl_current_version(root)
    return _read_files(
        spark, fl_manifest(root, version), fl_table_props(root, version)
    )


def fl_read_pruned(
    spark: SparkSession,
    root: str,
    preds: dict[str, tuple],
    version: str | None = None,
) -> tuple[DataFrame, int, int]:
    """Zone-map-pruned read straight off the manifest (the stats ARE
    the manifest): keep files whose [min, max] intersects every
    ``col -> (lo, hi)`` range; NULL-stats files always kept; an
    all-pruned result is an empty relation with the table schema.
    Returns (df, n_read, n_total)."""
    if version is None:
        version = fl_current_version(root)
    m = fl_manifest(root, version)
    props = fl_table_props(root, version)
    missing = [c for c in preds if c not in props["stats_cols"]]
    if missing:
        raise ValueError(
            f"filelist table {root}: no stats for {missing} "
            f"(tracked: {props['stats_cols']})"
        )
    keep = pd.Series(True, index=m.index)
    for col, (lo, hi) in preds.items():
        mn, mx = m[f"min_{col}"], m[f"max_{col}"]
        disjoint = (mx < lo) | (mn > hi)
        keep &= ~(disjoint & mn.notna() & mx.notna())
    return _read_files(spark, m[keep], props), int(keep.sum()), len(m)


def _exact_ints(values) -> list[int] | None:
    """``values`` as Python ints when every one is exactly integral
    (python-int arithmetic is then exact at any magnitude), else None."""
    try:
        out = [int(v) for v in values]
    except (TypeError, ValueError, OverflowError):
        return None
    return out if all(i == v for i, v in zip(out, values)) else None


def _targeting_hits(
    spark: SparkSession,
    m_subset: pd.DataFrame,
    key: str,
    keys_df: DataFrame,
    key_bounds: tuple | None = None,
) -> tuple[set[str], DataFrame | None]:
    """Exact per-file merge/change targeting: which files' [min, max]
    key zones contain at least one key of ``keys_df``. Returns (the
    paths known touched with no Spark job, a LAZY distinct
    touched-``path`` frame for the caller to collect, or None when
    the zone set resolves entirely driver-side).

    ``key_bounds`` is ``(kmin, kmax)`` of ``keys_df``'s non-NULL keys
    when the caller already computed them (``(None, None)``: there
    are none), or None when unknown. NULL-zone files are
    conservatively touched; the other zones split three ways:

    - **untouched**: the zone is disjoint from ``[kmin, kmax]``;
    - **touched**: the zone contains ``kmin`` or ``kmax`` (both are
      real keys), no job needed;
    - **undecided**: every other zone, i.e. one strictly inside
      ``(kmin, kmax)``.

    Only the undecided zones go to the join, so a contiguous band or
    an append beyond every zone resolves with no Spark job at all.
    The split needs exactly integral zones and bounds (every merge
    key in practice); otherwise every zone goes to the join. With no
    non-NULL key, no zone is touched (a NULL key matches no zone).

    The join over integer zones is a grid-bucketed BROADCAST HASH
    JOIN: the zone set is cut into uniform integer buckets
    driver-side (a file registers in every bucket its zone
    overlaps), each key computes its bucket with one integer
    division, and the join is an equi-join on the bucket id with the
    exact between() as a post-filter, O(keys + matches) with no
    key-side shuffle (a pure-inequality range join plans as a
    BroadcastNestedLoopJoin: |keys| x |files| predicate
    evaluations). Non-integer keys fall back to that range join. The
    collect is O(touched files) paths, the same cardinality the
    driver already plans scans with — never the keys themselves."""
    if len(m_subset) == 0:
        return set(), None
    mn_s, mx_s = m_subset[f"min_{key}"], m_subset[f"max_{key}"]
    null_zone = mn_s.isna() | mx_s.isna()
    touched = set(m_subset.loc[null_zone, "path"])
    zones = m_subset.loc[~null_zone, ["path", f"min_{key}", f"max_{key}"]]
    if zones.empty or (key_bounds is not None and key_bounds[0] is None):
        return touched, None
    paths = zones["path"].tolist()
    mins = _exact_ints(zones[f"min_{key}"].tolist())
    maxs = _exact_ints(zones[f"max_{key}"].tolist())
    exact = mins is not None and maxs is not None
    bounds = _exact_ints(key_bounds) if exact and key_bounds else None
    if bounds is not None:
        kmin, kmax = bounds
        undecided = []
        for p, mn, mx in zip(paths, mins, maxs):
            if mn <= kmin <= mx or mn <= kmax <= mx:
                touched.add(p)
            elif kmin < mn and mx < kmax:
                undecided.append((p, mn, mx))
        if not undecided:
            return touched, None
        paths, mins, maxs = (list(c) for c in zip(*undecided))
    gmin = min(mins) if exact else 0
    gmax = max(maxs) if exact else 0
    # bail to the range join if the span would overflow the BIGINT
    # bucket math
    if not exact or (gmax - gmin) >= (1 << 62):
        zdf = spark.createDataFrame(
            zones[["path", f"min_{key}", f"max_{key}"]]
        )
        hits = (
            keys_df.select(key)
            .join(
                F.broadcast(zdf),
                F.col(key).between(
                    F.col(f"min_{key}"), F.col(f"max_{key}")
                ),
            )
            .select("path")
            .distinct()
        )
        return touched, hits
    span = gmax - gmin + 1
    n_buckets = max(1, min(4 * len(paths), 4096))
    while True:
        width = -(-span // n_buckets)  # ceil
        n_pairs = sum(
            (mx - gmin) // width - (mn - gmin) // width + 1
            for mn, mx in zip(mins, maxs)
        )
        if n_pairs <= 32 * len(paths) + 1024 or n_buckets == 1:
            break
        n_buckets //= 2  # wide overlapping zones: coarser grid
    pairs = [
        (b, p, mn, mx)
        for p, mn, mx in zip(paths, mins, maxs)
        for b in range((mn - gmin) // width, (mx - gmin) // width + 1)
    ]
    zdf = spark.createDataFrame(
        pd.DataFrame(pairs, columns=["__b", "path", "__zmn", "__zmx"])
    )
    hits = (
        keys_df.select(F.col(key).cast("long").alias("__k"))
        # keys outside the global zone span match nothing (and the
        # filter keeps __k - gmin inside BIGINT)
        .where(F.col("__k").between(F.lit(gmin), F.lit(gmax)))
        .withColumn("__b", F.expr(f"(__k - {gmin}) div {width}"))
        .join(F.broadcast(zdf), "__b")
        .where(F.col("__k").between(F.col("__zmn"), F.col("__zmx")))
        .select("path")
        .distinct()
    )
    return touched, hits


def _manifest_bounds(
    m: pd.DataFrame, zcols: list[str]
) -> dict[str, tuple[int, int]] | None:
    """Z-order bounds (col -> (min, max)) for a commit whose rows all
    come from the files of manifest subset ``m`` — derived from the
    per-file zone stats the manifest already holds, so the layout's
    bounds aggregate (an extra full pass over the commit input per
    write) is skipped. None (caller computes bounds in-plan) when any
    zone is NULL/untracked or a stat is not exactly integral —
    supplied bounds may be wider than the data but never narrower,
    and the integral check keeps them consistent with zorder_key's
    CAST(col AS BIGINT) view of the data."""
    if not zcols or len(m) == 0:
        return None
    out: dict[str, tuple[int, int]] = {}
    for c in zcols:
        if f"min_{c}" not in m.columns or f"max_{c}" not in m.columns:
            return None
        mns, mxs = m[f"min_{c}"], m[f"max_{c}"]
        if mns.isna().any() or mxs.isna().any():
            return None
        try:
            bounds = _exact_ints([mns.min(), mxs.max()])
        except TypeError:  # stats that do not compare
            return None
        if bounds is None:
            return None
        out[c] = (bounds[0], bounds[1])
    return out


def _merge_bounds(
    touched_m: pd.DataFrame, counts, zcols: list[str]
) -> dict[str, tuple[int, int]] | None:
    """Z-order bounds for a MERGE commit's output: the union of the
    updates' bounds (rode the merge's existing counts aggregate —
    zero extra jobs) and the touched files' manifest zones. None ->
    the layout computes bounds in-plan (over the persisted slice)."""
    if not zcols:
        return None
    upd: dict[str, tuple[int, int]] = {}
    for c in zcols:
        lo, hi = counts[f"__zmn_{c}"], counts[f"__zmx_{c}"]
        if lo is None or hi is None:
            return None
        upd[c] = (int(lo), int(hi))
    if len(touched_m) == 0:
        return upd
    file_bounds = _manifest_bounds(touched_m, zcols)
    if file_bounds is None:
        return None
    return {
        c: (
            min(upd[c][0], file_bounds[c][0]),
            max(upd[c][1], file_bounds[c][1]),
        )
        for c in zcols
    }


def fl_merge_upsert(
    spark: SparkSession,
    root: str,
    updates: DataFrame,
    key: str,
    _crash_before_commit: bool = False,
    _pause_before_commit=None,
    extra_props: dict | None = None,
    deletes: DataFrame | None = None,
    merge_schema: bool = False,
) -> tuple[int, int, int, int]:
    """MERGE (upsert) that rewrites ONLY the data files whose key
    zone intersects the update keys; every other file is carried into
    the new version BY REFERENCE. Pure inserts beyond all existing
    key ranges rewrite zero files. Returns
    (n_replaced, n_inserted, files_rewritten, files_total).

    Targeting is exact per file: a file is touched iff at least one
    update key falls inside its manifest key zone (NULL-zone files
    conservatively touched). The update keys' bounds decide most
    zones with no job (``_targeting_hits``): a zone disjoint from
    ``[kmin, kmax]`` is untouched, one holding ``kmin`` or ``kmax``
    is touched, and only the zones strictly between go to a join of
    the distinct update keys against them.
    Touched files are read ONCE — the replaced-row count is derived
    from zero-job metadata arithmetic (touched files' manifest row
    total + update count − rows actually written, read back from the
    fresh commit's parquet footers), so there is no separate
    matched-count job and no rescan; one light semi-join count only
    when a delete set hides rows from that arithmetic. Non-updated
    rows survive via anti-join; updates (matched + fresh inserts)
    union in; the slice is re-clustered on the table's committed
    Z-order spec and written as the commit's new files, sized to the
    touched-file count so file granularity is stable under repeated
    merges.

    Merge-on-read interaction, all EXECUTOR-SIDE (no key ever crosses
    to the driver): rows already deleted are anti-joined out of the
    touched slice (folding those deletes for free), and the commit's
    surviving delete set = old set ANTI-JOIN update keys, rewritten
    as fresh delete files — an upsert of a deleted key is a
    re-insert, and a stale set entry would silently hide it from
    every reader.

    ``deletes`` (a frame with a ``key`` column) fuses a merge-on-read
    DELETE into the SAME commit: its distinct keys are staged and
    folded exactly as ``fl_delete`` does and join the commit's delete
    set, so the upsert and the delete publish with one pointer flip
    and no reader ever sees one without the other. The result equals
    this merge followed by ``fl_delete(deletes)``: a key in both ends
    up deleted. Empty ``updates`` with non-empty ``deletes`` is a
    delete-only commit; both empty is a no-op.

    ``merge_schema=True`` follows the incoming schema BY NAME, in the
    same commit: a column of ``updates`` the table lacks is appended
    with a fresh field id (older files read it as NULL, exactly as
    after ``fl_add_column``), and a table column that ``updates``
    lacks or carries with another type — a rename or a type change
    upstream — raises ``ValueError`` naming it instead of dropping
    it. A schema change alone still commits. Without it, incoming
    columns are cast to the table's types first (``_store_assign``,
    Spark's store-assignment rule), so a commit never writes a file
    whose physical type disagrees with the table's.

    Commit = claim version -> stage new files + manifest + props ->
    CAS pointer flip (conflict -> ``CommitConflictError``, staged
    version stays an invisible orphan). Crash anywhere before the
    flip leaves the old version fully intact. ``extra_props`` rides
    the commit (the streaming epoch / txnVersion pattern).

    Scale shape: the ``updates`` lineage is persisted across the
    merge's actions and unpersisted on exit. ONE aggregate over the
    updates materializes the cache and carries the row count, CHECK
    violations, duplicate-key check, Z-order bounds and key bounds
    together (an empty micro-batch returns here: 1 action). The key
    bounds sort the zones driver-side; a batch they decide — a
    contiguous key band, an upsert across the tail, a pure append —
    goes straight to the write (2 actions in all). Only a batch with
    zones strictly inside its key range runs a targeting action, one
    bucketed broadcast join of the distinct update keys (read from
    the cache) against those zones (3 actions). The write scans the
    touched subset once; shuffle volume O(touched + updates), never
    O(table). ``deletes`` adds one write of its distinct keys;
    without it the action sequence is the plain merge's.

    Counts deliberately avoid ``observe()``/``Observation.get``: its
    py4j row fetch hard-crashes (toPyRow assertion) when AQE
    empty-relation propagation elides the metric points — e.g. an
    empty streaming micro-batch — and was seen to crash flakily even
    on non-empty replication batches.
    """
    parent = fl_current_version(root)
    props = fl_table_props(root, parent)
    if props["key"] != key:
        raise ValueError(
            f"filelist table {root}: merge key {key!r} != table key "
            f"{props['key']!r}"
        )
    added = (
        _schema_additions(spark, root, props, updates) if merge_schema else []
    )
    if added:
        props = {**props, "schema": props["schema"] + added}
    zcols = list(props.get("zorder_by") or [])
    updates = _store_assign(spark, root, props, updates).persist()
    staged = None
    try:
        constraints = props.get("constraints") or {}
        row_metrics = [
            F.count(F.lit(1)).alias("n"),
            # CHECK constraints ride the SAME pass — enforcement
            # costs zero extra jobs; NULL predicate results count as
            # violations (the SQL CHECK rule is satisfied-or-reject
            # here, matching Delta's enforcement)
            *[
                F.sum(
                    (~F.coalesce(F.expr(sql), F.lit(False))).cast("bigint")
                ).alias(f"__viol_{name}")
                for name, sql in constraints.items()
            ],
            # Z-order bounds of the updates ride the same pass too:
            # combined with the touched files' manifest zones they
            # bound the whole merged slice, so the layout's bounds
            # pass (a full extra computation of the merge plan per
            # commit) disappears
            *[
                f
                for c in zcols
                for f in (
                    F.min(F.col(c).cast("long")).alias(f"__zmn_{c}"),
                    F.max(F.col(c).cast("long")).alias(f"__zmx_{c}"),
                )
            ],
        ]
        m = fl_manifest(root, parent)
        # ONE plain aggregate over the (persisted) updates carries the
        # row count, CHECK violations, Z-order bounds, the
        # duplicate-source-key check (count_distinct excludes NULL —
        # counted separately) AND the key bounds that decide most of
        # the targeting; a targeting join then reuses the
        # materialized cache, and an empty batch returns before any
        # targeting (no observe(): see the docstring)
        counts = updates.agg(
            *row_metrics,
            F.count_distinct(F.col(key)).alias("__kd"),
            F.max(F.col(key).isNull().cast("int")).alias("__has_null"),
            F.min(F.col(key)).alias("__kmin"),
            F.max(F.col(key)).alias("__kmax"),
        ).first().asDict()
        n_updates = counts["n"]
        for name, sql in constraints.items():
            n_viol = counts[f"__viol_{name}"]
            if n_viol:
                raise CheckViolation(
                    f"fl_merge_upsert: {n_viol} update row(s) violate "
                    f"CHECK constraint {name!r} ({sql}); nothing committed"
                )
        n_update_keys = counts["__kd"] + (1 if counts["__has_null"] else 0)
        if n_update_keys != n_updates:
            raise ValueError(
                f"fl_merge_upsert: updates has "
                f"{n_updates - n_update_keys} duplicate '{key}' rows; "
                f"MERGE requires unique source keys"
            )
        if deletes is not None:
            staged, _ = _stage_delete_keys(spark, root, props, deletes)

        def publish(version: str, manifest: pd.DataFrame, dels: list[str]):
            # the merge's commit tail: fused delete batch, then _commit
            nonlocal staged
            if staged is not None:
                dels = _publish_delete_keys(
                    spark, props, staged, _delete_dir(root, f"{version}_del"),
                    dels,
                )
                staged = None
            _commit(
                root, parent, manifest,
                {**props, "delete_dirs": dels, **(extra_props or {})},
                operation="merge",
                version=version,
                before_flip=_test_hooks(
                    "fl_merge_upsert", _crash_before_commit,
                    _pause_before_commit,
                ),
            )

        if n_updates == 0:
            # empty micro-batches are routine in streaming — a no-op,
            # not an empty commit; a fused delete batch or a schema
            # change alone commits with every file carried
            if staged is not None or added:
                publish(
                    _claim_version(root), m, props.get("delete_dirs") or []
                )
            return 0, 0, 0, len(m)
        touched, hits = _targeting_hits(
            spark, m, key, updates.select(key).distinct(),
            (counts["__kmin"], counts["__kmax"]),
        )
        if hits is not None:
            touched = touched | {r["path"] for r in hits.collect()}
        touched_m = m[m["path"].isin(touched)]
        untouched_m = m[~m["path"].isin(touched)]
        dels_df = _delete_keys_df(spark, props)
        cols = [f["name"] for f in props["schema"]]
        if not touched and dels_df is None:
            # pure-append fast path (THE streaming hot shape: every
            # batch key beyond every zone, decided from the key
            # bounds): no file intersects, so there is no targeting
            # join, no matched count to take and no survivor
            # anti-join to run — zero jobs beyond the write itself
            n_replaced = 0
            merged = updates.select(*cols)
            cache = False  # the updates are already persisted
        else:
            touched_df = _minus_keys(
                _read_files(spark, touched_m, props), dels_df, key
            )
            # the layout's range partitioner SAMPLES its input INSIDE
            # the write action, i.e. the merge plan (touched scan +
            # two anti-joins + union) executes once for the sample
            # pass and again for the write. Persist the slice so it
            # computes ONCE — but only when its KNOWN size (touched
            # files' manifest rows + update count, zero extra jobs)
            # says the cache build beats the recompute
            # (_persist_wanted); it is O(touched + updates) — the
            # bounded working set of the merge, spilled to disk if
            # it does not fit (never O(table)).
            cache = _persist_wanted(
                int(touched_m["n_rows"].sum()) + n_updates
            )
            kept = touched_df.join(updates.select(key), key, "left_anti")
            merged = kept.unionByName(updates.select(*cols))
            n_replaced = None  # resolved after the write below

        version = _claim_version(root)
        fresh = _write_files(
            spark, root, version, merged,
            {**props, "layout_files": max(1, len(touched))},
            bounds=_merge_bounds(touched_m, counts, zcols),
            persist=cache,
        )
        if n_replaced is None:
            if dels_df is None:
                # zero-job arithmetic: the touched files' row total
                # is in the parent manifest and the commit's own row
                # total is in the fresh footer stats —
                # written = (touched - matched) + updates
                # (exact whether or not the slice was persisted)
                n_replaced = (
                    int(touched_m["n_rows"].sum())
                    + n_updates
                    - (int(fresh["n_rows"].sum()) if len(fresh) else 0)
                )
            else:
                # delete set present: rows hidden by it are unknowable
                # from metadata — one light semi-join count of the
                # (small, unpersisted) touched slice
                n_replaced = touched_df.join(
                    updates.select(key), key, "left_semi"
                ).count()
        n_inserted = n_updates - n_replaced
        manifest = pd.concat([untouched_m, fresh], ignore_index=True)
        delete_dirs: list[str] = []
        if dels_df is not None:
            # surviving deletes = old set minus re-inserted keys —
            # one distributed anti-join, folded into a single fresh
            # delete dir (never collected to the driver); write
            # unconditionally, then a footer read decides emptiness —
            # one Spark job instead of an exists-probe plus a write
            surviving = dels_df.distinct().join(
                updates.select(key), key, "left_anti"
            )
            ddir = _delete_dir(root, version)
            if _write_nonempty(surviving, ddir):
                delete_dirs = [ddir]
        publish(version, manifest, delete_dirs)
        return n_replaced, n_inserted, len(touched), len(m)
    finally:
        if staged is not None:
            shutil.rmtree(staged, ignore_errors=True)
        updates.unpersist()


def fl_vacuum(
    spark: SparkSession,
    root: str,
    keep: int = 2,
    retain_hours: float = 168.0,
    force: bool = False,
) -> list[str]:
    """Reference-counting vacuum: drop manifests older than the
    newest ``keep`` (never the pointer's target), then delete every
    data file — and every delete-set dir — no kept manifest/props
    references. Shared artifacts survive as long as ANY kept version
    names them — deleting a version can never corrupt another.

    Retention guard (Delta's ``VACUUM ... RETAIN`` rule): a version
    COMMITTED within the last ``retain_hours`` (default 7 days) is
    never dropped, even when it falls outside ``keep`` — a reader
    that resolved that version name before the vacuum (time travel,
    a long scan, ``fl_changes`` over a window) must still find its
    manifest and every file it references. There is no reader-lease
    registry on a shared filesystem, so recency IS the lease; size
    ``retain_hours`` above the longest query/retention window.
    ``force=True`` bypasses the horizon — TORN-READ HAZARD: any
    reader mid-query on a force-dropped version will see its files
    deleted underneath it (FileNotFoundException mid-scan).
    ``keep=0`` keeps only the pointer's target (and, without
    ``force``, the versions inside the horizon); a negative ``keep``
    raises ``ValueError``. Returns deleted data-file paths."""
    if keep < 0:
        raise ValueError(f"fl_vacuum: keep must be >= 0, got {keep}")
    current = fl_current_version(root)
    versions = fl_versions(root)
    drop = [
        v for v in versions[: max(0, len(versions) - keep)] if v != current
    ]
    if not force:
        horizon = time.time() - retain_hours * 3600.0
        drop = [
            v
            for v in drop
            if os.path.getmtime(_manifest_file(root, v)) < horizon
        ]

    def refs(vs) -> tuple[set[str], set[str]]:
        paths: set[str] = set()
        dels: set[str] = set()
        for v in vs:
            paths |= set(fl_manifest(root, v)["path"])
            dels |= set(fl_table_props(root, v).get("delete_dirs", []))
        return paths, dels

    kept, kept_dels = refs(v for v in versions if v not in drop)
    dropped, dropped_dels = refs(drop)
    doomed, doomed_dels = dropped - kept, dropped_dels - kept_dels
    # a dropped version's manifest, props and claim share its stem
    mdir = os.path.join(root, _MANIFEST_DIR)
    for f in os.listdir(mdir):
        if f.split(".", 1)[0] in drop:
            os.remove(os.path.join(mdir, f))
    for p in sorted(doomed):
        os.remove(p)
    for d in sorted(doomed_dels):
        shutil.rmtree(d, ignore_errors=True)
    return sorted(doomed)


# ---------------------------------------------------------------------------
# merge-on-read deletes + compaction (Iceberg-v2 delete-vector shape)
# ---------------------------------------------------------------------------


def _delete_dir(root: str, tag: str) -> str:
    return os.path.join(root, "deletes", f"d_{tag}")


def _write_nonempty(df: DataFrame, path: str) -> int:
    """Write ``df`` to ``path`` and return its row count, read from
    the file FOOTERS (driver-side metadata, O(files) milliseconds), so
    commit bookkeeping never costs a second Spark job — neither an
    emptiness probe before the write nor a count after it. A 0-row
    write's dir (no part files, or empty ones) is removed."""
    import pyarrow.parquet as pq

    df.write.mode("errorifexists").parquet(path)
    n = sum(pq.read_metadata(f).num_rows for f in _data_files(path))
    if n == 0:
        shutil.rmtree(path, ignore_errors=True)
    return n


def _delete_keys_df(
    spark: SparkSession, props: dict, key: str | None = None
) -> DataFrame | None:
    """The version's cumulative delete set as an EXECUTOR-read
    relation (union of the version's immutable delete-key files), or
    None when empty. Each dir is read SEPARATELY and its single
    column positionally renamed to the current key name BEFORE the
    union — a multi-dir ``spark.read.parquet(*dirs)`` resolves
    columns by NAME across files, so after a key rename the dirs
    written under the old name would read as all-NULL and the
    deleted rows would silently resurface. Per-dir positional
    binding keys the files by position, which is exactly the rename
    contract (delete files are single-column by construction — the
    check makes that structural). The read schema comes from
    metadata, never from a Spark inference job: the dir's physical
    column name from one file's parquet footer (driver-side, like
    ``_write_nonempty``'s row count), its type from the table
    schema's key field (``_stage_delete_keys`` writes the key's
    type). May contain duplicate keys across files — harmless to the
    anti-joins that consume it."""
    import pyarrow.parquet as pq

    dirs = props.get("delete_dirs") or []
    if not dirs:
        return None
    phys = []
    for d in dirs:
        names = pq.read_schema(_data_files(d)[0]).names
        if len(names) != 1:
            raise ValueError(
                f"delete dir {d}: expected exactly 1 column, found "
                f"{names} — positional key binding would mis-bind"
            )
        phys.append(names[0])
    key_field = next(f for f in props["schema"] if f["name"] == props["key"])
    (key_type,) = _parse_types(spark, [key_field])
    key = key or props["key"]
    parts = [
        spark.read.schema(T.StructType([T.StructField(name, key_type)]))
        .parquet(d)
        .toDF(key)
        for d, name in zip(dirs, phys)
    ]
    # positional union: every side is already renamed
    return reduce(DataFrame.union, parts)


def _stage_delete_keys(
    spark: SparkSession, root: str, props: dict, keys: DataFrame
) -> tuple[str | None, int]:
    """Write a delete batch's distinct keys into a temp dir BEFORE any
    version is claimed; returns (staged dir, n keys), or (None, 0) for
    an empty batch. Claiming only once the batch proves non-empty
    matters: empty delete batches are routine in streaming, and a
    claim up front would leak one orphan .claim marker per empty batch
    forever (claimed numbers are never reissued). An empty batch must
    also be a no-op, not an empty commit — a committed zero-row dir
    would make the delete set non-empty forever, so every later read
    pays the anti-join and merges lose the pure-append fast path.
    The keys are stored as the table's key type (``_store_assign``),
    the type every reader of the delete set declares."""
    tdir = _delete_dir(root, f"tmp_{uuid.uuid4().hex}")
    keys = _store_assign(spark, root, props, keys.select(props["key"]))
    n = _write_nonempty(keys.distinct(), tdir)
    return (tdir if n else None), n


def _publish_delete_keys(
    spark: SparkSession,
    props: dict,
    staged: str,
    ddir: str,
    dirs: list[str],
) -> list[str]:
    """Move a staged delete batch to ``ddir`` (named after the claimed
    version) and return the commit's delete-dir list: ``dirs`` plus
    it, folded into one ``<ddir>_fold`` dir (executor-side distinct +
    rewrite) once past ``_DELETE_FOLD_AFTER`` dirs. ``props`` (the
    table's key and schema) declares the fold's read schema."""
    os.rename(staged, ddir)  # same filesystem: atomic move into place
    dirs = list(dirs) + [ddir]
    if len(dirs) > _DELETE_FOLD_AFTER:
        fdir = f"{ddir}_fold"
        # per-dir positional binding (not spark.read.parquet(*dirs)):
        # dirs written before a key rename carry the old column name,
        # and a multi-dir read resolves by name -> NULLs. Route
        # through the same reader every consumer uses.
        (
            _delete_keys_df(spark, {**props, "delete_dirs": dirs})
            .distinct()
            .write.mode("errorifexists")
            .parquet(fdir)
        )
        dirs = [fdir]
    return dirs


def fl_delete_keys(
    spark: SparkSession, root: str, version: str | None = None
) -> pd.DataFrame:
    """Introspection/test helper ONLY: the version's distinct delete
    set as pandas — O(set) driver memory by definition, which is why
    no write path calls it. ``fl_delete``/``fl_merge_upsert`` keep
    the set executor-side end to end."""
    if version is None:
        version = fl_current_version(root)
    props = fl_table_props(root, version)
    dels = _delete_keys_df(spark, props)
    if dels is None:
        return pd.DataFrame({props["key"]: []})
    return dels.distinct().toPandas()


def _apply_deletes(
    spark: SparkSession, df: DataFrame, root: str, version: str
) -> DataFrame:
    """``df`` (files of ``version``) minus ``version``'s delete set.
    Callers resolve the version ONCE for both halves: re-reading the
    pointer here would pair one version's files with a later
    commit's delete set."""
    props = fl_table_props(root, version)
    return _minus_keys(df, _delete_keys_df(spark, props), props["key"])


def _minus_keys(df: DataFrame, keys: DataFrame | None, key: str) -> DataFrame:
    """``df`` without the rows whose ``key`` is in ``keys`` (None =
    no keys). No forced broadcast: the delete files' sizes are known
    to the planner, so AQE/size stats pick broadcast while the set is
    small and a shuffled anti-join once it is not — a billion-key
    delete set must not try to build a broadcast table."""
    return df if keys is None else df.join(keys, key, "left_anti")


def fl_read_mor(
    spark: SparkSession, root: str, version: str | None = None
) -> DataFrame:
    """Merge-on-read: the version's files MINUS its delete set (one
    anti-join — the read-side cost of not rewriting on delete).
    ``fl_read`` stays the raw file view; use this one when the table
    uses ``fl_delete``."""
    if version is None:
        version = fl_current_version(root)
    return _apply_deletes(spark, fl_read(spark, root, version), root, version)


def fl_read_pruned_mor(
    spark: SparkSession,
    root: str,
    preds: dict[str, tuple],
    version: str | None = None,
) -> tuple[DataFrame, int, int]:
    if version is None:
        version = fl_current_version(root)
    df, n_read, n_total = fl_read_pruned(spark, root, preds, version)
    return _apply_deletes(spark, df, root, version), n_read, n_total


def fl_delete(
    spark: SparkSession,
    root: str,
    keys: DataFrame,
    _crash_before_commit: bool = False,
) -> tuple[int, str]:
    """DELETE BY KEY without rewriting any data file (merge-on-read,
    the Iceberg v2 delete-vector shape): the new version carries the
    SAME manifest (every file by reference) plus the delete set;
    readers (`fl_read_mor`) anti-join it out. Scattered deletes —
    the worst case for copy-on-write, which would rewrite every
    touched file — cost one executor-parallel write of the batch's
    distinct keys here; the rewrite is deferred to ``fl_compact``,
    which folds the set at a time of the table's choosing. Returns
    (n_delete_keys, version).

    Scale shape: the keys NEVER land on the driver — they are
    written as immutable parquet delete files by the executors and
    re-read by the executors of every MOR read. Each delete commit
    adds one dir of files; past ``_DELETE_FOLD_AFTER`` dirs the set
    is folded (distinct + rewrite, also executor-side) so read-side
    work stays bounded. Commit = claim version -> stage delete files
    + manifest copy + props -> CAS pointer flip; same crash/conflict
    matrix as every other commit."""
    parent = fl_current_version(root)
    props = fl_table_props(root, parent)
    tdir, n_new = _stage_delete_keys(spark, root, props, keys)
    if tdir is None:
        return 0, parent
    version = _claim_version(root)
    dirs = _publish_delete_keys(
        spark, props, tdir, _delete_dir(root, version),
        props.get("delete_dirs") or [],
    )
    _commit(
        root, parent, fl_manifest(root, parent),
        {**props, "delete_dirs": dirs},
        operation="delete",
        version=version,
        before_flip=_test_hooks("fl_delete", _crash_before_commit),
    )
    return n_new, version


def _replace_all(
    spark: SparkSession,
    root: str,
    parent: str,
    props: dict,
    df: DataFrame,
    *,
    operation: str,
    bounds: dict[str, tuple[int, int]] | None = None,
    persist: bool = False,
) -> str:
    """One commit that replaces every file of ``parent`` with ``df``'s
    rows, stored in the table's types (``_store_assign``), packed into
    the table's ``layout_files`` and published with an EMPTY delete
    set. ``df`` may read ``parent`` lazily while the new files are
    written: a version's files are immutable, and readers stay on
    ``parent`` until the pointer flips. Emptiness is read from the new
    files' footers after the write, not probed before it: an empty
    ``df`` has its commit dir removed and commits an explicitly-empty
    manifest (``fl_read`` then returns an empty relation with the
    table schema). Returns the new version name."""
    props = {**props, "delete_dirs": []}
    version = _claim_version(root)
    manifest = _write_files(
        spark, root, version, _store_assign(spark, root, props, df), props,
        bounds=bounds, pack=True, persist=persist,
    )
    if int(manifest["n_rows"].sum()) == 0:
        shutil.rmtree(_commit_dir(root, version), ignore_errors=True)
        manifest = manifest.iloc[:0]
    return _commit(
        root, parent, manifest, props, operation=operation, version=version
    )


def fl_compact(
    spark: SparkSession, root: str, layout_files: int | None = None
) -> str:
    """Copy-on-write fold: rewrite the current merge-on-read state
    (files minus delete set) into a fresh clustered layout and commit
    it with an EMPTY delete set (``_replace_all``) — deletes become
    physical, the read-side anti-join disappears, and streaming-epoch
    file fragmentation is bin-packed away. One full rewrite, amortized
    across every delete and small commit since the last fold — the
    OPTIMIZE of this format. A state left empty by deletes commits an
    explicitly-empty manifest. Returns the new version name."""
    parent = fl_current_version(root)
    props = fl_table_props(root, parent)
    if layout_files is not None:
        props["layout_files"] = layout_files
    m = fl_manifest(root, parent)
    # persist the MOR state across the range partitioner's sampling
    # pass and the write (otherwise the files-minus-delete-set plan
    # computes twice) — adaptively, on the manifest's row total (an
    # upper bound of the MOR state; below the threshold the cache
    # build loses to the recompute, _persist_wanted). Z-order bounds
    # come from the manifest zones when complete — wider than the
    # post-delete data is fine, narrower impossible
    return _replace_all(
        spark, root, parent, props, fl_read_mor(spark, root, parent),
        operation="compact",
        bounds=_manifest_bounds(m, list(props.get("zorder_by") or [])),
        persist=_persist_wanted(int(m["n_rows"].sum())),
    )


def fl_add_constraint(
    spark: SparkSession, root: str, name: str, sql_expr: str
) -> str:
    """ADD a CHECK constraint (Delta ``ALTER TABLE ADD CONSTRAINT``):
    the EXISTING merge-on-read state is validated first (one scan,
    one count — a constraint the data already violates is refused,
    never recorded), then the constraint commits as metadata and
    every later ``fl_merge_upsert``/epoch sink batch is validated
    inside the merge's existing counts aggregate — enforcement costs
    zero additional Spark jobs. A NULL predicate result counts as a
    violation. Returns the new version name."""
    parent = fl_current_version(root)
    props = fl_table_props(root, parent)
    constraints = dict(props.get("constraints") or {})
    if name in constraints:
        raise ValueError(
            f"filelist table {root}: constraint {name!r} already exists"
        )
    existing = fl_read_mor(spark, root, parent)
    n_viol = existing.where(
        ~F.coalesce(F.expr(sql_expr), F.lit(False))
    ).count()
    if n_viol:
        raise CheckViolation(
            f"fl_add_constraint: {n_viol} existing row(s) violate "
            f"{name!r} ({sql_expr}); constraint not added"
        )
    constraints[name] = sql_expr
    return _commit(
        root, parent, fl_manifest(root, parent),
        {**props, "constraints": constraints},
        operation="add_constraint",
    )


def fl_drop_constraint(spark: SparkSession, root: str, name: str) -> str:
    """DROP a CHECK constraint (metadata-only commit)."""
    parent = fl_current_version(root)
    props = fl_table_props(root, parent)
    constraints = dict(props.get("constraints") or {})
    if name not in constraints:
        raise ValueError(
            f"filelist table {root}: no constraint {name!r} "
            f"(have {sorted(constraints)})"
        )
    del constraints[name]
    return _commit(
        root, parent, fl_manifest(root, parent),
        {**props, "constraints": constraints},
        operation="drop_constraint",
    )


def fl_optimize(
    spark: SparkSession,
    root: str,
    small_rows: int,
    target_rows_per_file: int | None = None,
) -> tuple[str, int, int]:
    """Incremental OPTIMIZE: bin-pack ONLY the files smaller than
    ``small_rows`` into the table's clustered layout; every other
    file is carried by reference. This is the scale-path
    defragmenter — ``fl_compact`` rewrites the WHOLE table (its job
    is folding the delete set), which a 100 TB table cannot afford
    just because a streaming sink dribbled small epoch commits;
    OPTIMIZE's cost is O(small files), so it can run continuously
    behind the sink. Purely a LAYOUT commit: rows are moved, never
    added, dropped, or delete-folded — the delete set (if any)
    carries unchanged and keeps hiding the same keys in old and new
    files alike. Returns (version, files_packed, files_total) —
    (current, 0, n) no-op when fewer than two files qualify."""
    parent = fl_current_version(root)
    props = fl_table_props(root, parent)
    m = fl_manifest(root, parent)
    small = m[m["n_rows"] < small_rows]
    if len(small) < 2:
        return parent, 0, len(m)
    big = m[~m.index.isin(small.index)]
    n_small_rows = int(small["n_rows"].sum())
    per_file = target_rows_per_file or max(small_rows, 1)
    version = _claim_version(root)
    # bounds from the packed files' own zones (skips the bounds
    # pass); persist the small-file slice across the sampling pass
    # and the write — adaptively on its exact row count
    # (_persist_wanted; OPTIMIZE's slice is re-read small files, the
    # cheapest possible recompute)
    fresh = _write_files(
        spark, root, version, _read_files(spark, small, props),
        {**props, "layout_files": max(1, -(-n_small_rows // per_file))},
        bounds=_manifest_bounds(small, list(props.get("zorder_by") or [])),
        pack=True,
        persist=_persist_wanted(n_small_rows),
    )
    _commit(
        root, parent, pd.concat([big, fresh], ignore_index=True), props,
        operation="optimize", version=version,
    )
    return version, len(small), len(m)


def fl_set_zorder(
    spark: SparkSession,
    root: str,
    zorder_by: tuple[str, ...],
    stats_cols: tuple[str, ...] = (),
) -> str:
    """ALTER TABLE CLUSTER BY (cluster-spec evolution, the Delta
    liquid-clustering story): a METADATA-ONLY commit that changes the
    Z-order spec — and extends the tracked stats columns — without
    rewriting a single data file. Existing files keep their old
    layout; their manifest rows carry NULL zones for newly tracked
    columns, which every consumer already treats conservatively
    (pruning keeps NULL-zone files, merge targeting touches them).
    From this commit on, every write (merge, OPTIMIZE, compact)
    re-clusters ITS OUTPUT on the new spec and records real stats —
    so the table migrates to the new clustering incrementally, at
    the pace of its own writes, and ``fl_compact`` finishes the job
    in one rewrite when the table chooses. Returns the new version.

    Cites: Delta clustered tables (ALTER TABLE ... CLUSTER BY) /
    Iceberg's write-order metadata — the reference has no layout
    control at all (heap tables, create_db_from_csv.py)."""
    parent = fl_current_version(root)
    props = fl_table_props(root, parent)
    names = {f["name"] for f in props["schema"]}
    unknown = [c for c in (*zorder_by, *stats_cols) if c not in names]
    if unknown:
        raise ValueError(
            f"filelist table {root}: no column(s) {unknown} "
            f"(schema: {sorted(names)})"
        )
    new_stats = list(
        dict.fromkeys(
            [*props["stats_cols"], *stats_cols, *zorder_by]
        )
    )
    m = fl_manifest(root, parent).copy()
    for c in new_stats:
        for side in ("min", "max"):
            col = f"{side}_{c}"
            if col not in m.columns:
                m[col] = pd.NA  # NULL zone: conservatively unprunable
    return _commit(
        root, parent, m,
        {**props, "zorder_by": list(zorder_by), "stats_cols": new_stats},
        operation="set_zorder",
    )


def fl_restore(spark: SparkSession, root: str, version: str) -> str:
    """RESTORE (rollback): commit ``version``'s exact state — manifest,
    delete set, schema, layout spec — as a NEW version (Delta RESTORE
    semantics: history is never rewritten, the rollback is itself an
    auditable commit, and the undone versions stay time-travelable
    until vacuum). Metadata-only: data files are immutable and
    shared, so restoring a 100 TB table writes one manifest + one
    pointer flip. The restored-to version must still exist (not yet
    vacuumed). Returns the new version name."""
    parent = fl_current_version(root)
    if version == parent:
        return parent
    m = fl_manifest(root, version)  # raises if vacuumed/unknown
    return _commit(
        root, parent, m, fl_table_props(root, version), operation="restore"
    )


def fl_clone(
    src_root: str,
    dst_root: str,
    version: str,
    extra_props: dict | None = None,
) -> str:
    """DEEP CLONE (Delta ``CREATE TABLE ... DEEP CLONE ... VERSION AS
    OF``): ``dst_root`` becomes a new table whose first version is
    ``src_root``'s ``version`` — its data files and delete dirs are
    copied byte for byte under the clone commit's own data and delete
    dir names (so later commits to the clone never collide with a
    copied name), its manifest rows (per-file stats, write-time
    ``schema_cols``) are kept with the paths rewritten, and its props
    keep the schema with its field ids, ``key``, ``stats_cols``,
    ``zorder_by`` and ``layout_files``. Constraints and other
    source-only props are not carried; ``extra_props`` rides the
    commit. Files are immutable, so the copy is already laid out: no
    Spark job, one CAS flip. A manifest path or delete dir outside
    ``src_root`` raises ``ValueError``; an initialized ``dst_root``
    raises ``CommitConflictError``. Returns the clone's version."""
    try:
        fl_current_version(dst_root)
    except FileNotFoundError:
        pass
    else:
        raise CommitConflictError(
            f"clone into {dst_root}: the table is already initialized"
        )
    props = fl_table_props(src_root, version)
    m = fl_manifest(src_root, version)
    dels = props.get("delete_dirs") or []
    src_abs = os.path.abspath(src_root)
    outside = [
        p
        for p in [*m["path"], *dels]
        if os.path.commonpath([src_abs, os.path.abspath(p)]) != src_abs
    ]
    if outside:
        raise ValueError(
            f"clone of {src_root} {version}: {outside[:3]} lie outside "
            f"the table root"
        )
    os.makedirs(os.path.join(dst_root, "data"), exist_ok=True)
    new_version = _claim_version(dst_root)
    cdir = _commit_dir(dst_root, new_version)
    os.makedirs(cdir)
    paths = []
    for p in m["path"]:
        # prefixed with the source commit dir: part names are unique
        # within a commit dir, not across them
        q = os.path.join(
            cdir,
            f"{os.path.basename(os.path.dirname(p))}_{os.path.basename(p)}",
        )
        shutil.copyfile(p, q)
        paths.append(q)
    new_dels = []
    for i, d in enumerate(dels):
        q = _delete_dir(dst_root, f"{new_version}_{i}")
        shutil.copytree(d, q)
        new_dels.append(q)
    new_props = {
        **{
            k: props[k]
            for k in ("key", "stats_cols", "zorder_by", "layout_files", "schema")
        },
        "delete_dirs": new_dels,
        **(extra_props or {}),
    }
    return _commit(
        dst_root, None, m.assign(path=paths), new_props,
        operation="clone", version=new_version,
    )


# ---------------------------------------------------------------------------
# schema evolution: add-column / rename-column by field id
# ---------------------------------------------------------------------------


def fl_add_column(
    spark: SparkSession, root: str, name: str, type_str: str
) -> str:
    """ADD COLUMN as a metadata-only commit: the new field takes a
    fresh field id in the table schema; NO data file is rewritten —
    readers backfill typed NULLs for files that predate the field
    (``_read_files``' id mapping). Subsequent writes (merge/compact)
    produce files that carry the column physically. Returns the new
    version name."""
    parent = fl_current_version(root)
    props = fl_table_props(root, parent)
    schema = props["schema"]
    if any(f["name"] == name for f in schema):
        raise ValueError(
            f"filelist table {root}: column {name!r} already exists"
        )
    new_field = {
        "id": max(f["id"] for f in schema) + 1,
        "name": name,
        "type": type_str,
    }
    # validate the type string the same way reads will consume it
    _parse_types(spark, [new_field])
    return _commit(
        root, parent, fl_manifest(root, parent),
        {**props, "schema": schema + [new_field]},
        operation="add_column",
    )


def fl_rename_column(
    spark: SparkSession, root: str, old: str, new: str
) -> str:
    """RENAME COLUMN as a metadata-only commit: the field keeps its
    id, only the current name changes — old files stay valid (their
    manifest rows record the write-time physical name; reads resolve
    by id). The table key, stats columns, Z-order spec and the
    manifest's min_/max_ stat headers are renamed in the same commit
    so targeting/pruning never look up a stale name; delete-key
    files need nothing (their single column binds positionally).
    Returns the new version name."""
    parent = fl_current_version(root)
    props = fl_table_props(root, parent)
    schema = props["schema"]
    if not any(f["name"] == old for f in schema):
        raise ValueError(f"filelist table {root}: no column {old!r}")
    if any(f["name"] == new for f in schema):
        raise ValueError(
            f"filelist table {root}: column {new!r} already exists"
        )
    import re as _re

    referencing = [
        n
        for n, sql in (props.get("constraints") or {}).items()
        if _re.search(rf"\b{_re.escape(old)}\b", sql)
    ]
    if referencing:
        raise ValueError(
            f"filelist table {root}: column {old!r} is referenced by "
            f"CHECK constraint(s) {referencing} — drop them first and "
            f"re-add under the new name"
        )
    def ren(c: str) -> str:
        return new if c == old else c

    new_props = {
        **props,
        "schema": [{**f, "name": ren(f["name"])} for f in schema],
        "key": ren(props["key"]),
        "stats_cols": [ren(c) for c in props["stats_cols"]],
        "zorder_by": [ren(c) for c in props.get("zorder_by") or []],
    }
    # an untracked column has no stat headers: rename skips them
    m = fl_manifest(root, parent).rename(
        columns={f"min_{old}": f"min_{new}", f"max_{old}": f"max_{new}"}
    )
    return _commit(root, parent, m, new_props, operation="rename_column")


# ---------------------------------------------------------------------------
# CDC read: change feed between two committed versions
# ---------------------------------------------------------------------------


def fl_skip_layout_only(root: str, from_version: str, to_version: str) -> str:
    """``from_version`` advanced over the layout-only commits
    (``data_change=False``) that follow it on the committed path to
    ``to_version``: the newest version of that path whose MOR state is
    provably ``from_version``'s. ``from_version`` itself when the next
    commit changes data, or when it is not an ancestor of
    ``to_version``. Walks parent pointers: O(commits between) props
    reads, no Spark job."""
    path: list[tuple[str, bool]] = []
    for v, props in _ancestry(root, to_version):
        if v == from_version:
            break
        path.append((v, props.get("data_change", True)))
    else:  # not an ancestor, or its ancestry was vacuumed
        return from_version
    for v, data_change in reversed(path):
        if data_change:
            break
        from_version = v
    return from_version


def fl_changes(
    spark: SparkSession,
    root: str,
    from_version: str,
    to_version: str | None = None,
) -> DataFrame:
    """Change feed: the minimal (op I/U/D, key, payload) log that
    turns the ``from_version`` snapshot into ``to_version`` (current
    by default) — the READ half of the epoch sink's write half, what
    an incremental consumer tails instead of re-diffing snapshots.

    Touched-files only, the whole point of the format: the two
    manifests are diffed driver-side (O(files) rows); rows are read
    ONLY from files present in exactly one version, plus the
    carried-over files a delete-set delta targets via the same
    broadcast key-zone range join MERGE uses. Both sides align to the
    TO-version schema by field id, so evolution between the versions
    is handled (added columns compare as NULLs on the old side). A
    file rewrite that changed nothing (compaction) contributes no
    rows — identical (key, payload) pairs cancel in the final
    classification (``cdc_extract``'s full-outer join).

    Net-diff semantics (what comparing two snapshots can know): D
    rows carry the key's FROM-version payload — an intermediate
    update that was itself deleted before ``to_version`` is invisible
    to the diff, exactly as in Delta's CDF when reading across the
    same range. U rows carry the new payload.

    Layout-only commits are free: ``from_version`` first advances
    over the ``data_change=False`` commits that follow it toward
    ``to_version`` (``fl_skip_layout_only``), so a compaction at the
    start of the range is never diffed file by file, and a range of
    nothing else — or ``from_version == to_version`` — returns the
    empty typed (op, key, payload) relation without reading a file
    or running a job.

    Scale shape: O(changed files + delete deltas) scan, one
    key-partitioned full-outer join of the two changed-region images;
    never O(table)."""
    if to_version is None:
        to_version = fl_current_version(root)
    from_version = fl_skip_layout_only(root, from_version, to_version)
    props_new = fl_table_props(root, to_version)
    key = props_new["key"]
    payload = [f["name"] for f in props_new["schema"] if f["name"] != key]
    if from_version == to_version:
        fields = {f["name"]: f for f in props_new["schema"]}
        return _empty_relation(
            spark,
            [{"name": "op", "type": "string"}]
            + [fields[c] for c in (key, *payload)],
        )
    props_old = fl_table_props(root, from_version)
    m_old = fl_manifest(root, from_version)
    m_new = fl_manifest(root, to_version)
    old_paths, new_paths = set(m_old["path"]), set(m_new["path"])
    removed = m_old[~m_old["path"].isin(new_paths)]
    added = m_new[~m_new["path"].isin(old_paths)]
    carried = m_new[m_new["path"].isin(old_paths)]

    old_dels = _delete_keys_df(spark, props_old, key)
    new_dels = _delete_keys_df(spark, props_new, key)

    old_side, new_side = (
        _minus_keys(_read_files(spark, files, props_new), dels, key)
        for files, dels in ((removed, old_dels), (added, new_dels))
    )

    def _set_minus(a: DataFrame | None, b: DataFrame | None):
        return None if a is None else _minus_keys(a.distinct(), b, key)

    # carried files never changed content; only delete-set deltas can
    # change what a reader sees in them — target just those files
    for delta, grow_old in (
        (_set_minus(new_dels, old_dels), True),   # newly deleted -> D
        (_set_minus(old_dels, new_dels), False),  # undeleted -> I
    ):
        if delta is None:
            continue
        touched, hits = _targeting_hits(spark, carried, key, delta)
        if hits is not None:
            touched |= {r["path"] for r in hits.collect()}
        if not touched:
            continue
        rows = _read_files(
            spark, carried[carried["path"].isin(touched)], props_new
        ).join(delta, key, "left_semi")
        if grow_old:
            old_side = old_side.unionByName(rows)
        else:
            new_side = new_side.unionByName(rows)

    return cdc_extract(old_side, new_side, key, tuple(payload))
