"""Warehouse-lifecycle operators as driver-gated catalog queries:
SCD2 upsert-with-history (the fix for the reference's
``to_sql(if_exists='replace')`` history loss,
check_and_create_db_v4.py:295) and small-file compaction (the fix
for its ``if_exists='append'`` fragmentation).

Both are deterministic end-to-end so they can carry DuckDB oracles:
q108 re-expresses the merge as set algebra in SQL; q109 proves the
compaction round-trip is lossless (content digest equality) and
emits the file-reduction claim as a self-oracled boolean.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from citybikedatawarehouse_spark.plans.catalog import register
from citybikedatawarehouse_spark.sources.readers import load_table as _t


def _scratch_dir(prefix: str) -> str:
    """A fresh temporary directory for a query's tables, removed at
    interpreter exit and not before: the DataFrame a query returns
    reads its tables lazily, when the caller collects it."""
    base = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    return base


@register(
    "q108_scd2_merge",
    oracle="""
    WITH cur AS (
      SELECT c_custkey, c_mktsegment, c_acctbal,
             TIMESTAMP '1995-01-01' AS valid_from,
             TIMESTAMP '9999-12-31 23:59:59' AS valid_to,
             TRUE AS is_current
      FROM customer
    ),
    upd AS (
      -- every third customer moves segment + balance; plus a batch of
      -- brand-new ids offset by 1,000,000
      SELECT c_custkey, 'MACHINERY' AS c_mktsegment,
             round(c_acctbal + 100.0, 2) AS c_acctbal,
             TIMESTAMP '1996-06-01' AS eff
      FROM customer WHERE c_custkey % 3 = 0
      UNION ALL
      SELECT c_custkey + 1000000, 'FURNITURE', 0.0::DOUBLE,
             TIMESTAMP '1996-06-01'
      FROM customer WHERE c_custkey % 100 = 0
    ),
    changed AS (
      SELECT c.c_custkey, c.c_mktsegment AS old_seg, c.c_acctbal AS old_bal,
             u.c_mktsegment, u.c_acctbal, u.eff, c.valid_from
      FROM cur c JOIN upd u USING (c_custkey)
      WHERE c.c_mktsegment IS DISTINCT FROM u.c_mktsegment
         OR c.c_acctbal   IS DISTINCT FROM u.c_acctbal
    )
    SELECT c_custkey, c_mktsegment, c_acctbal,
           CAST(valid_from AS VARCHAR) AS valid_from,
           CAST(valid_to AS VARCHAR) AS valid_to, is_current
    FROM cur WHERE c_custkey NOT IN (SELECT c_custkey FROM changed)
    UNION ALL  -- closed old versions
    SELECT c_custkey, old_seg, old_bal, CAST(valid_from AS VARCHAR),
           CAST(eff AS VARCHAR), FALSE FROM changed
    UNION ALL  -- opened new versions
    SELECT c_custkey, c_mktsegment, c_acctbal, CAST(eff AS VARCHAR),
           '9999-12-31 23:59:59', TRUE
    FROM changed
    UNION ALL  -- never-seen ids
    SELECT c_custkey, c_mktsegment, c_acctbal, CAST(eff AS VARCHAR),
           '9999-12-31 23:59:59', TRUE
    FROM upd WHERE c_custkey NOT IN (SELECT c_custkey FROM cur)
    """,
)
def q108_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 merge (operators/scd.py — anti-join + union emulation of
    MERGE INTO, one shuffle on the business key): bootstrap the
    customer dimension, apply one deterministic update batch
    (changed segment/balance for every third key + new ids), return
    the full versioned dimension. The oracle replays the same merge
    as set algebra."""
    from citybikedatawarehouse_spark.operators.scd import scd2_init, scd2_merge

    c = _t(spark, sf_dir, "customer")
    snapshot = c.select(
        "c_custkey", "c_mktsegment", "c_acctbal",
        F.lit("1995-01-01").cast("timestamp_ntz").alias("eff"),
    )
    dim = scd2_init(snapshot, key="c_custkey", effective_ts="eff")
    updates = (
        c.filter(F.col("c_custkey") % 3 == 0)
        .select(
            "c_custkey",
            F.lit("MACHINERY").alias("c_mktsegment"),
            F.round(F.col("c_acctbal") + 100.0, 2).alias("c_acctbal"),
            F.lit("1996-06-01").cast("timestamp_ntz").alias("eff"),
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 100 == 0).select(
                (F.col("c_custkey") + 1000000).alias("c_custkey"),
                F.lit("FURNITURE").alias("c_mktsegment"),
                F.lit(0.0).alias("c_acctbal"),
                F.lit("1996-06-01").cast("timestamp_ntz").alias("eff"),
            )
        )
    )
    merged = scd2_merge(
        dim, updates, key="c_custkey",
        attrs=["c_mktsegment", "c_acctbal"], effective_ts="eff",
    )
    # string-typed validity bounds: the 9999-12-31 open sentinel
    # overflows nanosecond timestamps in pandas-based comparators,
    # and ts->string renders identically in Spark and DuckDB
    return merged.select(
        "c_custkey", "c_mktsegment", "c_acctbal",
        F.col("valid_from").cast("string").alias("valid_from"),
        F.col("valid_to").cast("string").alias("valid_to"),
        "is_current",
    )


@register(
    "q109_compaction",
    oracle="""
    SELECT doc_id, md5(text) AS content_hash,
           TRUE AS files_reduced
    FROM documents
    """,
)
def q109_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction round-trip (``fl_compact``, the table
    format's OPTIMIZE): fragment the documents table into a 64-file
    file-list table, compact it into one file, and prove (a) content
    survives bit-exact (doc_id + md5(text) vs the source — the
    oracle) and (b) the file count actually dropped (self-oracled
    boolean from the two versions' manifests; exact counts are
    parallelism-dependent, the reduction claim is not)."""
    from citybikedatawarehouse_spark.operators.table_format import (
        fl_compact,
        fl_init,
        fl_manifest,
        fl_read,
    )

    d = _t(spark, sf_dir, "documents")
    root = _scratch_dir("cbdw_compact_") + "/documents"
    v_frag = fl_init(spark, root, d.repartition(64), key="doc_id")
    fl_compact(spark, root, layout_files=1)
    files_reduced = len(fl_manifest(root)) < len(fl_manifest(root, v_frag))
    return fl_read(spark, root).select(
        "doc_id",
        F.md5("text").alias("content_hash"),
        F.lit(files_reduced).alias("files_reduced"),
    )


def _zorder_oracle_sql(bits: int = 16) -> str:
    """DuckDB replay of the q77 Z-order key: same 1-row bounds agg,
    same exact-BIGINT bucket scaling ('div' == '//'), a 32-term
    shift/mask interleave (custkey owns even bit positions, epoch-day
    odd) — generated programmatically, one term per bit: an
    independent replay of what functions/layout.morton_interleave
    computes with its magic-bits spread."""
    top = (1 << bits) - 1
    terms = []
    for j in range(bits):
        terms.append(f"(((sx >> {j}) & 1) << {2 * j})")
        terms.append(f"(((sy >> {j}) & 1) << {2 * j + 1})")
    interleave = " | ".join(terms)
    return f"""
    WITH b AS (
      SELECT min(o_custkey) AS mnx, max(o_custkey) AS mxx,
             min(datediff('day', DATE '1970-01-01', o_orderdate)) AS mny,
             max(datediff('day', DATE '1970-01-01', o_orderdate)) AS mxy
      FROM orders
    ),
    scaled AS (
      SELECT o_orderkey,
             CASE WHEN mxx = mnx THEN 0
                  ELSE (CAST(o_custkey AS BIGINT) - mnx) * {top} // (mxx - mnx)
             END AS sx,
             CASE WHEN mxy = mny THEN 0
                  ELSE (datediff('day', DATE '1970-01-01', o_orderdate) - mny)
                       * {top} // (mxy - mny)
             END AS sy
      FROM orders CROSS JOIN b
    )
    SELECT o_orderkey, CAST({interleave} AS BIGINT) AS z_key
    FROM scaled
    """


@register("q77_zorder_key", oracle=_zorder_oracle_sql())
def q77_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout key over orders(o_custkey, o_orderdate): the
    write-side half of multi-dimensional file pruning. Sorting or
    range-partitioning the table by this key before writing keeps
    every parquet file's min/max box tight in BOTH dimensions, so
    scans filtering on customer OR date range skip most files — the
    Delta OPTIMIZE ZORDER BY / Iceberg sort-order trick, as a pure
    Catalyst integer expression (no UDF, no extra shuffle; the bounds
    pass is a 1-row aggregate broadcast back)."""
    from citybikedatawarehouse_spark.functions.layout import zorder_key

    o = _t(spark, sf_dir, "orders").withColumn(
        "__epoch_day", F.datediff("o_orderdate", F.lit("1970-01-01"))
    )
    return zorder_key(o, ["o_custkey", "__epoch_day"], bits=16).select(
        "o_orderkey", "z_key"
    )


@register(
    "q141_snapshot_diff",
    oracle="""
    WITH t1 AS (
      SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
      WHERE c_custkey % 10 <> 0
    ),
    t2 AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 7 = 0 THEN 'AUTOMOBILE'
                  ELSE c_mktsegment END AS c_mktsegment,
             c_acctbal
      FROM customer WHERE c_custkey % 11 <> 0
    ),
    d AS (
      SELECT coalesce(t1.c_custkey, t2.c_custkey) AS c_custkey,
             CASE
               WHEN t1.c_custkey IS NULL THEN 'added'
               WHEN t2.c_custkey IS NULL THEN 'removed'
               WHEN t1.c_mktsegment IS DISTINCT FROM t2.c_mktsegment
                 OR t1.c_acctbal IS DISTINCT FROM t2.c_acctbal
                 THEN 'changed'
               ELSE 'unchanged'
             END AS change
      FROM t1 FULL JOIN t2 ON t1.c_custkey = t2.c_custkey
    )
    SELECT change, count(*) AS n,
           CAST(min(c_custkey) AS BIGINT) AS min_key,
           CAST(max(c_custkey) AS BIGINT) AS max_key
    FROM d GROUP BY change
    """,
)
def q141_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-snapshot diff (the CDC primitive a plain-parquet
    warehouse lacks vs Delta's change data feed): classify every key
    across two snapshots as added / removed / changed / unchanged via
    ONE full-outer join with null-safe attribute comparison, and
    report per-class counts + key ranges. The two snapshots are
    deterministic filters/mutations of `customer` so the whole diff
    carries a DuckDB oracle.

    Scale shape: one key-partitioned full-outer join (both sides
    shuffle once on the key — co-partitioned or bucketed snapshots
    make it shuffle-free); the class is a per-row expression, the
    report a 4-row aggregate. eqNullSafe mirrors IS DISTINCT FROM."""
    c = _t(spark, sf_dir, "customer")
    t1 = c.filter(F.col("c_custkey") % 10 != 0).select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    t2 = c.filter(F.col("c_custkey") % 11 != 0).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 7 == 0, F.lit("AUTOMOBILE"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
        "c_acctbal",
    )
    a = t1.select(
        F.col("c_custkey"),
        F.struct("c_mktsegment", "c_acctbal").alias("__a"),
    )
    b = t2.select(
        F.col("c_custkey"),
        F.struct("c_mktsegment", "c_acctbal").alias("__b"),
    )
    d = a.join(b, "c_custkey", "full").select(
        "c_custkey",
        F.when(F.col("__a").isNull(), F.lit("added"))
        .when(F.col("__b").isNull(), F.lit("removed"))
        .when(~F.col("__a").eqNullSafe(F.col("__b")), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("change"),
    )
    return d.groupBy("change").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("c_custkey").cast("bigint").alias("min_key"),
        F.max("c_custkey").cast("bigint").alias("max_key"),
    )


@register(
    "q142_incremental_agg_merge",
    oracle="""
    SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS day,
           count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM orders GROUP BY 1
    """,
)
def q142_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate-view maintenance: the daily revenue
    rollup is maintained as (old materialized aggregate) MERGED with
    (the late-arriving delta batch's aggregate) — a full-outer
    coalesce-sum on the group key, never a rescan of the base data.
    Counts and integer-cent sums are algebraic (commutative
    monoids), so merged == recomputed-from-scratch, and the ORACLE
    IS THE FULL RECOMPUTATION — the hash gate literally proves the
    incremental path equals the batch path.

    The base/delta split (orders before/after the median date) is
    deterministic. Scale shape: the delta aggregate touches only
    delta rows; the merge shuffles two day-grained relations —
    O(days), not O(orders). This is the manual twin of what a
    streaming aggregation's state store does per epoch."""
    o = _t(spark, sf_dir, "orders")
    cents = F.sum(
        F.round(F.col("o_totalprice") * 100).cast("bigint")
    ).cast("bigint")
    split = "1997-01-01"
    base = o.filter(F.col("o_orderdate") < split)
    delta = o.filter(F.col("o_orderdate") >= split)
    day = F.date_format(F.to_date("o_orderdate"), "yyyy-MM-dd")
    old = base.groupBy(day.alias("day")).agg(
        F.count(F.lit(1)).alias("__n1"), cents.alias("__c1")
    )
    dagg = delta.groupBy(day.alias("day")).agg(
        F.count(F.lit(1)).alias("__n2"), cents.alias("__c2")
    )
    merged = old.join(dagg, "day", "full").select(
        "day",
        (
            F.coalesce("__n1", F.lit(0)) + F.coalesce("__n2", F.lit(0))
        ).alias("n_orders"),
        (
            F.coalesce("__c1", F.lit(0)) + F.coalesce("__c2", F.lit(0))
        ).cast("bigint").alias("cents"),
    )
    return merged


# ---------------------------------------------------------------------------
# q210 — join-key skew census (shuffle-planning diagnostics)
# ---------------------------------------------------------------------------

_SKEW_STAT_SQL = """
  SELECT '{tbl}' AS tbl, '{key}' AS key_col,
         CAST(sum(c) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS n_keys,
         CAST(max(c) AS BIGINT) AS max_rows_per_key,
         round(max(c) * 1.0 / sum(c), 6) AS top_key_share,
         round(quantile_cont(c, 0.5), 6) AS med_rows_per_key,
         round(quantile_cont(c, 0.99), 6) AS p99_rows_per_key,
         round(max(c) * count(*) * 1.0 / sum(c), 6) AS max_over_mean
  FROM (SELECT {key} AS k, count(*) AS c FROM {tbl} GROUP BY 1)
"""

_SKEW_KEYS = [
    ("lineitem", "l_orderkey"),
    ("lineitem", "l_partkey"),
    ("lineitem", "l_suppkey"),
    ("events", "user_id"),
]


@register(
    "q210_key_skew_census",
    oracle=" UNION ALL ".join(
        _SKEW_STAT_SQL.format(tbl=t, key=k) for t, k in _SKEW_KEYS
    ),
)
def q210_key_skew_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew census: for every hot join/aggregation key in
    the star schema (lineitem's order/part/supp keys, events'
    user_id), the per-key row-count distribution summarized as
    max-key share, median/p99 rows-per-key and max/mean ratio — the
    numbers that decide WHICH keys need the engine's salting
    (q106/q107), AQE skew-join splitting, or a broadcast instead of
    a shuffle. A warehouse runs this census before picking a
    partitioning, not after the straggler appears; it is the
    planning twin of operators/skew.py's runtime mitigations.

    Scale shape: each census is one map-side-combinable groupBy on a
    single column-pruned key column (the scan reads ONE int column),
    then percentile/extremes over the O(distinct keys) count relation
    into a 1-row summary — four independent single-key passes UNION
    into a 4-row report. Exact interpolated percentiles ride the
    q28-proven percentile == quantile_cont equivalence."""
    out = None
    for tbl, key in _SKEW_KEYS:
        c = (
            _t(spark, sf_dir, tbl)
            .groupBy(F.col(key).alias("k"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        s = c.agg(
            F.lit(tbl).alias("tbl"),
            F.lit(key).alias("key_col"),
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
        out = s if out is None else out.unionAll(s)
    return out


# ---------------------------------------------------------------------------
# q241 — GDPR right-to-be-forgotten cascade audit
# ---------------------------------------------------------------------------

@register(
    "q241_gdpr_cascade_audit",
    oracle="""
    WITH forget AS (
      SELECT c_custkey FROM customer
      WHERE ('0x' || substr(md5('forget:' || c_custkey), 1, 8))::BIGINT
              % 100 < 2
    ),
    del_orders AS (
      SELECT o.o_orderkey FROM orders o
      JOIN forget f ON f.c_custkey = o.o_custkey
    ),
    del_lineitems AS (
      SELECT l.l_orderkey, l.l_linenumber,
             CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                  AS BIGINT) AS cents
      FROM lineitem l JOIN del_orders d ON d.o_orderkey = l.l_orderkey
    ),
    orphans AS (
      SELECT count(*) AS n FROM lineitem l
      WHERE EXISTS (SELECT 1 FROM del_orders d
                    WHERE d.o_orderkey = l.l_orderkey)
        AND NOT EXISTS (SELECT 1 FROM del_lineitems x
                        WHERE x.l_orderkey = l.l_orderkey
                          AND x.l_linenumber = l.l_linenumber)
    )
    SELECT 'customer' AS entity,
           CAST((SELECT count(*) FROM forget) AS BIGINT) AS n_rows,
           CAST(0 AS BIGINT) AS revenue_cents_removed
    UNION ALL
    SELECT 'orders',
           CAST((SELECT count(*) FROM del_orders) AS BIGINT),
           CAST(0 AS BIGINT)
    UNION ALL
    SELECT 'lineitem',
           CAST((SELECT count(*) FROM del_lineitems) AS BIGINT),
           CAST((SELECT coalesce(sum(cents), 0) FROM del_lineitems)
                AS BIGINT)
    UNION ALL
    SELECT 'orphaned_lineitems',
           CAST((SELECT n FROM orphans) AS BIGINT),
           CAST(0 AS BIGINT)
    """,
)
def q241_gdpr_cascade_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten cascade audit: a deterministic ~2%
    erasure cohort (md5-keyed, no RNG — the same membership on every
    engine and rerun) traced through the FK graph: the customers
    themselves, their orders, their lineitems (with the revenue that
    disappears from every report), and the orphan check proving the
    cascade is closed (zero lineitems would lose their order but
    survive). The dry-run a warehouse runs BEFORE executing a GDPR
    batch — the reference's star schema (create_db_from_csv.py)
    has exactly this FK chain and no tooling for it.

    Scale shape: the cohort is a broadcast-sized fraction of the
    customer dim; both cascades are broadcast semi-joins onto the
    fact tables (one scan each); the orphan proof is an anti-join of
    two relations ALREADY restricted to the cohort's orders. Output
    is 4 rows. At 100 TB the same plan applies the deletes via
    file-targeted rewrites (fl_merge_upsert's MERGE shape)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    forget = c.where(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("forget:"), F.col("c_custkey").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 100
        < 2
    ).select("c_custkey")
    del_orders = o.join(
        F.broadcast(forget), o.o_custkey == forget.c_custkey
    ).select("o_orderkey")
    del_li = l.join(
        F.broadcast(del_orders), l.l_orderkey == del_orders.o_orderkey
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
        .cast("bigint")
        .alias("cents"),
    )
    orphans = (
        l.join(F.broadcast(del_orders), l.l_orderkey == del_orders.o_orderkey, "left_semi")
        .join(
            F.broadcast(
                del_li.select(
                    F.col("l_orderkey").alias("xo"),
                    F.col("l_linenumber").alias("xl"),
                )
            ),
            (l.l_orderkey == F.col("xo")) & (l.l_linenumber == F.col("xl")),
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    r1 = forget.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("customer").alias("entity"),
        F.col("n").cast("bigint").alias("n_rows"),
        F.lit(0).cast("bigint").alias("revenue_cents_removed"),
    )
    r2 = del_orders.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("orders").alias("entity"),
        F.col("n").cast("bigint").alias("n_rows"),
        F.lit(0).cast("bigint").alias("revenue_cents_removed"),
    )
    r3 = del_li.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("cents"), F.lit(0)).alias("cents"),
    ).select(
        F.lit("lineitem").alias("entity"),
        F.col("n").cast("bigint").alias("n_rows"),
        F.col("cents").cast("bigint").alias("revenue_cents_removed"),
    )
    r4 = orphans.select(
        F.lit("orphaned_lineitems").alias("entity"),
        F.col("n").cast("bigint").alias("n_rows"),
        F.lit(0).cast("bigint").alias("revenue_cents_removed"),
    )
    return r1.unionAll(r2).unionAll(r3).unionAll(r4)


# ---------------------------------------------------------------------------
# q255 — ANALYZE-style column statistics collection
# ---------------------------------------------------------------------------

_STATS_COLS = [
    ("orders", "o_custkey"),
    ("orders", "o_totalprice"),
    ("orders", "o_orderstatus"),
    ("lineitem", "l_partkey"),
    ("lineitem", "l_quantity"),
    ("lineitem", "l_returnflag"),
]


@register(
    "q255_column_stats",
    oracle=" UNION ALL ".join(
        f"""
    SELECT '{t}' AS tbl, '{c}' AS col,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT {c}) AS BIGINT) AS ndv,
           CAST(min({c}) AS VARCHAR) AS min_val,
           CAST(max({c}) AS VARCHAR) AS max_val
    FROM {t}"""
        for t, c in _STATS_COLS
    ),
)
def q255_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS, as a query:
    per column — row count, null count, exact NDV, min and max
    (stringified for a uniform schema) — the statistics a cost-based
    optimizer prices joins and filters with, and the freshness check
    a warehouse runs before trusting its CBO. The reference has no
    statistics story at all; Spark's own ANALYZE writes these to the
    catalog — this emits them as data so they can be diffed across
    snapshots (q141's shape).

    Scale shape: one scan per table computes ALL its columns' stats
    in a single aggregate (count/min/max are trivially combinable;
    exact NDV is the one shuffle-bearing term — at 100 TB swap it
    for the HLL register sketch (q244) per column, same plan shape);
    output is |columns| rows."""
    out = None
    by_table: dict[str, list] = {}
    for t, c in _STATS_COLS:
        by_table.setdefault(t, []).append(c)
    for t, cols in by_table.items():
        df = _t(spark, sf_dir, t)
        for c in cols:
            row = df.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                (F.count(F.lit(1)) - F.count(c)).cast("bigint").alias("n_nulls"),
                F.countDistinct(c).cast("bigint").alias("ndv"),
                F.min(c).cast("string").alias("min_val"),
                F.max(c).cast("string").alias("max_val"),
            ).select(
                F.lit(t).alias("tbl"), F.lit(c).alias("col"),
                "n_rows", "n_nulls", "ndv", "min_val", "max_val",
            )
            out = row if out is None else out.unionAll(row)
    return out


# ---------------------------------------------------------------------------
# q256 — functional-dependency audit (key discovery)
# ---------------------------------------------------------------------------

_FD_CANDIDATES = [
    ("orders", "o_orderkey", "o_custkey"),      # holds: key -> attribute
    ("orders", "o_custkey", "o_orderstatus"),   # violated: many orders/cust
    ("lineitem", "l_orderkey", "l_suppkey"),    # violated: multi-supplier
    ("lineitem", "l_partkey", "l_returnflag"),  # violated
    ("nation", "n_nationkey", "n_regionkey"),   # holds
]


@register(
    "q256_fd_audit",
    oracle=" UNION ALL ".join(
        f"""
    SELECT '{t}' AS tbl, '{a} -> {b}' AS fd,
           CAST(count(*) AS BIGINT) AS n_lhs_values,
           CAST(sum(CASE WHEN ndv_b > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating_lhs,
           CASE WHEN sum(CASE WHEN ndv_b > 1 THEN 1 ELSE 0 END) = 0
                THEN 1 ELSE 0 END AS holds
    FROM (SELECT {a}, count(DISTINCT {b}) AS ndv_b FROM {t} GROUP BY {a})"""
        for t, a, b in _FD_CANDIDATES
    ),
)
def q256_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit: for each candidate A -> B, count
    the left-hand values that map to MORE than one right-hand value
    — zero violators means the dependency holds (key/attribute
    discovery, the profiling step behind normalization decisions,
    surrogate-key candidates (q40), and CDC key validation (q252
    assumes its key IS a key)). Candidates cover both held
    (order -> customer, nation -> region) and violated dependencies
    so the audit never reads vacuously.

    Scale shape: one groupBy per candidate on its LHS (map-side
    combinable count-distinct), reduced to a 1-row verdict; |cands|
    rows out. At 100 TB run all candidates of one table in a single
    grouping-sets pass."""
    out = None
    for t, a, b in _FD_CANDIDATES:
        df = _t(spark, sf_dir, t)
        per = df.groupBy(a).agg(F.countDistinct(b).alias("ndv_b"))
        row = per.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lhs_values"),
            F.sum(F.when(F.col("ndv_b") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_violating_lhs"),
        ).select(
            F.lit(t).alias("tbl"),
            F.lit(f"{a} -> {b}").alias("fd"),
            "n_lhs_values",
            "n_violating_lhs",
            F.when(F.col("n_violating_lhs") == 0, 1).otherwise(0).alias("holds"),
        )
        out = row if out is None else out.unionAll(row)
    return out


# ---------------------------------------------------------------------------
# q257 — sample-based join-cardinality estimate vs actual
# ---------------------------------------------------------------------------

_JS_PCT = 10  # percent sampled on each side


@register(
    "q257_joinsize_estimate",
    oracle=f"""
    WITH ls AS (
      SELECT l_orderkey FROM lineitem
      WHERE ('0x' || substr(md5('js_l:' || l_orderkey || ':'
                                || l_linenumber), 1, 8))::BIGINT
              % 100 < {_JS_PCT}
    ),
    os AS (
      SELECT o_orderkey FROM orders
      WHERE ('0x' || substr(md5('js_o:' || o_orderkey), 1, 8))::BIGINT
              % 100 < {_JS_PCT}
    ),
    est AS (
      SELECT CAST(count(*) AS BIGINT) AS n_sample_join
      FROM ls JOIN os ON os.o_orderkey = ls.l_orderkey
    ),
    act AS (
      SELECT CAST(count(*) AS BIGINT) AS n_actual
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT e.n_sample_join,
           CAST(e.n_sample_join * 100 AS BIGINT) AS n_estimated,
           a.n_actual,
           round((e.n_sample_join * 100 - a.n_actual) * 1.0
                 / a.n_actual, 6) AS rel_error
    FROM est e CROSS JOIN act a
    """,
)
def q257_joinsize_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-based join-cardinality estimation audited against the
    true join size: independent md5-deterministic 10%
    Bernoulli samples of both sides join, and the count scales by
    1/(f_l * f_o) = 100 — the estimator a cost-based optimizer (or a
    capacity planner sizing a 100 TB join's shuffle) uses when
    statistics are stale, here with its measured relative error.

    Determinism: sample membership is md5-ticked (the lineitem tick
    keys on (orderkey, linenumber) so line items of one order sample
    independently); counts are integers; one division at the end.

    Scale shape: the estimate path joins two 10% samples
    (1% of the full join work); the audit's actual-count join is
    the expensive truth run a production estimator skips — which is
    the point of having measured its error here."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    ls = l.where(
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("js_l:"),
                            F.col("l_orderkey").cast("string"),
                            F.lit(":"),
                            F.col("l_linenumber").cast("string"),
                        )
                    ),
                    1, 8,
                ), 16, 10,
            ).cast("long") % 100
        ) < _JS_PCT
    ).select("l_orderkey")
    os_ = o.where(
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("js_o:"), F.col("o_orderkey").cast("string"))),
                    1, 8,
                ), 16, 10,
            ).cast("long") % 100
        ) < _JS_PCT
    ).select("o_orderkey")
    est = ls.join(os_, ls.l_orderkey == os_.o_orderkey).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sample_join")
    )
    act = l.join(o, l.l_orderkey == o.o_orderkey).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_actual")
    )
    return est.crossJoin(F.broadcast(act)).select(
        "n_sample_join",
        (F.col("n_sample_join") * 100).cast("bigint").alias("n_estimated"),
        "n_actual",
        F.round(
            (F.col("n_sample_join") * 100 - F.col("n_actual")) * 1.0
            / F.col("n_actual"),
            6,
        ).alias("rel_error"),
    )


# ---------------------------------------------------------------------------
# q264 — incremental JOIN-view maintenance (delta-join algebra)
# ---------------------------------------------------------------------------

@register(
    "q264_ivm_join_view",
    oracle="""
    SELECT o_custkey,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def q264_ivm_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN-aggregate view — the
    delta-join algebra q142 stops short of: for V = gamma(A join B),
    an insert batch updates the view with

        dV = gamma( dA join B  UNION ALL  A join dB  UNION ALL
                    dA join dB )

    merged into V_old by SUM (counts and integer-cent sums are
    commutative monoids). Here A = orders (delta: every 7th
    orderkey, "late orders"), B = lineitem (delta: line numbers
    >= 4, "late line items"), and the view is per-customer joined
    item count + revenue cents. THE ORACLE IS THE FULL
    RECOMPUTATION over (A union dA) join (B union dB) — the hash
    gate literally proves the three-term delta algebra equals the
    batch join, the classic IVM correctness condition (Blakeley et
    al.'s counting algorithm, insert-only case; deletes negate the
    counts — same monoid).

    Scale shape: the base-base join is the PRE-EXISTING materialized
    view (O(customers) rows, read not recomputed at refresh time);
    each refresh joins delta-sized relations against the other
    side's base — at 100 TB that is two delta-broadcast joins plus a
    delta-delta join, never a base-base rescan — and the final merge
    shuffles two customer-grained aggregates. A wrong-by-one term
    (the classic bug: forgetting dA join dB, which double-counts or
    drops rows that are new on BOTH sides) hash-mismatches the
    oracle."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * 100)
        .cast("bigint")
        .alias("__cents"),
    )
    o_base = o.filter(F.col("o_orderkey") % 7 != 0)
    o_delta = o.filter(F.col("o_orderkey") % 7 == 0)
    l_base = l.filter(F.col("l_linenumber") < 4)
    l_delta = l.filter(F.col("l_linenumber") >= 4)

    def gamma(df: DataFrame, n: str, c: str) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias(n), F.sum("__cents").alias(c)
        )

    def j(a: DataFrame, b: DataFrame) -> DataFrame:
        return a.join(b, a.o_orderkey == b.l_orderkey).select(
            "o_custkey", "__cents"
        )

    v_old = gamma(j(o_base, l_base), "__n1", "__c1")
    dv = gamma(
        j(o_delta, l_base)
        .unionByName(j(o_base, l_delta))
        .unionByName(j(o_delta, l_delta)),
        "__n2",
        "__c2",
    )
    return v_old.join(dv, "o_custkey", "full").select(
        "o_custkey",
        (F.coalesce("__n1", F.lit(0)) + F.coalesce("__n2", F.lit(0)))
        .cast("bigint")
        .alias("n_items"),
        (F.coalesce("__c1", F.lit(0)) + F.coalesce("__c2", F.lit(0)))
        .cast("bigint")
        .alias("cents"),
    )


# ---------------------------------------------------------------------------
# q266 — CDC extraction (snapshot diff -> minimal I/U/D log census)
# ---------------------------------------------------------------------------

@register(
    "q266_cdc_extract",
    oracle="""
    WITH old AS (
      SELECT o_orderkey AS k, o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % 7 <> 0
    ),
    new AS (
      SELECT o_orderkey AS k, o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT)
               + CASE WHEN o_orderkey % 3 = 0
                      THEN CAST(round(o_totalprice * 10) AS BIGINT)
                      ELSE 0 END AS cents
      FROM orders WHERE o_orderkey % 5 <> 0
    ),
    log AS (
      SELECT CASE WHEN o.k IS NULL THEN 'I'
                  WHEN n.k IS NULL THEN 'D'
                  WHEN o.o_custkey IS DISTINCT FROM n.o_custkey
                       OR o.cents IS DISTINCT FROM n.cents THEN 'U'
             END AS op,
             coalesce(n.cents, o.cents) AS cents
      FROM old o FULL OUTER JOIN new n ON n.k = o.k
    )
    SELECT op, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS cents_sum
    FROM log WHERE op IS NOT NULL GROUP BY op
    """,
)
def q266_cdc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC EXTRACTION census — the inverse of q252's apply, closing
    the CDC loop (extract a minimal I/U/D log from two snapshots;
    ``apply(extract(old, new), old) == new`` is asserted as a law in
    tests/test_maintenance_and_stream_joins.py). Snapshots are
    deterministic order slices: old = keys % 7 != 0 at base price,
    new = keys % 5 != 0 with +10% price where key % 3 == 0 — so all
    three op classes are populated and rows identical in both
    snapshots produce NO log row (minimality: the oracle's
    unchanged-row class is absent from both engines' outputs).

    Scale shape: one full-outer key join (co-located and
    shuffle-free on bucketed-by-key snapshots); output is O(changed
    rows). The census is what a lakehouse writer records per
    commit."""
    from citybikedatawarehouse_spark.operators.maintenance import cdc_extract

    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    old = o.where(F.col("o_orderkey") % 7 != 0).select(
        F.col("o_orderkey").alias("k"), "o_custkey", cents.alias("cents")
    )
    new = o.where(F.col("o_orderkey") % 5 != 0).select(
        F.col("o_orderkey").alias("k"),
        "o_custkey",
        (
            cents
            + F.when(
                F.col("o_orderkey") % 3 == 0,
                F.round(F.col("o_totalprice") * 10).cast("bigint"),
            ).otherwise(F.lit(0))
        ).alias("cents"),
    )
    log = cdc_extract(old, new, "k", ("o_custkey", "cents"))
    return log.groupBy("op").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("cents_sum"),
    )


# ---------------------------------------------------------------------------
# q268 — k-anonymity audit over quasi-identifiers
# ---------------------------------------------------------------------------

_KANON_K = 5


@register(
    "q268_k_anonymity",
    oracle=f"""
    WITH qi AS (
      SELECT c_nationkey,
             c_mktsegment,
             CAST(floor(c_acctbal / 1000) AS INTEGER) AS bal_band,
             count(*) AS group_n
      FROM customer
      GROUP BY 1, 2, 3
    )
    SELECT c_nationkey, c_mktsegment, bal_band,
           CAST(group_n AS BIGINT) AS group_n
    FROM qi WHERE group_n < {_KANON_K}
    """,
)
def q268_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit: group the customer table by its
    quasi-identifier combination (nation, market segment, account-
    balance band) and report every equivalence class smaller than
    k={k} — the classes whose members a release would re-identify
    (Sweeney 2002). Complements q132's direct-identifier scrub and
    q241's deletion-cascade audit: those handle PII columns, this
    measures linkage risk in the NON-identifying columns that
    survive scrubbing.

    The balance band is a fixed-width floor(bal/1000) bucket, not an
    ntile — deciles need a global sort and make each row's bucket
    depend on every other row, while a fixed grid is an O(1) map-side
    expression with the same audit power.

    Scale shape: one map-side-combinable groupBy on the QI tuple
    (cardinality = |nations| x |segments| x |bands|, a few thousand
    cells regardless of row count) and a filter on the tiny result —
    the full-table scan is the only O(n) stage. The violating-class
    list is what a privacy gate suppresses or generalizes before
    publishing.
    """
    c = _t(spark, sf_dir, "customer")
    qi = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("int").alias("bal_band"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("group_n"))
    return qi.where(F.col("group_n") < _KANON_K)


# plain docstring + post-def substitution (q216/q220/q224 pattern):
# an inline '"""...""".format(...)' expression would leave __doc__
# None because the first statement is no longer a string literal
q268_k_anonymity.__doc__ = q268_k_anonymity.__doc__.format(k=_KANON_K)


# ---------------------------------------------------------------------------
# q270 — merkle-style bucket-digest snapshot diff
# ---------------------------------------------------------------------------

_DIGEST_BUCKETS = 64


@register(
    "q270_bucket_digest_diff",
    oracle=f"""
    WITH snap_a AS (
      SELECT o_orderkey AS k, o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    snap_b AS (
      SELECT k, o_custkey,
             cents + CASE WHEN k % 97 = 0 THEN 100 ELSE 0 END AS cents
      FROM snap_a WHERE k % 101 <> 1
    ),
    dig_a AS (
      SELECT k % {_DIGEST_BUCKETS} AS bucket,
             CAST(count(*) AS BIGINT) AS n_a,
             CAST(bit_xor(('0x' || substr(md5(
               coalesce(md5(k::VARCHAR), 'NULL')
               || coalesce(md5(o_custkey::VARCHAR), 'NULL')
               || coalesce(md5(cents::VARCHAR), 'NULL')), 1, 15))::BIGINT)
               AS BIGINT) AS digest_a
      FROM snap_a GROUP BY 1
    ),
    dig_b AS (
      SELECT k % {_DIGEST_BUCKETS} AS bucket,
             CAST(count(*) AS BIGINT) AS n_b,
             CAST(bit_xor(('0x' || substr(md5(
               coalesce(md5(k::VARCHAR), 'NULL')
               || coalesce(md5(o_custkey::VARCHAR), 'NULL')
               || coalesce(md5(cents::VARCHAR), 'NULL')), 1, 15))::BIGINT)
               AS BIGINT) AS digest_b
      FROM snap_b GROUP BY 1
    )
    SELECT coalesce(a.bucket, b.bucket) AS bucket,
           CAST(coalesce(a.n_a, 0) AS BIGINT) AS n_a,
           CAST(coalesce(b.n_b, 0) AS BIGINT) AS n_b,
           CAST(coalesce(b.n_b, 0) - coalesce(a.n_a, 0) AS BIGINT)
             AS row_delta
    FROM dig_a a FULL OUTER JOIN dig_b b ON b.bucket = a.bucket
    WHERE a.bucket IS NULL OR b.bucket IS NULL
       OR a.digest_a <> b.digest_b OR a.n_a <> b.n_b
    """,
)
def q270_bucket_digest_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-style snapshot reconciliation: hash every row to a
    60-bit digest, XOR-fold digests per key-range bucket (XOR is
    order-insensitive, mergeable, and cannot overflow, so the bucket
    digest shuffles {b} tiny rows per snapshot no matter how large
    the table), and
    report only the buckets whose digests disagree — the anti-entropy
    pattern replicated stores use (Dynamo/Cassandra merkle repair)
    and the SCALE path in front of q266's row-level CDC extract: at
    100 TB you diff {b} digest rows first, then run the full-outer
    row join ONLY inside the few differing buckets instead of across
    both whole snapshots.

    Snapshot B derives deterministically from A (keys % 101 == 1
    deleted, prices +1.00 where key % 97 == 0) so both engines build
    identical inputs. The row hash takes the first 15 hex chars of
    md5 (60 bits — fits a signed BIGINT exactly the same way in both
    engines; 16 would need unsigned 64-bit semantics DuckDB and Spark
    disagree on). XOR (not SUM) folding: a SUM of 60-bit values
    overflows int64 after ~8 rows; XOR's one blind spot — an even
    number of IDENTICAL rows cancelling — cannot occur here because
    the key participates in every row hash.

    Scale shape: two scans, each folding into a {b}-row partial
    aggregate map-side (the ONLY shuffle is {b} rows per snapshot),
    one {b}-row FULL OUTER join on bucket id — symmetric, so buckets
    populated only in A (pure deletes) AND only in B (pure inserts)
    both flag; a one-directional left join would miss the latter.
    Collision risk of the 60-bit xor-digest is the standard merkle
    trade-off and is why row_delta rides along as a second,
    independent signal.
    """
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    snap_a = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey"),
        cents.alias("cents"),
    )
    snap_b = snap_a.where(F.col("k") % 101 != 1).select(
        "k",
        "o_custkey",
        (
            F.col("cents")
            + F.when(F.col("k") % 97 == 0, F.lit(100)).otherwise(F.lit(0))
        ).alias("cents"),
    )

    from citybikedatawarehouse_spark.operators.maintenance import (
        bucket_digest,
    )

    a = bucket_digest(
        snap_a, "k", ("o_custkey", "cents"), _DIGEST_BUCKETS, "n_a", "digest_a"
    )
    b = bucket_digest(
        snap_b, "k", ("o_custkey", "cents"), _DIGEST_BUCKETS, "n_b", "digest_b"
    )
    # full outer, not left: a bucket populated only in B (pure
    # inserts into a bucket empty in A) must flag too. Both sides are
    # n_buckets rows, so the join is trivially small either way.
    diff = a.join(b, "bucket", "full_outer").where(
        F.col("n_a").isNull()
        | F.col("n_b").isNull()
        | (F.col("digest_a") != F.col("digest_b"))
        | (F.col("n_a") != F.col("n_b"))
    )
    return diff.select(
        "bucket",
        F.coalesce("n_a", F.lit(0)).cast("bigint").alias("n_a"),
        F.coalesce("n_b", F.lit(0)).cast("bigint").alias("n_b"),
        (F.coalesce("n_b", F.lit(0)) - F.coalesce("n_a", F.lit(0)))
        .cast("bigint")
        .alias("row_delta"),
    )


q270_bucket_digest_diff.__doc__ = q270_bucket_digest_diff.__doc__.format(
    b=_DIGEST_BUCKETS
)


# ---------------------------------------------------------------------------
# q272 — custom Python data source scan (Spark 4 pluggable source API)
# ---------------------------------------------------------------------------

_PYSOURCE_ROWS = 20000


@register(
    "q272_pysource_scan",
    oracle=f"""
    WITH g AS (
      SELECT i, md5('q272:' || i) AS h
      FROM generate_series(0, {_PYSOURCE_ROWS - 1}) t(i)
    ), r AS (
      SELECT CASE (('0x' || substr(h, 1, 1))::INTEGER % 4)
               WHEN 0 THEN 'view' WHEN 1 THEN 'cart'
               WHEN 2 THEN 'buy' ELSE 'return' END AS etype,
             ('0x' || substr(h, 2, 8))::BIGINT % 100000 AS amount_cents
      FROM g
    )
    SELECT etype,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(amount_cents) AS BIGINT) AS cents_sum,
           CAST(min(amount_cents) AS BIGINT) AS cents_min,
           CAST(max(amount_cents) AS BIGINT) AS cents_max
    FROM r GROUP BY etype
    """,
)
def q272_pysource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan through a CUSTOM PYTHON DATA SOURCE (Spark 4
    ``pyspark.sql.datasource`` API, sources/pysource.py): the
    deterministic synthetic event generator is registered on the
    session and read like any format —
    ``spark.read.format("synthetic_events")`` — then aggregated.
    The oracle replays the generation rule (md5 of 'seed:i') in pure
    SQL over generate_series, so the hash gate proves the Python
    source yields EXACTLY its contract rows: the extensibility path
    for JVM-connector-less systems, verified end to end.

    Scale shape: the source splits the row range into independent
    partitions generated inside their tasks and ships Arrow
    RecordBatches (columnar, 4096-row chunks) across the
    Python->JVM boundary; the aggregate is one map-side-combinable
    groupBy on a 4-value key. sf_dir is unused — the source IS the
    data."""
    from citybikedatawarehouse_spark.sources.pysource import (
        register_synthetic_source,
    )

    register_synthetic_source(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("rows", _PYSOURCE_ROWS)
        .option("parts", 8)
        .option("seed", "q272")
        .load()
    )
    return df.groupBy("etype").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("amount_cents").cast("bigint").alias("cents_sum"),
        F.min("amount_cents").cast("bigint").alias("cents_min"),
        F.max("amount_cents").cast("bigint").alias("cents_max"),
    )


# ---------------------------------------------------------------------------
# q273 — point-in-time (PIT) fact lookup against SCD2 validity ranges
# ---------------------------------------------------------------------------

_PIT_EFF = "1998-01-01"


@register(
    "q273_scd2_pit_lookup",
    oracle=f"""
    WITH dim AS (
      -- closed form of scd2_init + one scd2_merge batch: every third
      -- customer re-segments to MACHINERY at the effective date (the
      -- balance also moves, so ALL %3 keys version), everyone else
      -- keeps one open version
      SELECT c_custkey, c_mktsegment AS seg,
             TIMESTAMP '1995-01-01' AS vf,
             CASE WHEN c_custkey % 3 = 0 THEN TIMESTAMP '{_PIT_EFF}'
                  ELSE TIMESTAMP '9999-12-31 23:59:59' END AS vt
      FROM customer
      UNION ALL
      SELECT c_custkey, 'MACHINERY', TIMESTAMP '{_PIT_EFF}',
             TIMESTAMP '9999-12-31 23:59:59'
      FROM customer WHERE c_custkey % 3 = 0
    )
    SELECT d.seg AS c_mktsegment,
           CAST(year(o.o_orderdate) AS INTEGER) AS y,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o JOIN dim d ON d.c_custkey = o.o_custkey
      AND o.o_orderdate >= d.vf AND o.o_orderdate < d.vt
    GROUP BY 1, 2
    """,
)
def q273_scd2_pit_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time fact attribution against an SCD2 dimension —
    the READ side of q108's merge (which only builds the versioned
    dim): every order joins the customer version that was valid ON
    ITS ORDER DATE, so revenue attributes to the segment the
    customer belonged to AT PURCHASE TIME, not the current one. The
    canonical "as-was" warehouse query; getting it wrong (joining
    is_current) silently rewrites history, which is why it deserves
    its own oracle row.

    The dim is built through the real operators (scd2_init +
    scd2_merge), then the PIT lookup is an EQUI-join on the business
    key with the validity-range predicate as a post-join filter —
    NOT an interval join: versions per key are few (<= 2 here,
    bounded by update batches in general), so the key join's fan-out
    is tiny and Catalyst keeps it a plain shuffled/broadcast hash
    join; a general range join would shuffle on range buckets for
    no benefit. The oracle states the merged dim in closed form, so
    the hash gate proves init + merge + PIT read end to end.

    Scale shape: dim is customer-sized (broadcast at test scale, key
    co-partitioned at 100 TB); one fact-side shuffle on the key, one
    map-side-combinable rollup on (segment, year).
    """
    from citybikedatawarehouse_spark.operators.scd import scd2_init, scd2_merge

    c = _t(spark, sf_dir, "customer")
    snapshot = c.select(
        "c_custkey", "c_mktsegment", "c_acctbal",
        F.lit("1995-01-01").cast("timestamp_ntz").alias("eff"),
    )
    dim = scd2_init(snapshot, key="c_custkey", effective_ts="eff")
    updates = c.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey",
        F.lit("MACHINERY").alias("c_mktsegment"),
        F.round(F.col("c_acctbal") + 100.0, 2).alias("c_acctbal"),
        F.lit(_PIT_EFF).cast("timestamp_ntz").alias("eff"),
    )
    merged = scd2_merge(
        dim, updates, key="c_custkey",
        attrs=["c_mktsegment", "c_acctbal"], effective_ts="eff",
    )
    o = _t(spark, sf_dir, "orders")
    pit = o.join(
        F.broadcast(
            merged.select("c_custkey", "c_mktsegment", "valid_from", "valid_to")
        ),
        (F.col("o_custkey") == F.col("c_custkey"))
        & (F.col("o_orderdate") >= F.col("valid_from"))
        & (F.col("o_orderdate") < F.col("valid_to")),
    )
    return pit.groupBy(
        "c_mktsegment", F.year("o_orderdate").cast("int").alias("y")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# q278 — zone-map file pruning (read-side data skipping, audited)
# ---------------------------------------------------------------------------

_ZM_LO = "1997-01-01"
_ZM_HI = "1997-03-31"


@register(
    "q278_zonemap_prune",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT)   AS n_orders,
           round(sum(o_totalprice), 2) AS revenue,
           TRUE AS matches_full_scan,
           TRUE AS files_skipped
    FROM orders
    WHERE CAST(o_orderdate AS DATE)
          BETWEEN DATE '{_ZM_LO}' AND DATE '{_ZM_HI}'
    GROUP BY 1
    """,
)
def q278_zonemap_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map data skipping, end to end: lay orders out by date
    (repartitionByRange keeps each file's o_orderdate min/max box
    tight — q77's Z-order key is the multi-column generalisation),
    commit them as a file-list table whose manifest records each
    file's o_orderdate zone from the parquet footers
    (operators/table_format.fl_init with ``stats_cols``), answer a
    one-quarter revenue query through ``fl_read_pruned`` — reading
    ONLY the files whose zone intersects the quarter — and AUDIT the
    shortcut: matches_full_scan compares the pruned answer to the
    unpruned one group by group, files_skipped asserts the prune
    actually dropped files. This is the mechanism that turns a
    100 TB scan into a ~1-partition read for time-windowed queries —
    parquet row-group stats / Delta-Iceberg file stats, with the
    contract (skip only what is PROVEN disjoint) testable here.

    Scale shape: the stats are O(files) manifest rows written at
    commit time from footers, with no scan; the pruned read opens
    only intersecting files — at a 16-file layout over 7 years, a
    quarter touches 1-2. The audit's full scan exists only to prove
    equality at test scale; production reads the pruned side alone."""
    from citybikedatawarehouse_spark.operators.table_format import (
        fl_init,
        fl_read_pruned,
    )

    o = _t(spark, sf_dir, "orders")
    base = _scratch_dir("cbdw_zonemap_")
    root = base + "/orders_by_date"
    fl_init(
        spark,
        root,
        o.repartitionByRange(16, "o_orderdate"),
        key="o_orderkey",
        stats_cols=("o_orderdate",),
    )
    import datetime as _dt

    lo = _dt.datetime.fromisoformat(_ZM_LO)
    hi = _dt.datetime.fromisoformat(_ZM_HI + " 23:59:59")
    pruned_df, n_read, n_total = fl_read_pruned(
        spark, root, {"o_orderdate": (lo, hi)}
    )

    in_range = F.col("o_orderdate").between(
        F.lit(_ZM_LO).cast("timestamp_ntz"),
        F.lit(_ZM_HI + " 23:59:59").cast("timestamp_ntz"),
    )

    def _agg(df: DataFrame, n_col: str, rev_col: str) -> DataFrame:
        return (
            df.where(in_range)
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias(n_col),
                F.round(F.sum("o_totalprice"), 2).alias(rev_col),
            )
        )

    pruned = _agg(pruned_df, "n_orders", "revenue")
    full = _agg(o, "n_full", "rev_full")
    return (
        pruned.join(full, "o_orderpriority", "full")
        .select(
            "o_orderpriority",
            "n_orders",
            "revenue",
            (
                F.col("n_orders").eqNullSafe(F.col("n_full"))
                & F.col("revenue").eqNullSafe(F.col("rev_full"))
            ).alias("matches_full_scan"),
            F.lit(n_read < n_total).alias("files_skipped"),
        )
    )


# ---------------------------------------------------------------------------
# q280 — time travel: VERSION AS OF reads over the manifest table
# ---------------------------------------------------------------------------


@register(
    "q280_time_travel",
    oracle="""
    WITH v1 AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 10 = 0
    ),
    upd AS (
      SELECT o_orderkey, o_custkey, o_totalprice + 1.0 AS o_totalprice,
             'R' AS o_orderstatus
      FROM orders WHERE o_orderkey % 100 = 0
    ),
    ins AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 10 = 5
    ),
    v2 AS (
      SELECT * FROM v1 WHERE o_orderkey % 100 <> 0
      UNION ALL SELECT * FROM upd
      UNION ALL SELECT * FROM ins
    )
    SELECT 'v1' AS version, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(o_orderkey) AS BIGINT) AS key_checksum,
           round(sum(o_totalprice), 2) AS revenue,
           CAST(sum(CASE WHEN o_orderstatus = 'R' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_r_status
    FROM v1
    UNION ALL
    SELECT 'v2', CAST(count(*) AS BIGINT), CAST(sum(o_orderkey) AS BIGINT),
           round(sum(o_totalprice), 2),
           CAST(sum(CASE WHEN o_orderstatus = 'R' THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM v2
    """,
)
def q280_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over the file-list table: init a versioned table
    (v1 = every 10th order), MERGE a deterministic change set through
    the crash-consistent pointer-flip commit (updates bump price +1.0
    and flag status R on every 100th order; inserts add the %10=5
    cohort), then read BOTH versions with ``fl_read(version=...)`` —
    the VERSION AS OF path, v1 pinned by name and v2 resolved from
    the pointer — and summarize each. The oracle reconstructs both
    snapshots relationally, so the parity check proves the committed
    history IS the algebra it claims to be: old versions are
    immutable, unaffected by later commits, and a reader pinned to v1
    sees pre-merge truth bit-for-bit.

    Scale shape: a version is a manifest over immutable, shared data
    files — snapshot reads need no locks at any table size; the merge
    rewrites only the files whose key zones the change set touches,
    then flips the pointer. History cost is bounded by ``fl_vacuum``
    retention (reference-counted, so shared files survive).

    Cites: operators/table_format.py fl_init / fl_merge_upsert /
    fl_read (crash matrix in tests/test_maintenance_and_stream_joins.py
    and tests/test_table_format_filelist.py).
    """
    from citybikedatawarehouse_spark.operators.table_format import (
        fl_current_version,
        fl_init,
        fl_merge_upsert,
        fl_read,
    )

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    base = _scratch_dir("cbdw_timetravel_")
    root = base + "/orders_versioned"
    v1_name = fl_init(
        spark, root, o.where(F.col("o_orderkey") % 10 == 0), key="o_orderkey"
    )
    updates = o.where(F.col("o_orderkey") % 100 == 0).select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") + F.lit(1.0)).alias("o_totalprice"),
        F.lit("R").alias("o_orderstatus"),
    )
    inserts = o.where(F.col("o_orderkey") % 10 == 5)
    fl_merge_upsert(
        spark, root, updates.unionByName(inserts), key="o_orderkey"
    )
    # v2 resolved from the COMMITTED pointer, not fl_versions()[-1]:
    # the listing can legally contain an orphan manifest from a
    # crashed concurrent writer, and the crash contract this query's
    # docstring cites is "readers only ever follow the pointer"
    v2_name = fl_current_version(root)

    def _summary(df: DataFrame, label: str) -> DataFrame:
        return df.agg(
            F.lit(label).alias("version"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("o_orderkey").cast("bigint").alias("key_checksum"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.sum((F.col("o_orderstatus") == "R").cast("int"))
            .cast("bigint")
            .alias("n_r_status"),
        ).select(
            "version", "n_rows", "key_checksum", "revenue", "n_r_status"
        )

    v1 = fl_read(spark, root, v1_name)
    v2 = fl_read(spark, root, v2_name)
    return _summary(v1, "v1").unionByName(_summary(v2, "v2"))


# ---------------------------------------------------------------------------
# q281 — Z-order layout + multi-column zone-map pruning (2-D skipping)
# ---------------------------------------------------------------------------

_ZM2_CK_LO, _ZM2_CK_HI = 1, 150
_ZM2_DT_LO, _ZM2_DT_HI = "1997-01-01", "1997-03-31"


@register(
    "q281_zorder_zonemap_prune",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT)   AS n_orders,
           round(sum(o_totalprice), 2) AS revenue,
           TRUE AS matches_full_scan,
           TRUE AS files_skipped
    FROM orders
    WHERE o_custkey BETWEEN {_ZM2_CK_LO} AND {_ZM2_CK_HI}
      AND CAST(o_orderdate AS DATE)
          BETWEEN DATE '{_ZM2_DT_LO}' AND DATE '{_ZM2_DT_HI}'
    GROUP BY 1
    """,
)
def q281_zorder_zonemap_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full multi-dimensional data-skipping round trip: write
    orders range-partitioned by the q77 Z-ORDER key over (custkey,
    order day) — so every file's min/max box is tight in BOTH
    dimensions — commit them as a file-list table tracking both
    columns' zones, then answer a two-predicate query (customer range
    AND date quarter) through ``fl_read_pruned``, which reads only
    the files whose zone intersects BOTH ranges. A 1-D date layout
    (q278) cannot skip on customer; the Morton interleave buys
    pruning on either predicate, or both, from ONE layout — Delta
    OPTIMIZE ZORDER BY + file stats. Audited like q278:
    matches_full_scan proves losslessness group by group;
    files_skipped proves the prune engaged.

    Scale shape: layout write is the one-off OPTIMIZE cost; the zones
    are O(files) manifest rows read from the footers at commit time
    (every later commit records its own files' zones); the pruned
    read opens only box-intersecting files. At a 16-file z-layout, a
    quarter x 1/10th-customer-range box touches a corner of the
    curve, not a stripe.

    Cites: functions/layout.zorder_key (q77 write side);
    operators/table_format.fl_init / fl_read_pruned.
    """
    from citybikedatawarehouse_spark.functions.layout import zorder_key
    from citybikedatawarehouse_spark.operators.table_format import (
        fl_init,
        fl_read_pruned,
    )

    o = _t(spark, sf_dir, "orders").withColumn(
        "__day",
        F.datediff(F.to_date("o_orderdate"), F.to_date(F.lit("1970-01-01"))),
    )
    base = _scratch_dir("cbdw_zorder_zm_")
    root = base + "/orders_zordered"
    fl_init(
        spark,
        root,
        zorder_key(o, ["o_custkey", "__day"])
        .repartitionByRange(16, "z_key")
        .drop("z_key", "__day"),
        key="o_orderkey",
        stats_cols=("o_custkey", "o_orderdate"),
    )
    import datetime as _dt

    dt_lo = _dt.datetime.fromisoformat(_ZM2_DT_LO)
    dt_hi = _dt.datetime.fromisoformat(_ZM2_DT_HI + " 23:59:59")
    pruned_df, n_read, n_total = fl_read_pruned(
        spark,
        root,
        {
            "o_custkey": (_ZM2_CK_LO, _ZM2_CK_HI),
            "o_orderdate": (dt_lo, dt_hi),
        },
    )

    pred = F.col("o_custkey").between(_ZM2_CK_LO, _ZM2_CK_HI) & F.col(
        "o_orderdate"
    ).between(
        F.lit(_ZM2_DT_LO).cast("timestamp_ntz"),
        F.lit(_ZM2_DT_HI + " 23:59:59").cast("timestamp_ntz"),
    )

    def _agg(df: DataFrame, n_col: str, rev_col: str) -> DataFrame:
        return (
            df.where(pred)
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias(n_col),
                F.round(F.sum("o_totalprice"), 2).alias(rev_col),
            )
        )

    pruned = _agg(pruned_df, "n_orders", "revenue")
    full = _agg(_t(spark, sf_dir, "orders"), "n_full", "rev_full")
    return (
        pruned.join(full, "o_orderpriority", "full")
        .select(
            "o_orderpriority",
            "n_orders",
            "revenue",
            (
                F.col("n_orders").eqNullSafe(F.col("n_full"))
                & F.col("revenue").eqNullSafe(F.col("rev_full"))
            ).alias("matches_full_scan"),
            F.lit(n_read < n_total).alias("files_skipped"),
        )
    )


# ---------------------------------------------------------------------------
# q283 — the unified table format: manifest commits + maintained Z-order
#         layout + transactional zone map + pruned reads, one API
# ---------------------------------------------------------------------------

_TF_CK_LO, _TF_CK_HI = 1, 300
_TF_DT_LO, _TF_DT_HI = "1996-01-01", "1996-06-30"


@register(
    "q283_manifest_pruned_read",
    oracle=f"""
    WITH v2 AS (
      SELECT o_orderkey, o_custkey, o_orderdate, o_orderpriority,
             CASE WHEN o_orderkey % 100 = 0
                  THEN o_totalprice + 1.0 ELSE o_totalprice END
               AS o_totalprice
      FROM orders
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT)    AS n_orders,
           round(sum(o_totalprice), 2) AS revenue,
           TRUE AS matches_full_scan,
           TRUE AS files_skipped
    FROM v2
    WHERE o_custkey BETWEEN {_TF_CK_LO} AND {_TF_CK_HI}
      AND CAST(o_orderdate AS DATE)
          BETWEEN DATE '{_TF_DT_LO}' AND DATE '{_TF_DT_HI}'
    GROUP BY 1
    """,
)
def q283_manifest_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q278 + q280 + q281 unified into ONE table format: a file-list
    table initialized with ``stats_cols`` + ``zorder_by`` gets, from
    every subsequent commit, (a) the Z-order clustering re-applied to
    the files the commit writes, (b) per-file zone stats recorded in
    the new version's manifest, and (c) table properties carried
    forward — all published by the single atomic pointer flip, so
    layout, stats and data can never desync (the crash matrix is
    tested in tests/test_round10_table_format.py).

    The query proves the contract end-to-end ON THE POST-MERGE
    version — the case the three round-9 demos could not express:
    init orders Z-ordered on (customer, order day), MERGE an update
    batch (every 100th order repriced) plus an insert batch (the held
    -out 10 % of keys), then answer a two-range predicate through
    ``fl_read_pruned`` and audit it group-by-group against the full
    scan (``fl_read``) of the same committed version. ``matches_full_scan``
    proves the prune lossless AFTER the merge re-clustered the data;
    ``files_skipped`` proves it still ENGAGES — i.e. the commit
    maintained the layout, not just the stats.

    Scale shape: the merge's extra cost over a plain commit is one
    Z-key range shuffle of the files it rewrites (the price of
    clustered-on-write); commit stats come from the new files'
    parquet footers; the pruned read opens only box-intersecting
    files of the CURRENT version with zero stats recomputation. This
    is the Delta/Iceberg read/write loop, dependency-free.

    Cites: operators/table_format.fl_init / fl_merge_upsert /
    fl_read_pruned; reference's append-only sink
    (create_db_from_csv.py) has no versioning/skipping story — this is
    the §2.4 warehouse-gap surface.
    """
    from citybikedatawarehouse_spark.operators.table_format import (
        fl_init,
        fl_merge_upsert,
        fl_read,
        fl_read_pruned,
    )

    day = F.datediff(
        F.to_date("o_orderdate"), F.to_date(F.lit("1970-01-01"))
    ).alias("o_orderday")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        "o_orderpriority",
        "o_totalprice",
        day,
    )
    base = _scratch_dir("cbdw_tableformat_")
    root = base + "/orders_tf"
    fl_init(
        spark,
        root,
        o.where(F.col("o_orderkey") % 10 != 5),
        key="o_orderkey",
        stats_cols=("o_custkey", "o_orderday"),
        zorder_by=("o_custkey", "o_orderday"),
        layout_files=16,
    )
    updates = o.where(F.col("o_orderkey") % 100 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(1.0)
    )
    inserts = o.where(F.col("o_orderkey") % 10 == 5)
    fl_merge_upsert(
        spark, root, updates.unionByName(inserts), key="o_orderkey"
    )

    import datetime as _dt

    day_lo = (_dt.date.fromisoformat(_TF_DT_LO) - _dt.date(1970, 1, 1)).days
    day_hi = (_dt.date.fromisoformat(_TF_DT_HI) - _dt.date(1970, 1, 1)).days
    pruned_df, n_read, n_total = fl_read_pruned(
        spark,
        root,
        {
            "o_custkey": (_TF_CK_LO, _TF_CK_HI),
            "o_orderday": (day_lo, day_hi),
        },
    )
    pred = (
        F.col("o_custkey").between(_TF_CK_LO, _TF_CK_HI)
        & F.col("o_orderday").between(F.lit(day_lo), F.lit(day_hi))
    )

    def _agg(df: DataFrame, n_col: str, rev_col: str) -> DataFrame:
        return (
            df.where(pred)
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias(n_col),
                F.round(F.sum("o_totalprice"), 2).alias(rev_col),
            )
        )

    pruned = _agg(pruned_df, "n_orders", "revenue")
    full = _agg(fl_read(spark, root), "n_full", "rev_full")
    return (
        pruned.join(full, "o_orderpriority", "full")
        .select(
            "o_orderpriority",
            "n_orders",
            "revenue",
            (
                F.col("n_orders").eqNullSafe(F.col("n_full"))
                & F.col("revenue").eqNullSafe(F.col("rev_full"))
            ).alias("matches_full_scan"),
            F.lit(n_read < n_total).alias("files_skipped"),
        )
    )


# ---------------------------------------------------------------------------
# q284 — streaming manifest sink, driver-gated: epoch replay of the
#         foreachBatch MERGE-commit loop with exactly-once proven by oracle
# ---------------------------------------------------------------------------


@register(
    "q284_stream_manifest_sink",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 10 = 0
    ),
    final AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 70 = 0 THEN o_totalprice + 3.0
                  WHEN o_orderkey % 50 = 0 THEN o_totalprice + 2.0
                  WHEN o_orderkey % 30 = 0 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS o_totalprice,
             CASE WHEN o_orderkey % 70 = 0 THEN 'E2'
                  WHEN o_orderkey % 50 = 0 THEN 'E1'
                  WHEN o_orderkey % 30 = 0 THEN 'E0'
                  ELSE o_orderstatus END AS o_orderstatus
      FROM base
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT)    AS n_rows,
           round(sum(o_totalprice), 2) AS revenue,
           CAST(2 AS BIGINT)           AS last_epoch
    FROM final
    GROUP BY 1
    """,
)
def q284_stream_manifest_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming manifest sink's full at-least-once matrix, run
    deterministically in batch (the repo's stream-equals-batch gate
    pattern) so the DRIVER can oracle it: three micro-batch epochs
    merge-commit into one file-list table through the EXACT production
    step (streaming/incremental.fl_epoch_step), with

    - a REPLAY of epoch 1 carrying POISONED rows (price +1000) — the
      exactly-once guard must skip it, and if it ever did not, the
      poison lands in the final aggregate and the DuckDB oracle
      catches it (idempotence is oracle-visible, not just asserted),
    - a CRASHED attempt of epoch 2 (kill between manifest write and
      pointer flip) — readers keep the epoch-1 table, then the
      retried epoch commits; a torn or double-applied state again
      breaks the oracle match.

    Later epochs override earlier ones per key (o_orderkey %30/%50/
    %70 update waves overlap at %150/%210/%350/%1050), which the
    oracle replays as a priority CASE. ``last_epoch`` is read from
    the committed table properties — proving the txnVersion rode the
    same commit as the data.

    Scale shape: each epoch rewrites only the files its keys touch,
    then flips the pointer (see table_format.fl_merge_upsert);
    exactly-once costs one tiny local props read per epoch, not a log
    scan.

    Cites: reference's append-only stream sink (create_db_from_csv.py
    ``if_exists='append'``) — no transactional or replay story; §2.4
    streaming-warehouse gap surface.
    """
    from citybikedatawarehouse_spark.operators.table_format import (
        fl_init,
        fl_read,
        fl_table_props,
    )
    from citybikedatawarehouse_spark.streaming.incremental import (
        fl_epoch_step,
    )

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    base = _scratch_dir("cbdw_streamsink_")
    root = base + "/orders_sink"
    fl_init(
        spark, root, o.where(F.col("o_orderkey") % 10 == 0), key="o_orderkey"
    )

    def _wave(mod: int, delta: float, tag: str) -> DataFrame:
        return o.where(F.col("o_orderkey") % mod == 0).select(
            "o_orderkey",
            "o_custkey",
            (F.col("o_totalprice") + F.lit(delta)).alias("o_totalprice"),
            F.lit(tag).alias("o_orderstatus"),
        )

    st0, *_ = fl_epoch_step(_wave(30, 1.0, "E0"), 0, root, "o_orderkey")
    st1, *_ = fl_epoch_step(_wave(50, 2.0, "E1"), 1, root, "o_orderkey")
    # poisoned replay of epoch 1: MUST be skipped — were it merged,
    # the +1000 prices would blow the oracle's revenue match
    st1r, *_ = fl_epoch_step(_wave(50, 1000.0, "XX"), 1, root, "o_orderkey")
    # epoch 2 crashes before the pointer flip, then is replayed
    try:
        fl_epoch_step(
            _wave(70, 3.0, "E2"), 2, root, "o_orderkey",
            _crash_before_commit=True,
        )
    except RuntimeError:
        pass
    st2, *_ = fl_epoch_step(_wave(70, 3.0, "E2"), 2, root, "o_orderkey")
    assert (st0, st1, st1r, st2) == (
        "committed", "committed", "skipped", "committed",
    ), (st0, st1, st1r, st2)

    last_epoch = int(fl_table_props(root)["last_epoch"])
    return (
        fl_read(spark, root)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .withColumn("last_epoch", F.lit(last_epoch).cast("bigint"))
    )


# ---------------------------------------------------------------------------
# q285 — file-list manifest MERGE: O(touched-files) upsert with shared
#         immutable files (operators/table_format.py, the Delta kernel shape)
# ---------------------------------------------------------------------------

_FL_K_LO, _FL_K_HI = 1000, 2000


@register(
    "q285_filelist_merge",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders
    ),
    mx AS (SELECT max(o_orderkey) AS mk FROM orders),
    v2 AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey BETWEEN {_FL_K_LO} AND {_FL_K_HI}
                  THEN o_totalprice + 1.0 ELSE o_totalprice END
               AS o_totalprice,
             CASE WHEN o_orderkey BETWEEN {_FL_K_LO} AND {_FL_K_HI}
                  THEN 'R' ELSE o_orderstatus END AS o_orderstatus
      FROM base
      UNION ALL
      SELECT b.o_orderkey + mx.mk + 1, b.o_custkey, b.o_totalprice, 'N'
      FROM base b, mx WHERE b.o_orderkey % 1000 = 0
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT)    AS n_rows,
           round(sum(o_totalprice), 2) AS revenue,
           TRUE AS files_rewritten_lt_total,
           TRUE AS untouched_shared,
           TRUE AS v1_immutable
    FROM v2
    GROUP BY 1
    """,
)
def q285_filelist_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB MERGE shape, a full-table rewrite avoided: a
    file-list manifest table (version = manifest of
    immutable shared data files with inline per-file stats) takes an
    upsert that touches a narrow key band plus append-only inserts,
    and rewrites ONLY the files whose key zone intersects the update
    keys — every other file carries into the new version by
    reference, and the pure inserts (keys beyond every zone) rewrite
    nothing.

    Audited group-by-group against the relational merge (the DuckDB
    oracle), plus three proven-TRUE flags the oracle pins:
    ``files_rewritten_lt_total`` (the targeting engaged — the table
    is range-clustered by the merge key, so the band hits a file
    corner, not the table), ``untouched_shared`` (v2's manifest
    names exactly the v1 files it did not rewrite — structural
    sharing, the reference-counted time-travel store), and
    ``v1_immutable`` (v1 re-reads bit-identically AFTER the commit).

    Scale shape: targeting is one broadcast range join of distinct
    update keys x O(files) manifest zones; the merge scans and
    shuffles O(touched files + updates); commit publishes one small
    manifest + pointer flip. Merge cost is proportional to what
    changed, not to the table — with the zone map and the manifest
    being the SAME artifact, so skipping and targeting cannot
    desync.

    Cites: operators/table_format.fl_init / fl_merge_upsert /
    fl_read (crash matrix + vacuum in
    tests/test_table_format_filelist.py); reference sink
    create_db_from_csv.py has no incremental story.
    """
    from citybikedatawarehouse_spark.operators.table_format import (
        fl_current_version,
        fl_init,
        fl_manifest,
        fl_merge_upsert,
        fl_read,
    )

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    base = _scratch_dir("cbdw_filelist_")
    root = base + "/orders_fl"
    fl_init(
        spark,
        root,
        o,
        key="o_orderkey",
        stats_cols=("o_custkey",),
        zorder_by=("o_orderkey",),
        layout_files=16,
    )
    v1 = fl_current_version(root)
    m1_paths = set(fl_manifest(root)["path"])
    v1_before = fl_read(spark, root).agg(
        F.count(F.lit(1)), F.round(F.sum("o_totalprice"), 2)
    ).collect()

    band = F.col("o_orderkey").between(_FL_K_LO, _FL_K_HI)
    updates = o.where(band).select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") + F.lit(1.0)).alias("o_totalprice"),
        F.lit("R").alias("o_orderstatus"),
    )
    max_k = o.agg(F.max("o_orderkey")).collect()[0][0]
    inserts = o.where(F.col("o_orderkey") % 1000 == 0).select(
        (F.col("o_orderkey") + F.lit(max_k + 1)).alias("o_orderkey"),
        "o_custkey",
        "o_totalprice",
        F.lit("N").alias("o_orderstatus"),
    )
    _, _, n_touch, n_total = fl_merge_upsert(
        spark, root, updates.unionByName(inserts), key="o_orderkey"
    )
    m2_paths = set(fl_manifest(root)["path"])
    shared_ok = len(m1_paths & m2_paths) == n_total - n_touch
    v1_after = fl_read(spark, root, v1).agg(
        F.count(F.lit(1)), F.round(F.sum("o_totalprice"), 2)
    ).collect()

    return (
        fl_read(spark, root)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .withColumn(
            "files_rewritten_lt_total", F.lit(0 < n_touch < n_total)
        )
        .withColumn("untouched_shared", F.lit(shared_ok))
        .withColumn("v1_immutable", F.lit(v1_after == v1_before))
    )


# ---------------------------------------------------------------------------
# q286 — merge-on-read DELETE + re-insert + compaction fold on the
#         file-list table (Iceberg-v2 delete-vector shape)
# ---------------------------------------------------------------------------


@register(
    "q286_filelist_delete_mor",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders
    ),
    final AS (
      SELECT o_orderkey, o_custkey, o_totalprice,
             CASE WHEN o_orderkey % 100 = 3 THEN 'B'
                  ELSE o_orderstatus END AS o_orderstatus
      FROM base
      WHERE o_orderkey % 10 <> 3 OR o_orderkey % 100 = 3
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT)    AS n_rows,
           round(sum(o_totalprice), 2) AS revenue,
           TRUE AS delete_rewrote_nothing,
           TRUE AS reinsert_unhidden,
           TRUE AS compact_folded
    FROM final
    GROUP BY 1
    """,
)
def q286_filelist_delete_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE on the file-list table — the op where
    copy-on-write is at its worst: deleting every key ending in 3
    (scattered across EVERY file) would force a full-table rewrite;
    here it commits as one tiny delete-set sidecar and the manifest
    carries every data file by reference (``delete_rewrote_nothing``
    pins that the v2 file list is byte-identical to v1's). Readers
    anti-join the set out (``fl_read_mor``).

    Then the two lifecycle interactions the naive design gets wrong,
    both oracle-visible:

    - **re-insert**: a MERGE upserting a subset of the deleted keys
      (%100 == 3, status 'B') must REMOVE those keys from the delete
      set in the same commit — a stale entry would silently hide the
      re-inserted rows, and the oracle's row counts would catch it
      (``reinsert_unhidden``);
    - **compaction fold**: ``fl_compact`` rewrites the merge-on-read
      state into a fresh clustered layout with an EMPTY delete set —
      same relational content before and after (compared group by
      group on the engine side, pinned TRUE as ``compact_folded``),
      deletes now physical, read-side anti-join gone.

    Scale shape: delete = one EXECUTOR-parallel write of the batch's
    distinct keys (r11: never driver-materialized), zero data I/O;
    reads pay one AQE-planned anti-join (broadcast while the set is
    small, shuffled once it is not) until compaction amortizes it
    away; compaction is the one full rewrite, scheduled by the
    table, not forced by the delete pattern.

    Cites: operators/table_format.fl_delete / fl_read_mor /
    fl_compact; reference has no DELETE path at all (append/replace
    only, create_db_from_csv.py).
    """
    from citybikedatawarehouse_spark.operators.table_format import (
        fl_compact,
        fl_delete,
        fl_delete_keys,
        fl_init,
        fl_manifest,
        fl_merge_upsert,
        fl_read_mor,
    )

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    base = _scratch_dir("cbdw_flmor_")
    root = base + "/orders_mor"
    fl_init(
        spark, root, o, key="o_orderkey",
        zorder_by=("o_orderkey",), layout_files=16,
    )
    m1_paths = set(fl_manifest(root)["path"])

    # scattered delete: every key ending in 3 — zero files rewritten
    fl_delete(spark, root, o.where(F.col("o_orderkey") % 10 == 3))
    delete_rewrote_nothing = set(fl_manifest(root)["path"]) == m1_paths

    # re-insert a subset of the deleted keys via MERGE
    reinserts = o.where(F.col("o_orderkey") % 100 == 3).select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.lit("B").alias("o_orderstatus"),
    )
    fl_merge_upsert(spark, root, reinserts, key="o_orderkey")
    remaining = set(fl_delete_keys(spark, root)["o_orderkey"])
    reinsert_unhidden = not (
        remaining & {r["o_orderkey"] for r in reinserts.collect()}
    )

    def _agg(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )

    def _exact(df: DataFrame) -> set:
        # the fold audit compares EXACT integer cents + key checksum,
        # not the rounded double sum: at 100x (15M rows) double
        # summation order differs between the anti-join plan and the
        # compacted files and can flip the 2nd decimal — measured; the
        # data itself is bit-identical (counts and key sums agree)
        return {
            tuple(r)
            for r in df.groupBy("o_orderstatus").agg(
                F.count(F.lit(1)).cast("bigint"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")),
                F.sum("o_orderkey").cast("bigint"),
            ).collect()
        }

    before = _exact(fl_read_mor(spark, root))
    fl_compact(spark, root)
    assert len(fl_delete_keys(spark, root)) == 0
    after_df = _agg(fl_read_mor(spark, root))
    compact_folded = _exact(fl_read_mor(spark, root)) == before

    return (
        after_df.withColumn(
            "delete_rewrote_nothing", F.lit(delete_rewrote_nothing)
        )
        .withColumn("reinsert_unhidden", F.lit(reinsert_unhidden))
        .withColumn("compact_folded", F.lit(compact_folded))
    )


# ---------------------------------------------------------------------------
# q287 — schema evolution by field id on the file-list table: add +
#         rename without rewriting a single data file
# ---------------------------------------------------------------------------


@register(
    "q287_schema_evolution",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS p FROM orders
    ),
    mx AS (SELECT max(k) AS mk FROM base),
    v AS (
      SELECT k,
             CASE WHEN k BETWEEN 1000 AND 2000 THEN p + 1.0 ELSE p END
               AS price,
             CASE WHEN k BETWEEN 1000 AND 2000 THEN 'gold' ELSE NULL END
               AS tier
      FROM base
      UNION ALL
      SELECT b.k + mx.mk + 1, b.p, 'new'
      FROM base b, mx WHERE b.k % 500 = 0
    )
    SELECT coalesce(tier, 'none')   AS tier,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(price), 2)     AS revenue,
           CAST(sum(k) AS BIGINT)   AS key_checksum,
           TRUE AS add_metadata_only,
           TRUE AS rename_metadata_only,
           TRUE AS mixed_schemas
    FROM v
    GROUP BY 1
    """,
)
def q287_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on the file-list table, the Iceberg field-id
    rule: ADD COLUMN and RENAME COLUMN are metadata-only commits —
    the table schema maps every column to an immutable field id, each
    manifest row records its file's write-time (id -> physical name)
    map, and readers resolve by id — so files written before the
    evolution are NEVER rewritten and never misread.

    The lifecycle under audit: init (k, totalprice) -> add column
    ``o_tier`` -> MERGE that writes the column physically (updates
    the 1000-2000 key band to 'gold', inserts 'new' rows past the
    key range) -> rename ``o_totalprice``->``price`` AND the TABLE
    KEY ``o_orderkey``->``order_id``. The final read unions two
    write-time schemas: pre-evolution files backfill tier as typed
    NULL and serve ``price``/``order_id`` from their old physical
    names; post-merge files carry everything natively. The DuckDB
    oracle replays the same relational content; three pinned flags
    prove the evolution mechanics: ``add_metadata_only`` /
    ``rename_metadata_only`` (the manifest's file list is
    byte-identical across both evolution commits) and
    ``mixed_schemas`` (the final manifest really does carry >= 2
    distinct write-time schemas — the union path executed).

    Scale shape: evolution commits touch O(files) manifest rows and
    zero data bytes — the only sane ALTER TABLE on a 100 TB table;
    reads group files by write-time schema (a handful of groups) and
    stay one pruned scan per group.

    Cites: operators/table_format.fl_add_column / fl_rename_column /
    _read_files; the reference's replace-sink (create_db_from_csv.py)
    re-creates the whole table to change a column.
    """
    from citybikedatawarehouse_spark.operators.table_format import (
        fl_add_column,
        fl_init,
        fl_manifest,
        fl_merge_upsert,
        fl_read,
        fl_rename_column,
    )

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    base = _scratch_dir("cbdw_flevo_")
    root = base + "/orders_evo"
    fl_init(
        spark, root, o, key="o_orderkey",
        zorder_by=("o_orderkey",), layout_files=8,
    )
    paths_v1 = set(fl_manifest(root)["path"])

    fl_add_column(spark, root, "o_tier", "string")
    add_metadata_only = set(fl_manifest(root)["path"]) == paths_v1

    # a KEY-LOCAL update band: the Z-ordered layout keeps it inside a
    # file corner, so pre-evolution files survive the merge and the
    # final read really unions two write-time schemas
    updates = o.where(F.col("o_orderkey").between(1000, 2000)).select(
        "o_orderkey",
        (F.col("o_totalprice") + F.lit(1.0)).alias("o_totalprice"),
        F.lit("gold").alias("o_tier"),
    )
    max_k = o.agg(F.max("o_orderkey")).collect()[0][0]
    inserts = o.where(F.col("o_orderkey") % 500 == 0).select(
        (F.col("o_orderkey") + F.lit(max_k + 1)).alias("o_orderkey"),
        "o_totalprice",
        F.lit("new").alias("o_tier"),
    )
    fl_merge_upsert(
        spark, root, updates.unionByName(inserts), key="o_orderkey"
    )

    paths_v3 = set(fl_manifest(root)["path"])
    fl_rename_column(spark, root, "o_totalprice", "price")
    fl_rename_column(spark, root, "o_orderkey", "order_id")
    rename_metadata_only = set(fl_manifest(root)["path"]) == paths_v3
    mixed = fl_manifest(root)["schema_cols"].nunique() >= 2

    return (
        fl_read(spark, root)
        .groupBy(F.coalesce(F.col("o_tier"), F.lit("none")).alias("tier"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.round(F.sum("price"), 2).alias("revenue"),
            F.sum("order_id").cast("bigint").alias("key_checksum"),
        )
        .withColumn("add_metadata_only", F.lit(add_metadata_only))
        .withColumn("rename_metadata_only", F.lit(rename_metadata_only))
        .withColumn("mixed_schemas", F.lit(bool(mixed)))
    )


# ---------------------------------------------------------------------------
# q288 — CDC change feed between file-list versions: minimal I/U/D
#         from touched files only
# ---------------------------------------------------------------------------


@register(
    "q288_fl_changes",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, o_custkey, o_totalprice, o_orderstatus
      FROM orders
    ),
    mx AS (SELECT max(k) AS mk FROM base),
    ins AS (
      SELECT b.k + mx.mk + 1 AS k, b.o_custkey, b.o_totalprice
      FROM base b, mx WHERE b.k % 1000 = 0
    ),
    changes AS (
      SELECT 'U' AS op, k, o_totalprice + 1.0 AS price
      FROM base WHERE k BETWEEN 1000 AND 2000 AND k % 10 <> 7
      UNION ALL
      SELECT 'I', k, o_totalprice FROM ins WHERE k % 10 <> 7
      UNION ALL
      SELECT 'D', k, o_totalprice FROM base WHERE k % 10 = 7
    )
    SELECT op,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(k) AS BIGINT)   AS key_checksum,
           round(sum(price), 2)     AS price_sum,
           TRUE AS compaction_feed_empty
    FROM changes
    GROUP BY 1
    """,
)
def q288_fl_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change feed off the file-list table: ``fl_changes(v1, v3)``
    emits the MINIMAL (op I/U/D, key, payload) log that turns the v1
    snapshot into v3 — the read half of the epoch sink's write half,
    what an incremental consumer tails instead of re-diffing
    snapshots (Delta's table_changes / Iceberg's changelog scan).

    History under audit: v1 = init; v2 = MERGE (band 1000-2000 gets
    price+1 + status 'R', %1000 keys re-inserted past the key range);
    v3 = merge-on-read DELETE of every %10==7 key. The oracle pins
    the exact minimal log: band keys surviving the delete are U with
    the NEW payload; inserts surviving are I; every v1 %10==7 key is
    D carrying its LAST-BEFORE-DELETE payload — and a key that was
    updated in v2 then deleted in v3 nets to ONE D (v1 payload),
    while an inserted-then-deleted key nets to NOTHING. The engine
    also pins ``compaction_feed_empty``: a pure fl_compact commit
    (every file rewritten, no row changed) yields a ZERO-row feed,
    because identical (key, payload) pairs cancel in the full-outer
    classification.

    Scale shape: manifests diff driver-side (O(files) rows); rows are
    read only from files present in exactly one version plus the
    carried files a delete-delta's key-zone range join targets; one
    key-partitioned full-outer join of the two changed-region images.
    Never O(table) — the compaction case is the exception by
    construction and is exactly why a consumer should read the FEED,
    not re-diff snapshots.

    Cites: operators/table_format.fl_changes + maintenance.cdc_extract
    (q266's snapshot diff, now file-pruned); reference has no change
    capture at all (append/replace sink, create_db_from_csv.py).
    """
    from citybikedatawarehouse_spark.operators.table_format import (
        fl_changes,
        fl_compact,
        fl_current_version,
        fl_delete,
        fl_init,
        fl_merge_upsert,
        fl_read,
    )

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    base = _scratch_dir("cbdw_flcdc_")
    root = base + "/orders_cdc"
    fl_init(
        spark, root, o, key="o_orderkey",
        zorder_by=("o_orderkey",), layout_files=16,
    )
    v1 = fl_current_version(root)

    band = F.col("o_orderkey").between(1000, 2000)
    updates = o.where(band).select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") + F.lit(1.0)).alias("o_totalprice"),
        F.lit("R").alias("o_orderstatus"),
    )
    max_k = o.agg(F.max("o_orderkey")).collect()[0][0]
    inserts = o.where(F.col("o_orderkey") % 1000 == 0).select(
        (F.col("o_orderkey") + F.lit(max_k + 1)).alias("o_orderkey"),
        "o_custkey",
        "o_totalprice",
        F.lit("N").alias("o_orderstatus"),
    )
    fl_merge_upsert(
        spark, root, updates.unionByName(inserts), key="o_orderkey"
    )
    doomed = fl_read(spark, root).where(F.col("o_orderkey") % 10 == 7)
    _, v3 = fl_delete(spark, root, doomed)

    feed = fl_changes(spark, root, v1, v3)

    # a pure compaction commit must produce an EMPTY feed
    fl_compact(spark, root)
    compaction_feed_empty = (
        fl_changes(spark, root, v3).limit(1).count() == 0
    )

    return feed.groupBy("op").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("o_orderkey").cast("bigint").alias("key_checksum"),
        F.round(F.sum("o_totalprice"), 2).alias("price_sum"),
    ).withColumn("compaction_feed_empty", F.lit(compaction_feed_empty))


# ---------------------------------------------------------------------------
# q289 — RESTORE (rollback-as-commit) on the file-list table
# ---------------------------------------------------------------------------


@register(
    "q289_fl_restore",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT)    AS n_rows,
           round(sum(o_totalprice), 2) AS revenue,
           TRUE AS restore_metadata_only,
           TRUE AS undone_version_travelable
    FROM orders
    GROUP BY 1
    """,
)
def q289_fl_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE on the file-list table: after a bad-deploy pair of
    commits (a band update then a scattered merge-on-read delete),
    ``fl_restore(v1)`` rolls the table back to its initial state AS A
    NEW COMMIT — history is never rewritten (Delta RESTORE
    semantics), so the rollback itself is auditable and the undone
    versions stay time-travelable until vacuum.

    The oracle is simply the base relation: a correct restore makes
    the final read bit-equal to the pre-incident table, group by
    group. Two pinned flags prove the mechanics:
    ``restore_metadata_only`` — the restored version's manifest names
    EXACTLY v1's data files (files are immutable and shared, so
    rolling back a 100 TB table writes one manifest + one pointer
    flip, zero data bytes) — and ``undone_version_travelable`` — the
    rolled-back v2 state (update applied, deletes hidden) still reads
    correctly by version, because RESTORE adds history instead of
    erasing it.

    Scale shape: O(files) manifest copy on the driver, one CAS flip;
    the delete-set state of the restored version rides the same
    commit (restoring TO a version with live deletes re-applies
    exactly that version's set).

    Cites: operators/table_format.fl_restore; reference has no
    versioning at all (if_exists='replace' destroys history,
    create_db_from_csv.py).
    """
    from citybikedatawarehouse_spark.operators.table_format import (
        fl_current_version,
        fl_delete,
        fl_init,
        fl_manifest,
        fl_merge_upsert,
        fl_read,
        fl_read_mor,
        fl_restore,
    )

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    base = _scratch_dir("cbdw_flrestore_")
    root = base + "/orders_restore"
    fl_init(
        spark, root, o, key="o_orderkey",
        zorder_by=("o_orderkey",), layout_files=16,
    )
    v1 = fl_current_version(root)
    m1_paths = set(fl_manifest(root)["path"])

    # the "bad deploy": a band update commit, then a scattered delete
    updates = o.where(F.col("o_orderkey").between(1000, 2000)).select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") + F.lit(9.0)).alias("o_totalprice"),
        F.lit("X").alias("o_orderstatus"),
    )
    fl_merge_upsert(spark, root, updates, key="o_orderkey")
    v2 = fl_current_version(root)
    fl_delete(spark, root, o.where(F.col("o_orderkey") % 10 == 3))
    v3 = fl_current_version(root)

    fl_restore(spark, root, v1)
    restore_metadata_only = set(fl_manifest(root)["path"]) == m1_paths

    # the undone state (v3: update applied + deletes hidden) still
    # time-travels correctly
    n_v3 = fl_read_mor(spark, root, v3).count()
    n_expect_v3 = o.where(F.col("o_orderkey") % 10 != 3).count()
    undone_travelable = (
        n_v3 == n_expect_v3
        and fl_read(spark, root, v2)
        .where(F.col("o_orderstatus") == "X")
        .count()
        == updates.count()
    )

    return (
        fl_read_mor(spark, root)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .withColumn(
            "restore_metadata_only", F.lit(restore_metadata_only)
        )
        .withColumn(
            "undone_version_travelable", F.lit(undone_travelable)
        )
    )


# ---------------------------------------------------------------------------
# q290 — incremental OPTIMIZE: bin-pack ONLY small files
# ---------------------------------------------------------------------------


@register(
    "q290_fl_optimize",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, o_custkey, o_totalprice, o_orderstatus
      FROM orders
    ),
    mx AS (SELECT max(k) AS mk FROM base),
    v AS (
      SELECT k, o_totalprice, o_orderstatus FROM base
      UNION ALL
      SELECT b.k + (t.e + 1) * (mx.mk + 1), b.o_totalprice, 'N'
      FROM base b, mx, UNNEST(range(0, 5)) t(e)
      WHERE b.k % 1000 = t.e
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT)    AS n_rows,
           round(sum(o_totalprice), 2) AS revenue,
           TRUE AS only_small_rewritten,
           TRUE AS file_count_reduced
    FROM v
    GROUP BY 1
    """,
)
def q290_fl_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental OPTIMIZE on the file-list table: five streaming-
    shaped micro-commits (pure appends past the key range — each
    writes ONE small file and rewrites nothing) fragment the table;
    ``fl_optimize`` then bin-packs ONLY the small files back into the
    clustered layout, carrying every large file by reference.

    This is the piece that makes the format operable at 100 TB:
    ``fl_compact`` rewrites the whole table (its job is folding the
    delete set), but a table fed by a streaming epoch sink
    fragments CONTINUOUSLY and can only afford an O(small files)
    defragmenter behind the sink. OPTIMIZE is purely a layout
    commit — rows move, never change — so the DuckDB oracle (base +
    the five insert waves) pins content identity group by group, and
    two flags pin the mechanics: ``only_small_rewritten`` (the
    original large files' paths survive INTO the optimized manifest —
    structural sharing proves they were never rewritten) and
    ``file_count_reduced`` (the five epoch files packed into fewer).

    Scale shape: one scan of the small-file subset, one range
    shuffle into the committed Z-order spec, one CAS flip; the large
    majority of the table contributes zero I/O.

    Cites: operators/table_format.fl_optimize; Delta OPTIMIZE /
    Iceberg rewrite_data_files are this operation — the reference
    (append-only to_sql, create_db_from_csv.py) fragments forever.
    """
    from citybikedatawarehouse_spark.operators.table_format import (
        fl_init,
        fl_manifest,
        fl_merge_upsert,
        fl_optimize,
        fl_read,
    )

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    base = _scratch_dir("cbdw_flopt_")
    root = base + "/orders_opt"
    fl_init(
        spark, root, o, key="o_orderkey",
        zorder_by=("o_orderkey",), layout_files=4,
    )
    big_paths = set(fl_manifest(root)["path"])
    max_k = o.agg(F.max("o_orderkey")).collect()[0][0]
    for e in range(5):
        inserts = o.where(F.col("o_orderkey") % 1000 == e).select(
            (F.col("o_orderkey") + F.lit((e + 1) * (max_k + 1)))
            .alias("o_orderkey"),
            "o_custkey",
            "o_totalprice",
            F.lit("N").alias("o_orderstatus"),
        )
        fl_merge_upsert(spark, root, inserts, key="o_orderkey")
    n_files_before = len(fl_manifest(root))

    # every base file holds >> 2000 rows at any sf; the epoch files
    # hold ~orders/1000 each — the threshold cleanly separates them
    small_rows = min(fl_manifest(root)["n_rows"].nlargest(4)) // 2
    _, n_packed, _ = fl_optimize(spark, root, small_rows=int(small_rows))
    m_after = fl_manifest(root)
    only_small_rewritten = big_paths <= set(m_after["path"])
    file_count_reduced = (
        n_packed == 5 and len(m_after) < n_files_before
    )

    return (
        fl_read(spark, root)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .withColumn(
            "only_small_rewritten", F.lit(bool(only_small_rewritten))
        )
        .withColumn("file_count_reduced", F.lit(bool(file_count_reduced)))
    )


# ---------------------------------------------------------------------------
# q291 — CHECK constraints on the file-list table
# ---------------------------------------------------------------------------


@register(
    "q291_fl_constraints",
    oracle="""
    WITH v AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey BETWEEN 1000 AND 2000
                  THEN o_totalprice + 1.0 ELSE o_totalprice END
               AS o_totalprice,
             o_orderstatus
      FROM orders
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT)    AS n_rows,
           round(sum(o_totalprice), 2) AS revenue,
           TRUE AS invalid_rejected_whole,
           TRUE AS preexisting_violation_refused
    FROM v
    GROUP BY 1
    """,
)
def q291_fl_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK constraints on the file-list table (Delta ``ALTER TABLE
    ADD CONSTRAINT``): quality gates recorded in the table metadata
    and enforced on EVERY later write — the ingest contract a
    training-data pipeline pins so a bad CDC batch cannot poison the
    corpus.

    Mechanics under audit, both oracle-visible:

    - **add-time validation**: a constraint the existing data already
      violates is refused and never recorded
      (``preexisting_violation_refused``);
    - **all-or-nothing enforcement**: a merge carrying even one
      violating row is rejected WHOLE before anything stages — the
      pointer never moves (``invalid_rejected_whole``), then the
      corrected batch (the 1000-2000 band, price+1) commits and the
      final state matches the relational replay.

    Scale shape: enforcement rides the merge's existing counts
    aggregate (one extra SUM per constraint in a scan the merge
    already pays) — zero additional jobs; add-time validation is one
    scan of the MOR state. NULL predicate results count as
    violations.

    Cites: operators/table_format.fl_add_constraint /
    fl_merge_upsert; the reference's to_sql sink has no write-time
    validation at all (create_db_from_csv.py).
    """
    from citybikedatawarehouse_spark.operators.table_format import (
        CheckViolation,
        fl_add_constraint,
        fl_current_version,
        fl_init,
        fl_merge_upsert,
        fl_read,
    )

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    base = _scratch_dir("cbdw_flck_")
    root = base + "/orders_ck"
    fl_init(
        spark, root, o, key="o_orderkey",
        zorder_by=("o_orderkey",), layout_files=8,
    )
    fl_add_constraint(spark, root, "price_positive", "o_totalprice > 0")

    preexisting_refused = False
    try:  # orders spans many statuses — this must be refused
        fl_add_constraint(spark, root, "only_f", "o_orderstatus = 'F'")
    except CheckViolation:
        preexisting_refused = True

    band = F.col("o_orderkey").between(1000, 2000)
    good = o.where(band).select(
        "o_orderkey",
        (F.col("o_totalprice") + F.lit(1.0)).alias("o_totalprice"),
        "o_orderstatus",
    )
    bad = good.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(-1.0)).otherwise(
            F.col("o_totalprice")
        ),
    )
    v_before = fl_current_version(root)
    rejected_whole = False
    try:
        fl_merge_upsert(spark, root, bad, key="o_orderkey")
    except CheckViolation:
        rejected_whole = fl_current_version(root) == v_before
    fl_merge_upsert(spark, root, good, key="o_orderkey")

    return (
        fl_read(spark, root)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .withColumn("invalid_rejected_whole", F.lit(rejected_whole))
        .withColumn(
            "preexisting_violation_refused", F.lit(preexisting_refused)
        )
    )


# ---------------------------------------------------------------------------
# q292 — streaming CDC source: tail the change feed per commit
# ---------------------------------------------------------------------------


@register(
    "q292_fl_changes_stream",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, o_custkey, o_totalprice AS p FROM orders
    ),
    mx AS (SELECT max(k) AS mk FROM base),
    -- commit 2: band update (U for every band key: price+1, status R)
    --           + tail inserts (I)
    v2 AS (
      SELECT 2 AS seq, 'U' AS op, k, p + 1.0 AS price
      FROM base WHERE k BETWEEN 1000 AND 2000
      UNION ALL
      SELECT 2, 'I', b.k + mx.mk + 1, b.p
      FROM base b, mx WHERE b.k % 1000 = 0
    ),
    -- commit 3: MOR delete of every %10==7 key in the v2 state;
    -- D carries the from-version payload (band keys: updated price)
    v3 AS (
      SELECT 3 AS seq, 'D' AS op, k,
             CASE WHEN k BETWEEN 1000 AND 2000 THEN p + 1.0 ELSE p END
      FROM base WHERE k % 10 = 7
      UNION ALL
      SELECT 3, 'D', b.k + mx.mk + 1, b.p
      FROM base b, mx
      WHERE b.k % 1000 = 0 AND (b.k + mx.mk + 1) % 10 = 7
    ),
    -- commit 4: re-insert a subset of the deleted keys with their
    -- ORIGINAL payload: the per-commit feed must report D then I
    -- across commits 3-4, never a net U
    v4 AS (
      SELECT 4 AS seq, 'I' AS op, k, p FROM base WHERE k % 50 = 7
    ),
    feed AS (
      SELECT * FROM v2 UNION ALL SELECT * FROM v3 UNION ALL
      SELECT * FROM v4
    )
    SELECT seq, op,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(k) AS BIGINT)   AS key_checksum,
           round(sum(price), 2)     AS price_sum
    FROM feed
    GROUP BY 1, 2
    """,
)
def q292_fl_changes_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC SOURCE: tail the file-list table's change feed
    one COMMIT per micro-batch (streaming/changes_feed.py — Delta's
    readChangeFeed-with-startingVersion shape), completing the loop
    the epoch sink writes: write stream -> table -> read stream.

    History under audit: v1 init; v2 MERGE (band 1000-2000 price+1 +
    status 'R', %1000 keys re-inserted past the key range); v3
    merge-on-read DELETE of every %10==7 key; v4 MERGE re-inserting
    the %50==7 subset with their ORIGINAL payload. The pump drains
    three micro-batches (versions_per_batch=1), each row tagged with
    its commit; the oracle pins the exact per-commit log — in
    particular that a key deleted in v3 and re-inserted in v4 shows
    as D then I across the two batches, the commit attribution a net
    snapshot diff (q266/q288) would collapse.

    Delivery contract proven by the pytest twins
    (tests/test_changes_feed.py): offset acked AFTER the consumer's
    step (at-least-once; idempotent-per-commit sinks -> exactly
    once), checkpointed resume with no gaps or duplicates, initial
    snapshot as op=I, live tailing under a real StreamingQuery.

    Scale shape: the pump's driver work is O(versions) metadata (the
    committed-lineage walk + one tiny offset file); every batch's row
    work is fl_changes' touched-files-only plan. Rate-limited by
    versions per batch, so a consumer that fell a week behind
    catches up in bounded steps.

    Cites: operators/table_format.fl_changes/fl_lineage +
    streaming/changes_feed; reference (create_db_from_csv.py:12-14
    append/replace sink) has no change-capture surface.
    """
    from citybikedatawarehouse_spark.operators.table_format import (
        fl_delete,
        fl_init,
        fl_lineage,
        fl_merge_upsert,
        fl_read_mor,
    )
    from citybikedatawarehouse_spark.streaming.changes_feed import (
        run_fl_changes_stream,
    )

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    base = _scratch_dir("cbdw_flfeed_")
    root = base + "/orders_feed"
    fl_init(
        spark, root, o, key="o_orderkey",
        zorder_by=("o_orderkey",), layout_files=16,
    )
    band = F.col("o_orderkey").between(1000, 2000)
    updates = o.where(band).select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") + F.lit(1.0)).alias("o_totalprice"),
        F.lit("R").alias("o_orderstatus"),
    )
    max_k = o.agg(F.max("o_orderkey")).collect()[0][0]
    inserts = o.where(F.col("o_orderkey") % 1000 == 0).select(
        (F.col("o_orderkey") + F.lit(max_k + 1)).alias("o_orderkey"),
        "o_custkey",
        "o_totalprice",
        F.lit("N").alias("o_orderstatus"),
    )
    fl_merge_upsert(
        spark, root, updates.unionByName(inserts), key="o_orderkey"
    )
    doomed = fl_read_mor(spark, root).where(F.col("o_orderkey") % 10 == 7)
    fl_delete(spark, root, doomed)
    reinserts = o.where(F.col("o_orderkey") % 50 == 7).select(
        "o_orderkey", "o_custkey", "o_totalprice",
        F.lit("N").alias("o_orderstatus"),
    )
    fl_merge_upsert(spark, root, reinserts, key="o_orderkey")

    lineage = fl_lineage(root)
    seq_of = {v: i + 1 for i, v in enumerate(lineage)}
    batches: list[DataFrame] = []
    run_fl_changes_stream(
        spark,
        root,
        lambda df, off: batches.append(
            df.withColumn("seq", F.lit(seq_of[off]))
        ),
        from_version=lineage[0],
        versions_per_batch=1,
    )
    feed = batches[0]
    for b in batches[1:]:
        feed = feed.unionByName(b)
    return feed.groupBy("seq", "op").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("o_orderkey").cast("bigint").alias("key_checksum"),
        F.round(F.sum("o_totalprice"), 2).alias("price_sum"),
    )


# ---------------------------------------------------------------------------
# q293 — CDC replication: feed-driven table-to-table incremental sync
# ---------------------------------------------------------------------------


@register(
    "q293_fl_replicate",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, o_custkey, o_totalprice AS p,
             o_orderstatus AS st
      FROM orders
    ),
    mx AS (SELECT max(k) AS mk FROM base),
    -- the replica's final state, derived purely relationally:
    -- band keys updated (R, price+1); %10==7 keys deleted except the
    -- %50==7 subset re-inserted as (N, original price); %1000==0
    -- keys re-inserted past the key range unless themselves deleted
    final AS (
      SELECT CASE WHEN k BETWEEN 1000 AND 2000 THEN 'R' ELSE st END AS st,
             CASE WHEN k BETWEEN 1000 AND 2000 THEN p + 1.0 ELSE p END AS price
      FROM base WHERE k % 10 <> 7
      UNION ALL
      SELECT 'N', p FROM base WHERE k % 50 = 7
      UNION ALL
      SELECT 'N', b.p FROM base b, mx
      WHERE b.k % 1000 = 0 AND (b.k + mx.mk + 1) % 10 <> 7
    )
    SELECT st AS o_orderstatus,
           CAST(count(*) AS BIGINT)  AS n_rows,
           round(sum(price), 2)      AS revenue,
           TRUE AS replica_equals_source
    FROM final
    GROUP BY 1
    """,
)
def q293_fl_replicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-to-table INCREMENTAL REPLICATION over the change feed
    (streaming/changes_feed.replicate_changes) — the canonical CDC
    consumer: the q292 history (init, band MERGE + tail inserts, MOR
    delete of %10==7, re-insert of %50==7) is replicated onto a SECOND
    file-list table two source commits per batch — the first batch
    ``fl_clone``s the source version it ends at (its committed files
    copied, no Spark job); the next applies the NET diff of the
    remaining two commits as ONE fused replica commit (D keys become
    its delete set, I/U rows its merge, one pointer flip), tagged
    with the source version it reproduces. The replica is itself a
    transactional table whose every version is an exact source state.

    The oracle derives the replica's final state purely relationally
    and the engine pins ``replica_equals_source``: the signed-count
    multiset diff between the replica's MOR read and the source's is
    empty (equivalent to symmetric ``exceptAll`` emptiness, in one
    pass per side) — bitwise state convergence, not just aggregate
    agreement.

    Scale shape: replication cost tracks the CHANGES (O(changed
    files) diff reads, O(changed keys) written per replica commit,
    one replica commit per batch), never the table — the 100 TB sync
    pattern; driver work is O(versions) metadata plus one tiny offset
    file.

    Cites: streaming/changes_feed.replicate_changes (crash-replay
    convergence and replica-lineage == source-states proven in
    tests/test_changes_feed.py); the reference
    copies tables only by full re-load (create_db_from_csv.py) — no
    incremental sync exists there.
    """
    from citybikedatawarehouse_spark.operators.table_format import (
        fl_delete,
        fl_init,
        fl_merge_upsert,
        fl_read_mor,
    )
    from citybikedatawarehouse_spark.streaming.changes_feed import (
        replicate_changes,
    )

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    base = _scratch_dir("cbdw_flrepl_")
    src = base + "/src"
    dst = base + "/dst"
    fl_init(
        spark, src, o, key="o_orderkey",
        zorder_by=("o_orderkey",), layout_files=16,
    )
    band = F.col("o_orderkey").between(1000, 2000)
    updates = o.where(band).select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") + F.lit(1.0)).alias("o_totalprice"),
        F.lit("R").alias("o_orderstatus"),
    )
    max_k = o.agg(F.max("o_orderkey")).collect()[0][0]
    inserts = o.where(F.col("o_orderkey") % 1000 == 0).select(
        (F.col("o_orderkey") + F.lit(max_k + 1)).alias("o_orderkey"),
        "o_custkey",
        "o_totalprice",
        F.lit("N").alias("o_orderstatus"),
    )
    fl_merge_upsert(
        spark, src, updates.unionByName(inserts), key="o_orderkey"
    )
    doomed = fl_read_mor(spark, src).where(F.col("o_orderkey") % 10 == 7)
    fl_delete(spark, src, doomed)
    reinserts = o.where(F.col("o_orderkey") % 50 == 7).select(
        "o_orderkey", "o_custkey", "o_totalprice",
        F.lit("N").alias("o_orderstatus"),
    )
    fl_merge_upsert(spark, src, reinserts, key="o_orderkey")

    replicate_changes(spark, src, dst, versions_per_batch=2)

    replica = fl_read_mor(spark, dst)
    source = fl_read_mor(spark, src)
    # bitwise multiset equality in ONE pass over each side: +1/-1
    # signed counts per distinct row sum to zero everywhere iff the
    # two relations are exceptAll-empty in both directions (the
    # previous form ran two exceptAll plans = two MOR reads per
    # side); one aggregate, same hash-partitioned shuffle shape
    row_cols = [c for c in replica.columns]
    diff = (
        replica.select(*row_cols, F.lit(1).alias("__sgn"))
        .unionByName(source.select(*row_cols, F.lit(-1).alias("__sgn")))
        .groupBy(*row_cols)
        .agg(F.sum("__sgn").alias("__d"))
        .where(F.col("__d") != 0)
    )
    converged = diff.limit(1).count() == 0
    return replica.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    ).withColumn("replica_equals_source", F.lit(converged))


# ---------------------------------------------------------------------------
# q294 — cluster-spec evolution (ALTER TABLE CLUSTER BY)
# ---------------------------------------------------------------------------


@register(
    "q294_fl_set_zorder",
    oracle="""
    WITH bounds AS (
      SELECT quantile_cont(o_custkey, 0.4) AS lo,
             quantile_cont(o_custkey, 0.6) AS hi
      FROM orders
    ),
    banded AS (
      SELECT o_custkey, o_totalprice FROM orders, bounds
      WHERE o_custkey BETWEEN bounds.lo AND bounds.hi
    )
    SELECT CAST(count(*) AS BIGINT)       AS n_rows,
           CAST(sum(o_custkey) AS BIGINT) AS cust_checksum,
           round(sum(o_totalprice + 1.0), 2) AS revenue,
           TRUE AS evolution_metadata_only,
           TRUE AS pruned_after_compact
    FROM banded
    """,
)
def q294_fl_set_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-spec EVOLUTION (``fl_set_zorder`` — Delta's ALTER
    TABLE CLUSTER BY / liquid clustering): the table starts
    clustered by its key; one metadata-only commit switches the spec
    to ``o_custkey`` (zero files rewritten — pinned by byte-identical
    file list; existing files get NULL zones, conservatively
    unprunable); a MERGE then writes ITS files on the new spec; a
    compact finishes the migration, after which a custkey-band
    pruned read actually skips files (pinned: n_read < n_total).
    The returned aggregate runs over the PRUNED read, so the oracle
    also proves pruning lost no rows.

    Scale shape: re-clustering a 100 TB table is not one giant job —
    the spec flips in O(1) metadata, every subsequent write migrates
    its own slice, and the full rewrite (compact) is an optional
    final step the table schedules. Pruning correctness never
    depends on migration progress (NULL zones are kept).

    Cites: operators/table_format.fl_set_zorder; reference has no
    layout control (PostgreSQL heap tables, create_db_from_csv.py).
    """
    from citybikedatawarehouse_spark.operators.table_format import (
        fl_compact,
        fl_init,
        fl_manifest,
        fl_merge_upsert,
        fl_read_pruned,
        fl_set_zorder,
    )

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    base = _scratch_dir("cbdw_flzo_")
    root = base + "/orders_zo"
    fl_init(
        spark, root, o, key="o_orderkey",
        zorder_by=("o_orderkey",), layout_files=16,
    )
    files_v1 = sorted(fl_manifest(root)["path"])
    v = fl_set_zorder(spark, root, ("o_custkey",))
    evolution_metadata_only = (
        sorted(fl_manifest(root, v)["path"]) == files_v1
    )
    # a wave of updates commits files already clustered on the new
    # spec; +1.0 so the oracle sees the merged payload
    fl_merge_upsert(
        spark,
        root,
        o.withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1.0)),
        key="o_orderkey",
    )
    fl_compact(spark, root, layout_files=16)
    # data-dependent band (40th-60th percentile) so the query is
    # non-degenerate at every SF; Spark's exact interpolated
    # percentile matches DuckDB's quantile_cont rule
    lo, hi = o.agg(
        F.expr("percentile(o_custkey, 0.4)"),
        F.expr("percentile(o_custkey, 0.6)"),
    ).first()
    df, n_read, n_total = fl_read_pruned(
        spark, root, {"o_custkey": (lo, hi)}
    )
    pruned = 0 < n_read < n_total
    return (
        df.where(F.col("o_custkey").between(lo, hi))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("o_custkey").cast("bigint").alias("cust_checksum"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .withColumn("evolution_metadata_only", F.lit(evolution_metadata_only))
        .withColumn("pruned_after_compact", F.lit(pruned))
    )
