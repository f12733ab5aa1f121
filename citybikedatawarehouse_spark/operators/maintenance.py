"""Snapshot change-data extraction and bucket digests: diff two
table snapshots into a minimal insert/update/delete log, and fold a
snapshot into per-bucket row digests that two copies compare. Every
operation that rewrites a table — MERGE, compaction, per-file zone
stats and pruned reads — is the table format in
``operators/table_format.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cdc_extract(
    old: DataFrame,
    new: DataFrame,
    key: str,
    payload_cols: tuple[str, ...],
) -> DataFrame:
    """Change-data EXTRACTION: diff two table snapshots into the
    minimal insert/update/delete op log — the inverse of the CDC
    APPLY path (q252 / streaming cdc_epoch_step), closing the loop:
    ``apply(extract(old, new), old) == new`` (asserted in tests).
    This is what a snapshot-based pipeline ships downstream when the
    source system has no log (the Debezium-less fallback), and the
    I/U/D census it yields is the audit a lakehouse writer records
    per commit.

    One full outer join on the key classifies every row: new-only ->
    I, old-only -> D, both-with-different-payload -> U, identical ->
    no row (the log stays MINIMAL — re-extracting after apply yields
    an empty log, also asserted). Null-safe payload comparison via
    struct eqNullSafe, so NULL -> value and value -> NULL both count
    as updates.

    Scale shape: one key-partitioned shuffle join; output is
    O(changed rows), not O(table). On bucketed-by-key snapshots the
    join is co-located and shuffle-free."""
    pc = list(payload_cols)
    o = old.select(key, F.struct(*pc).alias("__old"))
    n = new.select(key, F.struct(*pc).alias("__new"))
    j = o.join(n, key, "full_outer")
    return (
        j.select(
            F.when(F.col("__old").isNull(), F.lit("I"))
            .when(F.col("__new").isNull(), F.lit("D"))
            .when(
                ~F.col("__old").eqNullSafe(F.col("__new")), F.lit("U")
            )
            .otherwise(F.lit(None))
            .alias("op"),
            F.col(key),
            F.coalesce(F.col("__new"), F.col("__old")).alias("payload"),
        )
        .where(F.col("op").isNotNull())
        .select("op", key, "payload.*")
    )


def bucket_digest(
    snapshot: DataFrame,
    key: str,
    payload_cols: tuple[str, ...],
    n_buckets: int = 64,
    n_col: str = "n",
    digest_col: str = "digest",
) -> DataFrame:
    """Merkle-style bucket digest of a table snapshot: md5 each row's
    (key, payload) to a 60-bit value (15 hex chars — fits a signed
    BIGINT identically in Spark and DuckDB) and XOR-fold per key
    bucket. XOR is order-insensitive, mergeable, and cannot overflow;
    its one blind spot — an even number of IDENTICAL rows cancelling
    — cannot occur when the key participates in every row hash.

    Two digests disagree on a bucket iff the bucket's row multiset
    differs (modulo the 2^-60 xor-collision risk, which is why
    callers compare row counts alongside — q270 does). This is the
    anti-entropy primitive replicated stores repair with
    (Dynamo/Cassandra) and the SCALE pre-filter in front of
    ``cdc_extract``: at 100 TB you ship ``n_buckets`` digest rows per
    snapshot, then run the row-level full-outer join ONLY inside the
    few differing buckets.

    Row encoding is injective: each column becomes a fixed segment —
    its own 32-hex-char md5, or the literal token ``NULL`` when the
    value is NULL. ``N``/``U``/``L`` are not hex characters, so no
    value segment can imitate the null token, and the fixed 32-char
    block width removes delimiter ambiguity (a naive
    ``concat_ws(':')`` would skip NULLs entirely — ``(k, NULL, 'x')``
    == ``(k, 'x', NULL)`` — and let payload values containing the
    delimiter shift column boundaries). One caveat remains: columns
    are hashed via CAST TO STRING, so engines must agree on the cast
    rendering — integers/strings/decimals do; raw floats may not
    (round to fixed precision first, as q270's cents column does).

    Scale shape: one scan folding map-side into an ``n_buckets``-row
    aggregate; the only shuffle is those rows. Returns
    (bucket, <n_col>, <digest_col>).
    """
    segments = [
        F.coalesce(F.md5(F.col(c).cast("string")), F.lit("NULL"))
        for c in (key, *payload_cols)
    ]
    row_hash = F.conv(
        F.substring(F.md5(F.concat(*segments)), 1, 15),
        16,
        10,
    ).cast("bigint")
    return (
        snapshot.withColumn("__rh", row_hash)
        .groupBy((F.col(key) % n_buckets).alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias(n_col),
            F.expr("bit_xor(__rh)").cast("bigint").alias(digest_col),
        )
    )
