"""Slowly-changing-dimension type-2 merge, without Delta/Iceberg.

The reference replaces dimensions wholesale on every run
(`to_sql(if_exists='replace')`, check_and_create_db_v4.py:295) —
history is lost. This operator gives the warehouse an upsert-with-
history story using only batch primitives (MERGE INTO needs a
transactional table format; the jars aren't in this environment, so
the emulation is one full-outer join + conditional version explode):

  current dimension (id, attrs..., valid_from, valid_to, is_current)
  + updates (id, attrs..., effective_ts)
  ->
  * unchanged rows pass through
  * changed rows: old version closed (valid_to = effective_ts,
    is_current = false) + new version opened
  * brand-new ids: opened

Deterministic, idempotent for identical updates (a re-applied update
with identical attributes produces no new version). One shuffle on
the business key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

OPEN_END = "9999-12-31 23:59:59"


def scd2_init(snapshot: DataFrame, key: str, effective_ts: str) -> DataFrame:
    """Bootstrap an SCD2 dimension from a first snapshot."""
    return snapshot.select(
        "*",
        F.col(effective_ts).alias("valid_from"),
        F.lit(OPEN_END).cast("timestamp_ntz").alias("valid_to"),
        F.lit(True).alias("is_current"),
    ).drop(effective_ts)


def scd2_merge(
    dim: DataFrame,
    updates: DataFrame,
    key: str,
    attrs: list[str],
    effective_ts: str,
) -> DataFrame:
    """Apply an update batch to an SCD2 dimension.

    ``updates`` must carry one row per key (pre-deduplicate upstream
    with a max_by on the effective timestamp).

    Single-pass plan: ONE full-outer join on the key, then each row
    emits its 1-2 output versions through a conditional explode —
    cur-only / unchanged rows pass through, changed rows emit
    [closed, opened], update-only keys emit their first open
    version. The textbook four-branch formulation (untouched ∪
    closed ∪ opened ∪ new via a left join + an anti join) executes
    the join once per branch — 3-4 scans of both inputs for the
    same rows this plan produces in one."""
    cur = dim.filter(F.col("is_current"))
    hist = dim.filter(~F.col("is_current"))

    u = updates.select(
        F.col(key),
        *[F.col(a).alias(f"__u_{a}") for a in attrs],
        F.col(effective_ts).alias("__eff"),
    )
    joined = cur.join(u, key, "full")
    changed_pred = F.coalesce(
        ~F.struct(*[F.col(a) for a in attrs]).eqNullSafe(
            F.struct(*[F.col(f"__u_{a}").alias(a) for a in attrs])
        ),
        F.lit(False),
    )
    has_update = F.col("__eff").isNotNull()
    # is_current is non-null on every cur-side row (all true) and
    # null exactly on update-only keys — the full-outer side marker
    has_current = F.col("is_current").isNotNull()

    def _as_struct(cols: dict) -> F.Column:
        return F.struct(
            *[cols.get(c, F.col(c)).alias(c) for c in dim.columns]
        )

    passthrough = _as_struct({})
    # the closed version's valid_to takes the dimension's type: a
    # TIMESTAMP effective_ts would otherwise widen the TIMESTAMP_NTZ
    # column scd2_init types, changing the schema on every merge
    closed = _as_struct(
        {
            "valid_to": F.col("__eff").cast(dim.schema["valid_to"].dataType),
            "is_current": F.lit(False),
        }
    )
    opened = _as_struct(
        {
            **{a: F.col(f"__u_{a}") for a in attrs},
            "valid_from": F.col("__eff"),
            "valid_to": F.lit(OPEN_END).cast("timestamp_ntz"),
            "is_current": F.lit(True),
        }
    )
    versions = (
        F.when(~has_update, F.array(passthrough))
        .when(~has_current, F.array(opened))  # brand-new key
        .when(changed_pred, F.array(closed, opened))
        .otherwise(F.array(passthrough))  # identical attrs: idempotent
    )
    merged = joined.select(F.explode(versions).alias("__v")).select("__v.*")
    return hist.unionByName(merged)
