#!/usr/bin/env python
"""Scale validation for the round-8 session-2 operators (q267-q273):
builds coherent N-copy unions of orders / customer / events at sf0.1
(keys offset per copy, so per-customer and per-shard structure — the
thing the window chains partition on — is preserved while row count
multiplies), then single-shot times each query with
``bench.time_query``.

Usage:  python scripts/scale_r8s2.py [multiplier] [out_dir]
Prints one wall line per query — the numbers PERFORMANCE.md records.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bench import time_query  # noqa: E402
from citybikedatawarehouse_spark.session import get_spark  # noqa: E402
from citybikedatawarehouse_spark.sources.readers import load_table  # noqa: E402

SRC = "/root/testdata/sf0.1"
QUERIES_UNDER_TEST = [
    "q267_interval_islands",
    "q269_watermark_lateness",
    "q270_bucket_digest_diff",
    "q271_variant_shred",
    "q273_scd2_pit_lookup",
    # round-8 session-1 family (r8 VERDICT item 5: 10x-only before
    # round 9; now scaled on the same coherent build — lineitem
    # orderkeys share the orders offset so q264's delta joins
    # resolve for every copy, embeddings get disjoint vec_ids with a
    # deterministic per-copy jitter so ANN cells densify instead of
    # filling with exact duplicates)
    "q263_filtered_ann_topk",
    "q264_ivm_join_view",
    "q265_grouped_hll_distinct",
    "q266_cdc_extract",
    # round-9 session-3 family (same coherent orders build)
    "q277_rolling_hll_distinct",
    "q278_zonemap_prune",
    "q281_zorder_zonemap_prune",
]

# optional subset: SPARK_GRAFT_SCALE_QUERIES="q277_...,q278_..." times
# only those (reuses an existing build, so new ops don't re-pay the
# already-recorded families)
_subset = os.environ.get("SPARK_GRAFT_SCALE_QUERIES")
if _subset:
    QUERIES_UNDER_TEST = [
        q for q in QUERIES_UNDER_TEST if q in set(_subset.split(","))
    ]


def build(spark, mult: int, out: str) -> None:
    copies = spark.range(mult).select(F.col("id").cast("int").alias("__c"))
    o = load_table(spark, SRC, "orders")
    c = load_table(spark, SRC, "customer")
    ev = load_table(spark, SRC, "events")
    n_ord = o.agg(F.max("o_orderkey")).collect()[0][0] + 1
    n_cust = c.agg(F.max("c_custkey")).collect()[0][0] + 1
    n_ev = ev.agg(F.max("event_id")).collect()[0][0] + 1
    n_usr = ev.agg(F.max("user_id")).collect()[0][0] + 1
    (
        o.crossJoin(copies)
        .select(
            (F.col("o_orderkey") + F.col("__c").cast("long") * n_ord).alias(
                "o_orderkey"
            ),
            (F.col("o_custkey") + F.col("__c").cast("long") * n_cust).alias(
                "o_custkey"
            ),
            "o_orderstatus",
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
        )
        .repartition(64)
        .write.mode("overwrite")
        .parquet(f"{out}/orders.parquet")
    )
    (
        c.crossJoin(copies)
        .select(
            (F.col("c_custkey") + F.col("__c").cast("long") * n_cust).alias(
                "c_custkey"
            ),
            "c_name",
            "c_nationkey",
            "c_acctbal",
            "c_mktsegment",
        )
        .repartition(16)
        .write.mode("overwrite")
        .parquet(f"{out}/customer.parquet")
    )
    (
        ev.crossJoin(copies)
        .select(
            (F.col("event_id") + F.col("__c").cast("long") * n_ev).alias(
                "event_id"
            ),
            "ts",
            (F.col("user_id") + F.col("__c").cast("long") * n_usr).alias(
                "user_id"
            ),
            "event_type",
            "value",
            "props",
        )
        .repartition(64)
        .write.mode("overwrite")
        .parquet(f"{out}/events.parquet")
    )
    # lineitem scales COHERENTLY with orders (same per-copy orderkey
    # offset) so q264's order<->lineitem delta joins resolve for
    # every copy; partkeys stay shared so the join-view group keys
    # keep their cardinality shape
    li = load_table(spark, SRC, "lineitem")
    (
        li.crossJoin(copies)
        .select(
            (F.col("l_orderkey") + F.col("__c").cast("long") * n_ord).alias(
                "l_orderkey"
            ),
            *[c for c in li.columns if c != "l_orderkey"],
        )
        .repartition(64)
        .write.mode("overwrite")
        .parquet(f"{out}/lineitem.parquet")
    )
    # embeddings: disjoint vec_ids + a deterministic per-(copy, dim)
    # jitter of up to ±5% per component — copies land NEAR the
    # original clusters (IVF cells densify, the realistic scale
    # shape) without being exact duplicates (which would make
    # nearest-neighbor distance 0 and top-k ties degenerate)
    emb = load_table(spark, SRC, "embeddings")
    n_vec = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    (
        emb.crossJoin(copies)
        .select(
            (F.col("vec_id") + F.col("__c").cast("long") * n_vec).alias(
                "vec_id"
            ),
            F.transform(
                F.col("embedding"),
                lambda x, i: (
                    x
                    * (
                        F.lit(1.0)
                        + (
                            F.pmod(
                                F.xxhash64(F.col("vec_id"), F.col("__c"), i),
                                F.lit(1000),
                            ).cast("double")
                            - F.lit(500.0)
                        )
                        / F.lit(10000.0)
                    )
                ).cast("float"),
            ).alias("embedding"),
            "label",
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{out}/embeddings.parquet")
    )
    # remaining tables verbatim (loaders may look for them)
    for t in (
        "region",
        "nation",
        "supplier",
        "part",
        "documents",
    ):
        dst = f"{out}/{t}.parquet"
        src = f"{SRC}/{t}.parquet"
        if not os.path.exists(dst):
            if os.path.isdir(src):
                shutil.copytree(src, dst)
            else:
                shutil.copy(src, dst)


def main() -> None:
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out = sys.argv[2] if len(sys.argv) > 2 else f"/tmp/cbdw_r8s2_{mult}x"
    spark = get_spark(app_name=f"scale_r8s2_{mult}x", shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")
    if not os.path.exists(f"{out}/orders.parquet"):
        t0 = time.time()
        build(spark, mult, out)
        print(f"build {mult}x: {time.time() - t0:.1f}s", flush=True)

    for name in QUERIES_UNDER_TEST:
        b, e = time_query(spark, name, out)
        print(
            f"{name}: {b + e:.1f}s (build {b:.1f} + exec {e:.1f}, {mult}x)",
            flush=True,
        )


if __name__ == "__main__":
    main()
