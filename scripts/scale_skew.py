#!/usr/bin/env python
"""Round-8 scale validations (round-7 VERDICT items 5 and 8).

Mode ``skew`` — SKEWED 100x validation. Every prior 100x check used
disjoint uniform copies, so the skew guards (q61 hot-shingle cap, q62
LSH bucket cap, q237 order/neighborhood caps, q107 salting / AQE skew
join) never actually fired at scale. This build injects zipf-shaped
hot keys:

- documents: 2% of docs (hash-chosen, deterministic) get a fixed
  UNSUFFIXED stop-phrase prepended — at 100x that's ~10,000 docs
  sharing the same 3-gram shingles (vs the q61 cap of 1000), the
  exact "stop-phrase quadratic bomb" the cap exists for (uncapped:
  10k^2/2 = 5*10^7 candidate pairs from ONE shingle). All other
  words carry the per-copy suffix, preserving within-copy near-dup
  structure.
- lineitem: disjoint per-copy orderkeys (orders multiply), but 25%
  of rows collapse l_suppkey to ONE hot supplier and 20% of rows
  collapse l_partkey onto 10 hot parts — hub nodes in the
  co-purchase graph and a hot join key for q107.

Reported per query: single-shot wall and whether each cap ENGAGED
(hot-shingle max doc-frequency vs cap, LSH max bucket occupancy,
orders at the 20-part cap, parts at the 100-neighbor cap, hot-key
row share). Correctness under caps is NOT oracle-compared here —
caps bias capped pairs by design; this is the perf/completion gate.

Mode ``triangle`` — q262 estimator vs exact across scale. Exact
triangle counting's wedge shuffle at 100x projects ~100 GB (beyond
this box, PERFORMANCE.md); the DOULION estimator is the validation
path: cross-check estimate-vs-exact at 1x and 10x, then run the
sampled leg ONLY at 100x and check it against 100 * exact(1x) (the
disjoint-copy build makes that the ground truth by construction).

Usage:
  python scripts/scale_skew.py skew [mult] [out_dir]
  python scripts/scale_skew.py triangle [mult] [out_dir]
  (optional 4th arg: comma-separated query subset)

Memory sizing (r9s3 finding, PERFORMANCE.md): at skewed 50x on an
8 g heap, q237 needs SPARK_GRAFT_CPUS=16 — shuffle partitions
beyond the thread count stop buying per-task memory (the pool
divides by running tasks), so the reliable knob is concurrency,
not partitions. SPARK_GRAFT_SKEW_REUSE=1 reuses an existing build.
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
STOP_PHRASE = "please subscribe to our newsletter for updates"
HOT_DOC_PCT = 2       # % of docs carrying the unsuffixed stop-phrase
HOT_SUPP_PCT = 25     # % of lineitem rows collapsed to supplier 1
HOT_PART_PCT = 20     # % of lineitem rows collapsed onto 10 hot parts
N_HOT_PARTS = 10


def build_skew(spark, mult: int, out: str) -> None:
    copies = spark.range(mult).select(F.col("id").cast("int").alias("__c"))

    d = load_table(spark, SRC, "documents")
    n_docs = d.count()
    doc_id = (F.col("doc_id") + F.col("__c").cast("long") * n_docs).alias(
        "doc_id"
    )
    suffixed = F.array_join(
        F.transform(
            F.split(F.trim(F.col("text")), r"\s+"),
            lambda w: F.concat(w, F.lit("_c"), F.col("__c")),
        ),
        " ",
    )
    is_hot = (
        F.pmod(F.xxhash64(F.col("doc_id"), F.col("__c")), F.lit(100))
        < HOT_DOC_PCT
    )
    (
        d.crossJoin(copies)
        .select(
            doc_id,
            F.when(
                is_hot, F.concat(F.lit(STOP_PHRASE + " "), suffixed)
            )
            .otherwise(suffixed)
            .alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        .repartition(64)
        .write.mode("overwrite")
        .parquet(f"{out}/documents.parquet")
    )

    li = load_table(spark, SRC, "lineitem")
    ok_span = li.agg(F.max("l_orderkey")).first()[0] + 1
    row_h = F.xxhash64("l_orderkey", "l_linenumber", "__c")
    (
        li.crossJoin(copies)
        .select(
            (F.col("l_orderkey") + F.col("__c").cast("long") * ok_span)
            .alias("l_orderkey"),
            F.when(
                F.pmod(row_h, F.lit(100)) < HOT_PART_PCT,
                1 + F.pmod(F.xxhash64(row_h), F.lit(N_HOT_PARTS)),
            )
            .otherwise(F.col("l_partkey"))
            .cast("long")
            .alias("l_partkey"),
            F.when(
                F.pmod(F.xxhash64(row_h, F.lit(1)), F.lit(100))
                < HOT_SUPP_PCT,
                F.lit(1),
            )
            .otherwise(F.col("l_suppkey"))
            .cast("long")
            .alias("l_suppkey"),
            *[
                c
                for c in li.columns
                if c not in ("l_orderkey", "l_partkey", "l_suppkey")
            ],
        )
        .repartition(64)
        .write.mode("overwrite")
        .parquet(f"{out}/lineitem.parquet")
    )

    # orders scale COHERENTLY with lineitem (same per-copy orderkey
    # offset, custkeys disjoint) so lineitem<->orders joins resolve
    # for every copy — q237's train/test split and scoring join are
    # a real 100x, not copy-0-only
    o = load_table(spark, SRC, "orders")
    ck_span = o.agg(F.max("o_custkey")).first()[0] + 1
    (
        o.crossJoin(copies)
        .select(
            (F.col("o_orderkey") + F.col("__c").cast("long") * ok_span)
            .alias("o_orderkey"),
            (F.col("o_custkey") + F.col("__c").cast("long") * ck_span)
            .alias("o_custkey"),
            *[c for c in o.columns if c not in ("o_orderkey", "o_custkey")],
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{out}/orders.parquet")
    )

    for t in (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "events",
        "embeddings",
    ):
        shutil.copy(f"{SRC}/{t}.parquet", f"{out}/{t}.parquet")


def skew_stats(spark, out: str) -> None:
    """Did each cap actually engage on this corpus?"""
    d = load_table(spark, out, "documents")
    # 3-gram doc-frequency of the stop-phrase's leading shingle
    # (identical expression family to q61's shingle build)
    words = F.split(F.trim(F.col("text")), r"\s+")
    lead3 = F.array_join(F.slice(words, 1, 3), " ")
    hot_df = (
        d.select(lead3.alias("s"))
        .where(F.col("s") == " ".join(STOP_PHRASE.split()[:3]))
        .count()
    )
    print(
        f"[skew] stop-phrase shingle doc-frequency = {hot_df} "
        f"vs q61 cap 1000 ({'ENGAGED' if hot_df > 1000 else 'not engaged'}; "
        f"uncapped would emit ~{hot_df * (hot_df - 1) // 2:,} pairs "
        f"from this one shingle)"
    )

    li = load_table(spark, out, "lineitem")
    tot = li.count()
    hot_supp = li.where(F.col("l_suppkey") == 1).count()
    print(
        f"[skew] hot supplier share = {hot_supp / tot:.1%} of "
        f"{tot:,} rows (uniform would be {1 / 1000:.1%})"
    )
    per_order = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_partkey").alias("nparts")
    )
    at_cap = per_order.where(F.col("nparts") > 20).count()
    n_orders = per_order.count()
    print(
        f"[skew] orders over the q237/q133 20-part cap = {at_cap:,} "
        f"of {n_orders:,} ({'ENGAGED' if at_cap > 0 else 'not engaged'})"
    )
    hot_part_orders = (
        li.where(F.col("l_partkey") <= N_HOT_PARTS)
        .select("l_orderkey")
        .distinct()
        .count()
    )
    print(
        f"[skew] hot parts appear in {hot_part_orders / n_orders:.1%} of "
        f"orders -> co-part census >> 100 for hot parts "
        f"(q237 neighborhood cap must engage)"
    )


def run_skew(mult: int, out: str, only: list[str] | None = None) -> None:
    spark = get_spark(app_name=f"cbdw-skew{mult}x")
    spark.sparkContext.setLogLevel("ERROR")
    print(
        "[conf] driver.memory="
        + spark.conf.get("spark.driver.memory")
        + " shuffle.partitions="
        + spark.conf.get("spark.sql.shuffle.partitions")
    )
    t0 = time.perf_counter()
    if os.path.exists(f"{out}/lineitem.parquet") and os.environ.get(
        "SPARK_GRAFT_SKEW_REUSE"
    ):
        print(f"[build] reusing existing skewed tables at {out}")
    else:
        build_skew(spark, mult, out)
        print(
            f"[build] skewed {mult}x tables in {time.perf_counter() - t0:.1f} s"
        )
    skew_stats(spark, out)

    for name in only or (
        "q61_ngram_jaccard",
        "q62_minhash_lsh",
        "q107_salted_join",
        "q237_hitrate_eval",
    ):
        b, e = time_query(spark, name, out)
        print(
            f"[time] {name}: {b + e:.1f} s (build {b:.1f} + exec {e:.1f}, "
            f"single-shot, skewed {mult}x)"
        )
    spark.stop()


def build_lineitem_copies(spark, mult: int, out: str) -> None:
    """Uniform disjoint-copy lineitem only (the q176/q262 input):
    exact triangles at mult m = m * exact at 1x by construction."""
    os.makedirs(out, exist_ok=True)
    copies = spark.range(mult).select(F.col("id").cast("int").alias("__c"))
    li = load_table(spark, SRC, "lineitem")
    ok_span = li.agg(F.max("l_orderkey")).first()[0] + 1
    pk_span = li.agg(F.max("l_partkey")).first()[0] + 1
    (
        li.crossJoin(copies)
        .select(
            (F.col("l_orderkey") + F.col("__c").cast("long") * ok_span)
            .alias("l_orderkey"),
            (F.col("l_partkey") + F.col("__c").cast("long") * pk_span)
            .alias("l_partkey"),
            *[c for c in li.columns if c not in ("l_orderkey", "l_partkey")],
        )
        .repartition(64)
        .write.mode("overwrite")
        .parquet(f"{out}/lineitem.parquet")
    )


def run_triangle(mult: int, out: str) -> None:
    from citybikedatawarehouse_spark.operators.graph import (
        triangle_counts,
        triangle_sample_estimate,
    )
    from citybikedatawarehouse_spark.plans.analytics import _copurchase_pairs

    spark = get_spark(app_name=f"cbdw-tri{mult}x")
    spark.sparkContext.setLogLevel("ERROR")

    def pairs_of(sf_dir):
        return _copurchase_pairs(load_table(spark, sf_dir, "lineitem")).select(
            F.col("pp.p1").alias("p1"), F.col("pp.p2").alias("p2")
        )

    # ground truth at 1x
    t0 = time.perf_counter()
    exact1 = (
        triangle_counts(pairs_of(SRC)).agg(F.sum("n_triangles")).first()[0]
        or 0
    ) // 3
    print(
        f"[tri] exact @1x = {exact1:,} ({time.perf_counter() - t0:.1f} s)"
    )
    for p_pm in (500, 125):
        t0 = time.perf_counter()
        r = triangle_sample_estimate(pairs_of(SRC), p_permille=p_pm).first()
        err = abs(r["tri_estimate"] - exact1) / max(exact1, 1)
        print(
            f"[tri] estimate @1x p={p_pm / 1000}: {r['tri_estimate']:,} "
            f"(rel_err {err:.3f}, {time.perf_counter() - t0:.1f} s)"
        )

    build_lineitem_copies(spark, mult, out)
    truth = mult * exact1  # disjoint copies: triangles add
    t0 = time.perf_counter()
    r = triangle_sample_estimate(pairs_of(out), p_permille=125).first()
    err = abs(r["tri_estimate"] - truth) / max(truth, 1)
    print(
        f"[tri] estimate @{mult}x p=0.125: {r['tri_estimate']:,} vs "
        f"constructed truth {truth:,} (rel_err {err:.4f}, "
        f"{time.perf_counter() - t0:.1f} s single-shot, sampled leg only)"
    )
    spark.stop()


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "skew"
    mult = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    out = (
        sys.argv[3]
        if len(sys.argv) > 3
        else f"/tmp/sf_{mode}_m{mult}"
    )
    os.makedirs(out, exist_ok=True)
    if mode == "skew":
        only = sys.argv[4].split(",") if len(sys.argv) > 4 else None
        run_skew(mult, out, only)
    elif mode == "triangle":
        run_triangle(mult, out)
    else:
        raise SystemExit(f"unknown mode {mode!r} (skew | triangle)")


if __name__ == "__main__":
    main()
