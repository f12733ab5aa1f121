#!/usr/bin/env python
"""100x (~sf10-equivalent) validation of the heaviest catalog paths
(round-5 VERDICT item 4): q62/q64 (LSH -> connected components),
q88/q117 (semantic dedup, flat + hierarchical), q133 (PageRank).

Builds disjoint 100-copy unions of the sf0.1 tables in /tmp — the
same harness family as the round-4/5 10x tables:

- documents: every WORD carries a per-copy suffix, so shingle sets
  are fully disjoint across copies while the within-copy near-dup
  structure is preserved exactly (no synthetic 100-cliques);
- embeddings: per-copy circular dimension shift (norms and
  within-copy pairwise cosines preserved; cross-copy similarity
  decorrelated), vec_id offset per copy;
- lineitem: l_orderkey / l_partkey offset per copy (the co-purchase
  graph becomes 100 disjoint copies — PageRank cost scales in |E|);
- all other tables copied verbatim (loaders find them; the probed
  queries do not read them).

Usage:  python scripts/scale100x.py [multiplier] [out_dir]
Prints one wall-time line per query plus cap-engagement stats
(semantic cell sizes vs the 128 anchor cap, LSH bucket occupancy
vs the 64 bucket cap) — the numbers PERFORMANCE.md's table records.
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
    "q62_minhash_lsh",
    "q64_dedup_clusters",
    "q88_semantic_dedup",
    "q117_semantic_dedup_hier",
    "q133_copurchase_pagerank",
]


def scale_documents(spark, copies, out: str) -> None:
    """Disjoint word-suffixed document copies: within-copy near-dup
    structure preserved exactly, cross-copy shingle sets disjoint."""
    d = load_table(spark, SRC, "documents")
    n_docs = d.count()
    (
        d.crossJoin(copies)
        .select(
            (F.col("doc_id") + F.col("__c").cast("long") * n_docs).alias(
                "doc_id"
            ),
            F.array_join(
                F.transform(
                    F.split(F.trim(F.col("text")), r"\s+"),
                    lambda w: F.concat(w, F.lit("_c"), F.col("__c")),
                ),
                " ",
            ).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        .repartition(64)
        .write.mode("overwrite")
        .parquet(f"{out}/documents.parquet")
    )


def build(spark, mult: int, out: str) -> None:
    copies = spark.range(mult).select(F.col("id").cast("int").alias("__c"))

    scale_documents(spark, copies, out)

    e = load_table(spark, SRC, "embeddings")
    n_vec = e.count()
    dim = len(e.select("embedding").first()[0])
    shift = F.col("__c") % dim
    (
        e.crossJoin(copies)
        .select(
            (F.col("vec_id") + F.col("__c").cast("long") * n_vec).alias(
                "vec_id"
            ),
            F.concat(
                F.slice(
                    F.col("embedding"), shift + 1, F.lit(dim) - shift
                ),
                F.slice(F.col("embedding"), F.lit(1), shift),
            ).alias("embedding"),
            *[c for c in e.columns if c not in ("vec_id", "embedding")],
        )
        .repartition(64)
        .write.mode("overwrite")
        .parquet(f"{out}/embeddings.parquet")
    )

    li = load_table(spark, SRC, "lineitem")
    ok_span = li.agg(F.max("l_orderkey")).first()[0] + 1
    pk_span = li.agg(F.max("l_partkey")).first()[0] + 1
    (
        li.crossJoin(copies)
        .select(
            (F.col("l_orderkey") + F.col("__c").cast("long") * ok_span).alias(
                "l_orderkey"
            ),
            (F.col("l_partkey") + F.col("__c").cast("long") * pk_span).alias(
                "l_partkey"
            ),
            *[
                c
                for c in li.columns
                if c not in ("l_orderkey", "l_partkey")
            ],
        )
        .repartition(64)
        .write.mode("overwrite")
        .parquet(f"{out}/lineitem.parquet")
    )

    for t in (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "events",
    ):
        shutil.copy(f"{SRC}/{t}.parquet", f"{out}/{t}.parquet")


def cap_stats(spark, out: str) -> None:
    """How hard did the skew caps engage at this scale?"""
    from citybikedatawarehouse_spark.operators.clustering import kmeans_fit

    emb = load_table(spark, out, "embeddings")
    assigned, _ = kmeans_fit(emb, k=16, n_iter=4)
    cells = (
        assigned.groupBy("cluster_id")
        .count()
        .agg(
            F.max("count").alias("mx"),
            F.expr("percentile(count, 0.5)").alias("med"),
        )
        .first()
    )
    print(
        f"[caps] semantic cells (k=16): max={cells['mx']} "
        f"median={cells['med']:.0f} vs anchor cap 128 "
        f"({'ENGAGED' if cells['mx'] > 128 else 'not engaged'})"
    )

    from citybikedatawarehouse_spark.operators.dedup_ops import (
        minhash_signatures,
    )

    d = load_table(spark, out, "documents")
    sig = minhash_signatures(d)
    # band-bucket occupancy BEFORE the cap, built with the exact
    # banding expression lsh_candidate_pairs uses (sig_<i> columns,
    # 16 bands x 2 rows)
    bands = 16
    sig_cols = [c for c in sig.columns if c.startswith("sig_")]
    rows = len(sig_cols) // bands
    banded = sig.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(
                            *[
                                F.col(f"sig_{bi * rows + r}")
                                for r in range(rows)
                            ]
                        ).alias("bucket"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb")
    ).select("bb.band", "bb.bucket")
    occ = (
        banded.groupBy("band", "bucket")
        .count()
        .agg(
            F.max("count").alias("mx"),
            F.expr("percentile(count, 0.99)").alias("p99"),
        )
        .first()
    )
    print(
        f"[caps] LSH band-bucket occupancy: max={occ['mx']} "
        f"p99={occ['p99']:.0f} vs the 10000 bucket cap "
        f"({'ENGAGED' if occ['mx'] > 10_000 else 'not engaged'})"
    )


def time_each(spark, names, out: str, label: str) -> None:
    """One ``bench.time_query`` run per query, printed as one line."""
    for name in names:
        b, e = time_query(spark, name, out)
        print(
            f"[time] {name}: {b + e:.1f} s (build {b:.1f} + exec {e:.1f}, "
            f"single-shot, {label})",
            flush=True,
        )


def main() -> None:
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    out = sys.argv[2] if len(sys.argv) > 2 else f"/tmp/sf100x_m{mult}"
    os.makedirs(out, exist_ok=True)
    spark = get_spark(app_name=f"cbdw-scale{mult}x")
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.perf_counter()
    build(spark, mult, out)
    print(f"[build] {mult}x tables in {time.perf_counter() - t0:.1f} s -> {out}")

    time_each(spark, QUERIES_UNDER_TEST, out, f"{mult}x")

    try:
        cap_stats(spark, out)
    except Exception as exc:  # cap stats are advisory, never fatal
        print(f"[caps] stats failed: {exc}")
    spark.stop()


JOIN_QUERIES = [
    "q186_trade_flows",
    "q213_order_count_distribution",
    "q214_large_volume_customers",
    "q216_item_similarity",
    "q220_purchase_sequences",
]


def build_joins(spark, mult: int, out: str, scale_docs: bool = False) -> None:
    """Coherent orders+lineitem scaling for JOIN-shaped queries: the
    default build offsets lineitem's orderkeys but copies orders
    verbatim, so lineitem<->orders joins are vacuous past copy 0
    (every per-round PERFORMANCE table marks them n/a). Here orders
    and lineitem get the SAME per-copy orderkey offset and customers
    get disjoint custkey copies — so joins resolve, users multiply,
    and the ITEM CATALOG stays fixed (partkeys unscaled): the
    realistic "more customers, same parts" growth axis for
    q213/q214/q216/q220/q186."""
    copies = spark.range(mult).select(F.col("id").cast("int").alias("__c"))

    o = load_table(spark, SRC, "orders")
    ok_span = o.agg(F.max("o_orderkey")).first()[0] + 1
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

    li = load_table(spark, SRC, "lineitem")
    (
        li.crossJoin(copies)
        .select(
            (F.col("l_orderkey") + F.col("__c").cast("long") * ok_span)
            .alias("l_orderkey"),
            *[c for c in li.columns if c != "l_orderkey"],
        )
        .repartition(64)
        .write.mode("overwrite")
        .parquet(f"{out}/lineitem.parquet")
    )

    c = load_table(spark, SRC, "customer")
    (
        c.crossJoin(copies)
        .select(
            (F.col("c_custkey") + F.col("__c").cast("long") * ck_span)
            .alias("c_custkey"),
            *[x for x in c.columns if x != "c_custkey"],
        )
        .repartition(8)
        .write.mode("overwrite")
        .parquet(f"{out}/customer.parquet")
    )

    if scale_docs:
        scale_documents(spark, copies, out)
    verbatim = ["region", "nation", "supplier", "part", "events",
                "embeddings"] + ([] if scale_docs else ["documents"])
    for t in verbatim:
        shutil.copy(f"{SRC}/{t}.parquet", f"{out}/{t}.parquet")


def main_joins(mult: int, out: str) -> None:
    os.makedirs(out, exist_ok=True)
    spark = get_spark(app_name=f"cbdw-scalejoins{mult}x")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    build_joins(spark, mult, out)
    print(f"[build] joins {mult}x in {time.perf_counter() - t0:.1f} s -> {out}")

    time_each(spark, JOIN_QUERIES, out, f"joins {mult}x")
    spark.stop()


EVAL_QUERIES = [
    "q246_cuped_ab", "q247_bootstrap_ci", "q248_target_encoding",
    "q249_model_auc", "q250_learning_curve", "q251_pareto_frontier",
    "q252_cdc_apply", "q253_ndcg_at_10", "q254_ipf_mixture",
    "q255_column_stats", "q256_fd_audit", "q257_joinsize_estimate",
    "q258_benford_audit", "q259_simpson_audit",
]


def main_evals(mult: int, out: str) -> None:
    """100x validation of the round-6-late eval cohort (q246-q259):
    coherent orders/lineitem/customer scaling (joins resolve) PLUS
    disjoint word-suffixed documents (corpus-shaped q253/q254 scale
    too, instead of reading a verbatim 1x corpus)."""
    os.makedirs(out, exist_ok=True)
    spark = get_spark(app_name=f"cbdw-scaleevals{mult}x")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    build_joins(spark, mult, out, scale_docs=True)
    print(f"[build] evals {mult}x in {time.perf_counter() - t0:.1f} s -> {out}",
          flush=True)

    time_each(spark, EVAL_QUERIES, out, f"evals {mult}x")
    spark.stop()


if __name__ == "__main__":
    if "--evals" in sys.argv:
        args = [a for a in sys.argv[1:] if a != "--evals"]
        mult = int(args[0]) if args else 100
        out = args[1] if len(args) > 1 else f"/tmp/sfevals_m{mult}"
        main_evals(mult, out)
    elif "--joins" in sys.argv:
        args = [a for a in sys.argv[1:] if a != "--joins"]
        mult = int(args[0]) if args else 10
        out = args[1] if len(args) > 1 else f"/tmp/sfjoins_m{mult}"
        main_joins(mult, out)
    else:
        main()
