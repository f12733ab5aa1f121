"""Data-selection and model-evaluation operators: SymSpell fuzzy
entity join, MMR diversity re-ranking, k-center coreset selection,
leave-last-out recommender evaluation, and probability-calibration
audit.

The reference (LauraIkic/CityBikeDataWarehouse) stops at dimensional
ETL; these close the remaining "choose and judge the data" gaps in
the LLM-pipeline story: fuzzy entity resolution picks the canonical
record, MMR picks a DIVERSE retrieval context, k-center picks the
coreset worth labeling, hit-rate@k and calibration judge the models
the curated data trains.

Cross-engine determinism: every cosine/distance is rounded to 6
before any comparison; greedy argmax steps order by (rounded score,
id); averages of rounded probabilities go through exact integer
micro-units (sum of BIGINT micros, divided once) so float summation
order can never flip a digit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from citybikedatawarehouse_spark.plans.catalog import register
from citybikedatawarehouse_spark.sources.readers import load_table as _t


# ---------------------------------------------------------------------------
# q234 — SymSpell deletion-neighborhood fuzzy join (ED <= 1)
# ---------------------------------------------------------------------------

@register(
    "q234_symspell_fuzzy_join",
    oracle="""
    WITH pairs AS (
      SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
      FROM customer a JOIN customer b
        ON a.c_custkey < b.c_custkey
       AND abs(length(a.c_name) - length(b.c_name)) <= 1
       AND levenshtein(a.c_name, b.c_name) <= 1
    ),
    sym AS (
      SELECT id_a AS id, id_b AS nb FROM pairs
      UNION ALL
      SELECT id_b, id_a FROM pairs
    ),
    per AS (
      SELECT c.c_custkey, count(s.nb) AS n_neighbors
      FROM customer c LEFT JOIN sym s ON s.id = c.c_custkey
      GROUP BY c.c_custkey
    )
    SELECT CAST(n_neighbors AS INTEGER) AS n_neighbors,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM per GROUP BY n_neighbors
    """,
)
def q234_symspell_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy self-join on customer names at edit distance <= 1 via
    SymSpell deletion neighborhoods, reported as a neighbor-count
    histogram (how many records have 0, 1, 2... near-identical
    labels — the duplicate-entity screen before canonicalization).
    A name's candidate keys are itself plus every single-character
    deletion; two strings within ED 1 ALWAYS share such a key
    (equal: trivially; substitution: delete the differing position
    on both; insert/delete: the longer one's deletion IS the
    shorter), so the blocking is complete, and `levenshtein() <= 1`
    verifies each candidate. The oracle is the direct quadratic
    length-banded levenshtein join.

    Scale shape: fan-out is length-linear (|name|+1 keys per row,
    ~19 here) and the join runs on short variant strings, never
    all-pairs — the quadratic lives only inside each variant bucket,
    whose size is bounded by how many strings can produce the same
    deletion (alphabet-bounded, like the LSH band buckets; the same
    bucket cap applies if a degenerate key family appears). The
    verify filter is a JVM levenshtein on candidate pairs only.
    SymSpell reference: Garbe's symmetric-delete algorithm (public
    domain description); no reference-repo counterpart."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    variants = c.select(
        "c_custkey",
        "c_name",
        F.explode(
            F.array_union(
                F.array(F.col("c_name")),
                F.expr(
                    "transform(sequence(0, length(c_name) - 1), i -> "
                    "concat(substring(c_name, 1, i), "
                    "substring(c_name, i + 2, length(c_name))))"
                ),
            )
        ).alias("vkey"),
    )
    b = variants.select(
        F.col("c_custkey").alias("id_b"),
        F.col("c_name").alias("name_b"),
        F.col("vkey").alias("vkey_b"),
    )
    pairs = (
        variants.join(
            b,
            (F.col("vkey") == F.col("vkey_b"))
            & (F.col("c_custkey") < F.col("id_b")),
        )
        .select(
            F.col("c_custkey").alias("id_a"), "id_b", "c_name", "name_b"
        )
        .dropDuplicates(["id_a", "id_b"])
        .where(F.levenshtein(F.col("c_name"), F.col("name_b")) <= 1)
        .select("id_a", "id_b")
    )
    sym = pairs.select(F.col("id_a").alias("id")).unionAll(
        pairs.select(F.col("id_b").alias("id"))
    )
    per = (
        c.join(sym, c.c_custkey == sym.id, "left")
        .groupBy("c_custkey")
        .agg(F.count("id").alias("n_neighbors"))
    )
    return per.groupBy(
        F.col("n_neighbors").cast("int").alias("n_neighbors")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))


# ---------------------------------------------------------------------------
# q237 — leave-last-order-out recommender evaluation (hit@10 / MRR)
# ---------------------------------------------------------------------------

_REC_K = 10
_REC_ORDER_CAP = 20
_REC_NEIGH_CAP = 100  # item-item neighborhood cap: top co-parts kept per part
# two-stage top-k (round 10, the structural skew fix): the scoring
# exchange is keyed (customer, candidate-hash-bucket) over
# _REC_PART_BUCKETS buckets — spreading each hot customer's candidate
# mass across buckets — and candidates are cut to the top _REC_K per
# bucket before the global per-customer sort, which then sees
# <= K*buckets rows per customer instead of the full |profile| x
# neighborhood fan-out. Ownership filtering rides the same agg as
# union marker rows, deleting the r9 sort-merge anti-join (see the
# plan comment in q237). Correct because the global top-K is a subset
# of the union of per-bucket top-Ks under the same total order
# (score desc, cand asc).
_REC_PART_BUCKETS = 32

@register(
    "q237_hitrate_eval",
    oracle=f"""
    WITH ranked_orders AS (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC)
               AS rn
      FROM orders
    ),
    eligible AS (
      SELECT o_custkey FROM ranked_orders GROUP BY o_custkey
      HAVING count(*) >= 2
    ),
    holdout AS (
      SELECT r.o_custkey, l.l_partkey
      FROM ranked_orders r
      JOIN eligible e ON e.o_custkey = r.o_custkey
      JOIN lineitem l ON l.l_orderkey = r.o_orderkey
      WHERE r.rn = 1
      GROUP BY 1, 2
    ),
    train_parts AS (
      SELECT r.o_orderkey, r.o_custkey, l.l_partkey,
             row_number() OVER (PARTITION BY r.o_orderkey
                                ORDER BY l.l_partkey) AS pn
      FROM ranked_orders r
      JOIN lineitem l ON l.l_orderkey = r.o_orderkey
      WHERE r.rn > 1
      GROUP BY r.o_orderkey, r.o_custkey, l.l_partkey
    ),
    op AS (
      SELECT o_orderkey, o_custkey, l_partkey
      FROM train_parts WHERE pn <= {_REC_ORDER_CAP}
    ),
    co AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2,
             count(*) AS n_co
      FROM op a JOIN op b
        ON a.o_orderkey = b.o_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    co_sym AS (
      SELECT p, q, n_co FROM (
        SELECT p, q, n_co,
               row_number() OVER (PARTITION BY p
                                  ORDER BY n_co DESC, q) AS nr
        FROM (SELECT p1 AS p, p2 AS q, n_co FROM co
              UNION ALL SELECT p2, p1, n_co FROM co)
      ) WHERE nr <= {_REC_NEIGH_CAP}
    ),
    profile AS (
      SELECT DISTINCT op.o_custkey, op.l_partkey
      FROM op JOIN eligible e ON e.o_custkey = op.o_custkey
    ),
    scores AS (
      SELECT pr.o_custkey, cs.q AS cand,
             CAST(sum(cs.n_co) AS BIGINT) AS score
      FROM profile pr JOIN co_sym cs ON cs.p = pr.l_partkey
      WHERE NOT EXISTS (SELECT 1 FROM profile p2
                        WHERE p2.o_custkey = pr.o_custkey
                          AND p2.l_partkey = cs.q)
      GROUP BY 1, 2
    ),
    topk AS (
      SELECT o_custkey, cand, rnk FROM (
        SELECT o_custkey, cand,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY score DESC, cand) AS rnk
        FROM scores
      ) WHERE rnk <= {_REC_K}
    ),
    per_cust AS (
      SELECT e.o_custkey,
             min(CASE WHEN h.l_partkey IS NOT NULL THEN t.rnk END) AS best_rnk
      FROM eligible e
      LEFT JOIN topk t ON t.o_custkey = e.o_custkey
      LEFT JOIN holdout h ON h.o_custkey = t.o_custkey
                         AND h.l_partkey = t.cand
      GROUP BY e.o_custkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CASE WHEN best_rnk IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           round(sum(CASE WHEN best_rnk IS NOT NULL THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 6) AS hit_rate,
           CAST(sum(CASE WHEN best_rnk = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits_at_1,
           round(sum(coalesce(CAST(round(1000000.0 / best_rnk) AS BIGINT), 0))
                 * 1.0 / count(*) / 1000000.0, 6) AS mrr
    FROM per_cust
    """,
)
def q237_hitrate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-last-order-out evaluation of the co-occurrence
    recommender: hold out each (>= 2-order) customer's latest order,
    train item co-occurrence counts on everything else, recommend
    the top-10 unseen parts by summed co-occurrence with the
    customer's training basket, and score hit@10, hit@1, and MRR.
    This is the EVALUATION layer over q216's item-similarity model —
    the catalog trains recommenders; this measures one.

    Determinism: scores are integer counts (rank ties broken by
    partkey); MRR goes through integer micro-units
    (round(1e6 / rank) summed as BIGINT, divided once) so float
    summation order cannot flip the 6th digit.

    Scale shape: per-order part lists are capped at 20 (the q133
    cap — C(20,2) bounds the pair fan-out), and the item-item
    neighborhood is capped at the top-100 co-parts per part (rank by
    count, id tie-break) — measured necessary: uncapped, a fixed
    item catalog DENSIFIES as orders grow (10x orders made the
    scoring join 8.3x, because every part co-occurs with every
    other), while the cap bounds scoring at
    |profile| * 100 rows per customer, the standard item-kNN
    neighborhood truncation. Co-occurrence and scoring are the only
    corpus-scale shuffles, both map-side-combinable; the top-10 is a
    per-customer window; the final metric is a 1-row reduce."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")

    rn = W.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    # ranked feeds eligible/holdout/op_arr and op_arr feeds co +
    # profile: without materialization the whole upstream replicates
    # per consumer (measured: 11 orders scans + 7 lineitem scans in
    # one plan at sf0.1; persisted -> 1 scan each). persist(MEMORY_
    # AND_DISK, serialized) not localCheckpoint: both are O(orders)
    # relations, and a deserialized checkpoint of an O(E) relation
    # is this repo's measured 100x OOM failure mode
    from pyspark import StorageLevel

    ranked = o.select(
        "o_custkey", "o_orderkey", F.row_number().over(rn).alias("rn")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    eligible = (
        ranked.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 2)
        .select("o_custkey")
    )
    # ONE ranked-orders x lineitem join feeds both the holdout split
    # (rn == 1) and the training split (rn > 1): the fact is scanned
    # once, not once per split
    joined = ranked.join(l, ranked.o_orderkey == l.l_orderkey).select(
        "o_custkey", "o_orderkey", "rn", "l_partkey"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    holdout = (
        joined.where(F.col("rn") == 1)
        .join(F.broadcast(eligible), "o_custkey")
        .select("o_custkey", "l_partkey")
        .distinct()
    )
    # per-order CAPPED part arrays via ONE groupBy (collect_set dedups
    # within the order; array_sort + slice is the same ascending-
    # partkey cap the oracle's row_number states), then the pair
    # fan-out is a per-row HOF over the <=20-element array — the
    # q133/_copurchase_pairs rewrite applied to the training split:
    # no distinct + per-order window + self-join. Verified identical
    # pair counts; the executed co subplan drops 9 Exchanges / 1
    # SortMergeJoin / 8 Windows to 4 / 0 / 1
    from citybikedatawarehouse_spark.functions.arrays import (
        ordered_pair_structs,
    )

    op_arr = (
        joined.where(F.col("rn") > 1)
        .groupBy("o_orderkey", "o_custkey")
        .agg(
            F.slice(
                F.array_sort(F.collect_set("l_partkey")), 1, _REC_ORDER_CAP
            ).alias("ps")
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    co = (
        op_arr.select(F.explode(ordered_pair_structs("ps")).alias("pp"))
        .groupBy(
            F.col("pp.p1").alias("p1"), F.col("pp.p2").alias("p2")
        )
        .agg(F.count(F.lit(1)).alias("n_co"))
        # co_sym = co ∪ co.swap: unpersisted, BOTH union branches
        # re-run the pair explode + corpus-scale groupBy (the r13
        # plan audit showed the Generate→HashAggregate→Exchange
        # subtree twice under the co_sym union). Persisted, the
        # heaviest shuffle of the model build runs once and the
        # swap leg is a cache read of O(distinct pairs) rows.
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    nw = W.partitionBy("p").orderBy(F.col("n_co").desc(), F.col("q"))
    co_sym = (
        co.select(F.col("p1").alias("p"), F.col("p2").alias("q"), "n_co")
        .unionAll(
            co.select(F.col("p2").alias("p"), F.col("p1").alias("q"), "n_co")
        )
        .withColumn("nr", F.row_number().over(nw))
        .where(F.col("nr") <= _REC_NEIGH_CAP)
        .drop("nr")
    )
    profile = (
        op_arr.join(F.broadcast(eligible), "o_custkey")
        .select("o_custkey", F.explode("ps").alias("l_partkey"))
        .distinct()
        # two consumers (cand_src join + the ownership markers):
        # cache the distinct once instead of re-exchanging it per
        # branch
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # round-10 two-stage top-k, still ONE corpus-scale exchange —
    # now keyed (o_custkey, cand-bucket) so the hot customer's
    # candidate mass spreads over _REC_PART_BUCKETS partitions
    # instead of concentrating in one:
    # - the ownership anti-join is folded into the score agg as
    #   union MARKER rows (profile parts with n_co=0, __own=1;
    #   max(__own) flags owned candidates) — this deletes the
    #   sort-merge anti-join and both of its per-task sorts, the
    #   biggest memory stackers of the r9 stage (a first two-stage
    #   attempt that ADDED a second corpus-scale exchange instead
    #   traded the 8 g memory wall for this box's ~72 GB shuffle-
    #   scratch wall: SPILL_OUT_OF_MEMORY "No space left on
    #   device" at skewed-50x — recorded in PERFORMANCE.md);
    # - the per-(customer, bucket) partial top-K runs on the SAME
    #   exchange (partitioning {cust,bkt} ⊆ window keys), cutting
    #   what reaches the global per-customer sort to
    #   K * _REC_PART_BUCKETS rows per customer;
    # - correct because the global top-K has <= K members in any
    #   bucket, each surviving its bucket's top-K under the same
    #   (score desc, cand) total order, and marker rows add 0 to
    #   sums — a pure execution rewrite, oracle-identical.
    cand_src = profile.join(
        co_sym, profile.l_partkey == co_sym.p
    ).select(
        "o_custkey",
        F.col("q").alias("cand"),
        F.col("n_co").cast("long").alias("n_co"),
        F.lit(0).alias("__own"),
    )
    markers = profile.select(
        "o_custkey",
        F.col("l_partkey").alias("cand"),
        F.lit(0).cast("long").alias("n_co"),
        F.lit(1).alias("__own"),
    )
    pw = W.partitionBy("o_custkey", "__bkt").orderBy(
        F.col("score").desc(), F.col("cand")
    )
    scores = (
        cand_src.unionByName(markers)
        .withColumn(
            "__bkt", F.pmod(F.hash("cand"), F.lit(_REC_PART_BUCKETS))
        )
        .repartition("o_custkey", "__bkt")
        .groupBy("o_custkey", "__bkt", "cand")
        .agg(
            F.sum("n_co").cast("bigint").alias("score"),
            F.max("__own").alias("__own"),
        )
        .where(F.col("__own") == 0)
        .withColumn("__prnk", F.row_number().over(pw))
        .where(F.col("__prnk") <= _REC_K)
        .drop("__bkt", "__prnk", "__own")
    )
    rk = W.partitionBy("o_custkey").orderBy(F.col("score").desc(), F.col("cand"))
    topk = (
        scores.withColumn("rnk", F.row_number().over(rk))
        .where(F.col("rnk") <= _REC_K)
        .select("o_custkey", "cand", "rnk")
    )
    hits = topk.join(
        holdout.select(
            F.col("o_custkey").alias("ck_h"), F.col("l_partkey").alias("pk_h")
        ),
        (topk.o_custkey == F.col("ck_h")) & (topk.cand == F.col("pk_h")),
    ).groupBy("o_custkey").agg(F.min("rnk").alias("best_rnk"))
    per_cust = eligible.join(hits, "o_custkey", "left")
    return per_cust.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum(
            F.when(F.col("best_rnk").isNotNull(), 1).otherwise(0)
        ).cast("bigint").alias("n_hits"),
        F.round(
            F.sum(F.when(F.col("best_rnk").isNotNull(), 1).otherwise(0))
            * 1.0
            / F.count(F.lit(1)),
            6,
        ).alias("hit_rate"),
        F.sum(F.when(F.col("best_rnk") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_hits_at_1"),
        F.round(
            F.sum(
                F.coalesce(
                    F.round(F.lit(1000000.0) / F.col("best_rnk")).cast("bigint"),
                    F.lit(0),
                )
            )
            * 1.0
            / F.count(F.lit(1))
            / 1000000.0,
            6,
        ).alias("mrr"),
    )


# ---------------------------------------------------------------------------
# q238 — probability-calibration audit (reliability curve + ECE)
# ---------------------------------------------------------------------------

_CAL_SPLIT = "1999-01-01"

@register(
    "q238_calibration_curve",
    oracle=f"""
    WITH li AS (
      SELECT CAST(round(l.l_discount * 100) AS INTEGER) AS band,
             CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS ret,
             CASE WHEN o.o_orderdate < DATE '{_CAL_SPLIT}' THEN 1 ELSE 0 END
               AS is_train
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    model AS (
      SELECT band,
             CAST(round(sum(ret) * 1000000.0 / count(*)) AS BIGINT)
               AS p_hat_micro
      FROM li WHERE is_train = 1 GROUP BY band
    ),
    test AS (
      SELECT m.p_hat_micro, li.ret
      FROM li JOIN model m ON m.band = li.band
      WHERE li.is_train = 0
    ),
    binned AS (
      SELECT CAST(floor(p_hat_micro / 100000) AS INTEGER) AS bin,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(p_hat_micro) AS BIGINT) AS sum_p_micro,
             CAST(sum(ret) AS BIGINT) AS n_pos
      FROM test GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM binned)
    SELECT bin,
           n,
           round(sum_p_micro * 1.0 / n / 1000000.0, 6) AS avg_p_hat,
           round(n_pos * 1.0 / n, 6) AS actual_rate,
           round(abs(sum_p_micro * 1.0 / 1000000.0 - n_pos)
                 / t.n_total, 6) AS ece_contrib
    FROM binned CROSS JOIN tot t
    """,
)
def q238_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability curve of a discount-band return-rate model: fit
    per-band return probabilities on pre-1999 orders, score
    the later orders, and report per probability-decile bin the
    predicted-vs-actual rate plus its ECE contribution
    (n_b * |sum p_hat - sum y| / N — summing `ece_contrib` IS the
    expected calibration error). The is-my-quality-classifier-honest
    audit that decides whether model scores can gate a curation run.

    Determinism: p_hat is quantized to integer micro-units at the
    model (round(1e6 * rate)), so every later average is an exact
    BIGINT sum divided once — float summation order can never flip a
    digit on either engine.

    Scale shape: the model is |bands| rows (broadcast back); train
    and test are one scan each of the fact join (shared: a single
    scan with an is_train flag); bins are O(10) rows. Nothing
    corpus-sized survives the first aggregate."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    li = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .select(
            F.round(F.col("l_discount") * 100).cast("int").alias("band"),
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("ret"),
            F.when(
                F.col("o_orderdate") < F.lit(_CAL_SPLIT).cast("timestamp"), 1
            ).otherwise(0).alias("is_train"),
        )
    )
    model = (
        li.where(F.col("is_train") == 1)
        .groupBy("band")
        .agg(
            F.round(F.sum("ret") * 1000000.0 / F.count(F.lit(1)))
            .cast("bigint")
            .alias("p_hat_micro")
        )
    )
    test = li.where(F.col("is_train") == 0).join(F.broadcast(model), "band")
    binned = test.groupBy(
        F.floor(F.col("p_hat_micro") / 100000).cast("int").alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("p_hat_micro").cast("bigint").alias("sum_p_micro"),
        F.sum("ret").cast("bigint").alias("n_pos"),
    )
    tot = binned.agg(F.sum("n").cast("bigint").alias("n_total"))
    return binned.join(F.broadcast(tot)).select(
        "bin",
        "n",
        F.round(F.col("sum_p_micro") * 1.0 / F.col("n") / 1000000.0, 6).alias(
            "avg_p_hat"
        ),
        F.round(F.col("n_pos") * 1.0 / F.col("n"), 6).alias("actual_rate"),
        F.round(
            F.abs(F.col("sum_p_micro") * 1.0 / 1000000.0 - F.col("n_pos"))
            / F.col("n_total"),
            6,
        ).alias("ece_contrib"),
    )


# ---------------------------------------------------------------------------
# q235 — MMR diversity re-ranking of retrieval candidates
# ---------------------------------------------------------------------------

_MMR_NQ = 4          # query vectors: vec_id < 4
_MMR_CAND_K = 20     # candidate pool per query (relevance top-k)
_MMR_SEL_K = 8       # final diverse selection size
_MMR_LAM10 = 7       # lambda in tenths: score = (7*rel - 3*maxsim)/10


def _mmr_oracle() -> str:
    """Unrolled greedy MMR in DuckDB: candidate pool = exact cosine
    top-20 per query (q70's oracle shape), then _MMR_SEL_K argmax
    rounds over the EXACT integer score `7*rel_micro - 3*maxsim_micro`
    (micro-units of the rounded-6 cosines; no float round, no DuckDB
    DECIMAL-literal trap) with id tie-breaks.
    Iterative CTE chains referenced more than once are MATERIALIZED
    (DuckDB inlines them exponentially otherwise)."""
    head = f"""
    WITH expl AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(unnest(q.embedding) AS DOUBLE) AS qe,
             CAST(unnest(c.embedding) AS DOUBLE) AS ce
      FROM embeddings q JOIN embeddings c
        ON q.vec_id < {_MMR_NQ} AND q.vec_id <> c.vec_id
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             round(sum(qe * ce) / (sqrt(sum(qe * qe)) * sqrt(sum(ce * ce))), 6)
               AS rel
      FROM expl GROUP BY 1, 2
    ),
    cand AS MATERIALIZED (
      SELECT query_id, neighbor_id, rel,
             CAST(round(rel * 1000000) AS BIGINT) AS rel_micro
      FROM (
        SELECT query_id, neighbor_id, rel,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY rel DESC, neighbor_id) AS rn
        FROM scored
      ) WHERE rn <= {_MMR_CAND_K}
    ),
    ce AS (
      SELECT c.query_id, c.neighbor_id, e.embedding
      FROM cand c JOIN embeddings e ON e.vec_id = c.neighbor_id
    ),
    pwx AS (
      SELECT a.query_id, a.neighbor_id AS ida, b.neighbor_id AS idb,
             CAST(unnest(a.embedding) AS DOUBLE) AS ae,
             CAST(unnest(b.embedding) AS DOUBLE) AS be
      FROM ce a JOIN ce b
        ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id
    ),
    pw AS MATERIALIZED (
      SELECT query_id, ida, idb,
             CAST(round(round(sum(ae * be)
                              / (sqrt(sum(ae * ae)) * sqrt(sum(be * be))), 6)
                        * 1000000) AS BIGINT) AS sim_micro
      FROM pwx GROUP BY 1, 2, 3
    ),
    sel1 AS MATERIALIZED (
      SELECT query_id, neighbor_id, 1 AS mmr_rank, score_m10
      FROM (
        SELECT query_id, neighbor_id,
               CAST({_MMR_LAM10} * rel_micro AS BIGINT) AS score_m10,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY {_MMR_LAM10} * rel_micro DESC,
                                           neighbor_id) AS rn
        FROM cand
      ) WHERE rn = 1
    )"""
    rounds = []
    for r in range(2, _MMR_SEL_K + 1):
        rounds.append(f""",
    sel{r} AS MATERIALIZED (
      SELECT * FROM sel{r - 1}
      UNION ALL
      SELECT query_id, neighbor_id, {r} AS mmr_rank, score_m10 FROM (
        SELECT c.query_id, c.neighbor_id,
               CAST({_MMR_LAM10} * c.rel_micro
                    - {10 - _MMR_LAM10} * ms.m AS BIGINT) AS score_m10,
               row_number() OVER (
                 PARTITION BY c.query_id
                 ORDER BY {_MMR_LAM10} * c.rel_micro
                          - {10 - _MMR_LAM10} * ms.m DESC,
                          c.neighbor_id) AS rn
        FROM cand c
        JOIN (SELECT pw.query_id, pw.ida, max(pw.sim_micro) AS m
              FROM pw JOIN sel{r - 1} s
                ON s.query_id = pw.query_id AND s.neighbor_id = pw.idb
              GROUP BY 1, 2) ms
          ON ms.query_id = c.query_id AND ms.ida = c.neighbor_id
        WHERE NOT EXISTS (SELECT 1 FROM sel{r - 1} s2
                          WHERE s2.query_id = c.query_id
                            AND s2.neighbor_id = c.neighbor_id)
      ) WHERE rn = 1
    )""")
    tail = f"""
    SELECT query_id, neighbor_id, CAST(mmr_rank AS INTEGER) AS mmr_rank,
           score_m10 * 1.0 / 10000000.0 AS score
    FROM sel{_MMR_SEL_K}
    """
    return head + "".join(rounds) + tail


@register("q235_mmr_rerank", oracle=_mmr_oracle())
def q235_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-ranking: for each query vector,
    take the exact cosine top-20 candidate pool (q70's operator),
    then greedily select 8 maximizing `0.7*relevance - 0.3*max
    similarity to the already-selected set` — the diversity-aware
    context builder for RAG (don't feed the LLM eight copies of the
    same passage). Carbonell & Goldstein's MMR (SIGIR'98), expressed
    as DataFrame rounds.

    Determinism: relevance and pairwise sims are rounded to 6 and
    quantized to integer micro-units BEFORE the greedy loop; the
    score `(7*rel - 3*maxsim)/10` is then exact BIGINT arithmetic on
    both engines (a float lambda would hit DuckDB's DECIMAL literal
    parsing and round() divergence — measured, one micro off), and
    each argmax orders by (integer score, id).

    Scale shape: the corpus appears ONLY in the candidate-pool
    top-k (one broadcast-query scan, q70's plan). Everything
    iterative runs on the 4x20 candidate relation and its 4x20x19
    pairwise-sim table — per-query-bounded by construction, so the
    greedy rounds cost O(queries * cand_k^2) TOTAL, independent of
    corpus size; each round localCheckpoints to keep the plan flat.
    At 100 TB the pool build is the only job that sees data."""
    from citybikedatawarehouse_spark.functions.vectors import (
        cosine_hoisted,
        norm,
    )
    from citybikedatawarehouse_spark.operators.similarity_ops import (
        brute_force_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cand = brute_force_topk(
        emb, emb.filter(F.col("vec_id") < _MMR_NQ), k=_MMR_CAND_K
    ).select(
        "query_id",
        "neighbor_id",
        F.round(F.col("cos_sim") * 1000000).cast("bigint").alias("rel_micro"),
    )
    cand = cand.localCheckpoint(eager=True)

    ce = cand.join(
        emb.select(F.col("vec_id"), "embedding"),
        cand.neighbor_id == F.col("vec_id"),
    ).select("query_id", "neighbor_id", "embedding", norm("embedding").alias("__n"))
    a = ce.select(
        F.col("query_id").alias("qa"),
        F.col("neighbor_id").alias("ida"),
        F.col("embedding").alias("__va"),
        F.col("__n").alias("__na"),
    )
    b = ce.select(
        F.col("query_id").alias("qb"),
        F.col("neighbor_id").alias("idb"),
        F.col("embedding").alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    pw = (
        a.join(b, (F.col("qa") == F.col("qb")) & (F.col("ida") != F.col("idb")))
        .select(
            F.col("qa").alias("query_id"),
            "ida",
            "idb",
            F.round(
                F.round(cosine_hoisted("__va", "__vb", "__na", "__nb"), 6)
                * 1000000
            ).cast("bigint").alias("sim_micro"),
        )
        .localCheckpoint(eager=True)
    )

    lam, mu = _MMR_LAM10, 10 - _MMR_LAM10
    w = W.partitionBy("query_id").orderBy(
        F.col("score_m10").desc(), F.col("neighbor_id")
    )
    selected = (
        cand.withColumn(
            "score_m10", (F.lit(lam) * F.col("rel_micro")).cast("bigint")
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "query_id", "neighbor_id", F.lit(1).alias("mmr_rank"), "score_m10"
        )
        .localCheckpoint(eager=True)
    )
    for r in range(2, _MMR_SEL_K + 1):
        sel_ids = selected.select(
            F.col("query_id").alias("qs"), F.col("neighbor_id").alias("ids")
        )
        ms = (
            pw.join(
                sel_ids,
                (pw.query_id == F.col("qs")) & (pw.idb == F.col("ids")),
            )
            .groupBy(F.col("query_id").alias("qm"), F.col("ida"))
            .agg(F.max("sim_micro").alias("m"))
        )
        pick = (
            cand.join(
                sel_ids,
                (cand.query_id == F.col("qs"))
                & (cand.neighbor_id == F.col("ids")),
                "left_anti",
            )
            .join(
                ms,
                (cand.query_id == F.col("qm"))
                & (cand.neighbor_id == F.col("ida")),
            )
            .withColumn(
                "score_m10",
                (
                    F.lit(lam) * F.col("rel_micro") - F.lit(mu) * F.col("m")
                ).cast("bigint"),
            )
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(
                "query_id", "neighbor_id", F.lit(r).alias("mmr_rank"),
                "score_m10",
            )
        )
        selected = selected.unionAll(pick).localCheckpoint(eager=True)
    return selected.select(
        "query_id",
        "neighbor_id",
        F.col("mmr_rank").cast("int").alias("mmr_rank"),
        (F.col("score_m10") * 1.0 / 10000000.0).alias("score"),
    )


# ---------------------------------------------------------------------------
# q236 — k-center greedy coreset (farthest-point sampling)
# ---------------------------------------------------------------------------

_KC_K = 8


def _kcenter_oracle() -> str:
    """Unrolled greedy farthest-point selection: center 1 = min
    vec_id, then argmax-of-min-cosine-distance rounds with id
    tie-breaks. Per-round CTEs are MATERIALIZED."""
    dist = (
        "round(1 - sum(pe * ce) / (sqrt(sum(pe * pe)) * sqrt(sum(ce * ce))), 6)"
    )
    head = f"""
    WITH e AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
    c1 AS MATERIALIZED (
      SELECT vec_id, embedding FROM e
      WHERE vec_id = (SELECT min(vec_id) FROM e)
    ),
    d1 AS MATERIALIZED (
      SELECT t.vec_id, {dist} AS mind FROM (
        SELECT p.vec_id,
               CAST(unnest(p.embedding) AS DOUBLE) AS pe,
               CAST(unnest(c.embedding) AS DOUBLE) AS ce
        FROM e p CROSS JOIN c1 c
      ) t GROUP BY t.vec_id
    )"""
    rounds = []
    for r in range(2, _KC_K + 1):
        rounds.append(f""",
    c{r} AS MATERIALIZED (
      SELECT e.vec_id, e.embedding FROM e
      JOIN (SELECT vec_id FROM d{r - 1}
            ORDER BY mind DESC, vec_id LIMIT 1) s
        ON s.vec_id = e.vec_id
    ),
    dd{r} AS (
      SELECT t.vec_id, {dist} AS d FROM (
        SELECT p.vec_id,
               CAST(unnest(p.embedding) AS DOUBLE) AS pe,
               CAST(unnest(c.embedding) AS DOUBLE) AS ce
        FROM e p CROSS JOIN c{r} c
      ) t GROUP BY t.vec_id
    ),
    d{r} AS MATERIALIZED (
      SELECT a.vec_id, least(a.mind, b.d) AS mind
      FROM d{r - 1} a JOIN dd{r} b ON b.vec_id = a.vec_id
    )"""
        )
    sels = [
        """
    SELECT 1 AS sel_round,
           CAST((SELECT vec_id FROM c1) AS BIGINT) AS center_id,
           (SELECT max(mind) FROM d1) AS radius"""
    ]
    for r in range(2, _KC_K + 1):
        sels.append(f"""
    SELECT {r} AS sel_round,
           CAST((SELECT vec_id FROM c{r}) AS BIGINT) AS center_id,
           (SELECT max(mind) FROM d{r}) AS radius""")
    return head + "".join(rounds) + " UNION ALL ".join(sels)


@register("q236_kcenter_coreset", oracle=_kcenter_oracle())
def q236_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center (farthest-point) coreset selection over the
    embedding corpus: seed with the smallest vec_id, then 7 rounds
    of "add the point farthest from every chosen center", reporting
    each center and the coverage radius (max over points of min
    cosine distance to the selected set) after it joins. The
    label-this-subset-first selector for active learning / dataset
    distillation (Sener & Savarese's k-Center-Greedy core-set
    formulation, ICLR'18) — its 2-approximation guarantee is what
    makes the greedy order THE priority order for annotation budget.

    Determinism: distances round to 6 before the argmax; ties break
    on vec_id; both engines walk the identical greedy sequence.

    Scale shape: each round is ONE corpus map (distance to the new
    1-row broadcast center) + a min update + a TakeOrdered(1) — no
    pairwise matrix ever exists, state per row is a single double,
    and localCheckpoint per round keeps lineage flat. k rounds =
    k linear passes, the textbook distributed FPS layout; the
    argmax and radius ride the same 1-row reduces."""
    from citybikedatawarehouse_spark.functions.vectors import (
        cosine_hoisted,
        norm,
    )

    emb = _t(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id", "embedding", norm("embedding").alias("__n")
    ).localCheckpoint(eager=True)

    first = pts.orderBy("vec_id").limit(1)

    def with_dist(frame, center_df):
        """One pass over `frame` (which carries vec_id, embedding,
        __n, and possibly mind): rounded cosine distance to the
        1-row broadcast center, as column `d`."""
        c = center_df.select(
            F.col("embedding").alias("__cv"), F.col("__n").alias("__cn")
        )
        return frame.crossJoin(F.broadcast(c)).withColumn(
            "d",
            F.round(1 - cosine_hoisted("embedding", "__cv", "__n", "__cn"), 6),
        )

    def radius_row(frame, center_df, r):
        return (
            frame.agg(F.max("mind").alias("radius"))
            .crossJoin(
                F.broadcast(center_df.select(F.col("vec_id").alias("center_id")))
            )
            .select(
                F.lit(r).alias("sel_round"),
                F.col("center_id").cast("bigint").alias("center_id"),
                "radius",
            )
        )

    cur = (
        with_dist(pts, first)
        .select("vec_id", "embedding", "__n", F.col("d").alias("mind"))
        .localCheckpoint(eager=True)
    )
    results = [radius_row(cur, first, 1)]
    for r in range(2, _KC_K + 1):
        nxt = (
            cur.orderBy(F.col("mind").desc(), "vec_id")
            .limit(1)
            .select("vec_id", "embedding", "__n")
            .localCheckpoint(eager=True)
        )
        cur = (
            with_dist(cur, nxt)
            .select(
                "vec_id",
                "embedding",
                "__n",
                F.least(F.col("mind"), F.col("d")).alias("mind"),
            )
            .localCheckpoint(eager=True)
        )
        results.append(radius_row(cur, nxt, r))
    out = results[0]
    for x in results[1:]:
        out = out.unionAll(x)
    return out
