"""Event/behavioral analytics and robust-statistics operators
(SURVEY.md §2.4 north-star extensions): funnel conversion, retention
cohorts, linear-interpolation gap fill, MAD outlier detection,
PII pseudonymization + k-anonymity audit, winsorized aggregates, and
PageRank over a fact-derived co-purchase graph.

The reference (LauraIkic/CityBikeDataWarehouse) exposes none of
these — its surface stops at dimensional ETL (`check_and_create_db.py`,
`create_db_from_csv.py`) — but they are the queries its star schema exists
to serve, so they complete the engine's analytics story the same way
the curation suite completes its LLM-pipeline story.

Every query is oracle-paired; cross-engine determinism rules follow
the catalog conventions (integer cents before double division,
explicit floor before integer casts, percentile == quantile_cont).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from citybikedatawarehouse_spark.functions.keys import cms_buckets_sql
from citybikedatawarehouse_spark.plans.catalog import register
from citybikedatawarehouse_spark.sources.readers import load_table as _t


# ---------------------------------------------------------------------------
# q128 — funnel conversion over the events stream
# ---------------------------------------------------------------------------

@register(
    "q128_funnel_conversion",
    oracle="""
    WITH s AS (
      SELECT user_id, min(ts) AS t_signup
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    v AS (
      SELECT e.user_id, min(e.ts) AS t_view
      FROM events e JOIN s USING (user_id)
      WHERE e.event_type IN ('view', 'click') AND e.ts > s.t_signup
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > v.t_view
      GROUP BY e.user_id
    )
    SELECT count(s.t_signup) AS n_signup,
           count(v.t_view) AS n_engaged,
           count(p.t_purchase) AS n_converted,
           round(count(v.t_view) * 1.0 / nullif(count(s.t_signup), 0), 6)
             AS engage_rate,
           round(count(p.t_purchase) * 1.0 / nullif(count(v.t_view), 0), 6)
             AS convert_rate
    FROM s LEFT JOIN v USING (user_id) LEFT JOIN p USING (user_id)
    """,
)
def q128_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered three-stage funnel (signup → first view/click AFTER
    signup → first purchase AFTER that engagement): per-stage user
    counts and stage-to-stage conversion rates. The ORDER constraint
    is what separates a funnel from three filters — a purchase
    before engagement does not convert.

    Scale shape: three aggregates and two joins, all keyed on
    ``user_id`` — one shuffle key throughout, so AQE coalesces the
    chain onto a single exchange footprint, and each stage's input
    shrinks (events → engaged users → converted users). No windows,
    no per-user event collection (per-user arrays are the skew trap
    a power user's million events would spring)."""
    ev = _t(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    v = (
        ev.filter(F.col("event_type").isin("view", "click"))
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    fun = s.join(v, "user_id", "left").join(p, "user_id", "left")
    n_s = F.count("t_signup")
    n_v = F.count("t_view")
    n_p = F.count("t_purchase")
    return fun.agg(
        n_s.alias("n_signup"),
        n_v.alias("n_engaged"),
        n_p.alias("n_converted"),
        F.round(n_v * 1.0 / F.nullif(n_s, F.lit(0)), 6).alias("engage_rate"),
        F.round(n_p * 1.0 / F.nullif(n_v, F.lit(0)), 6).alias("convert_rate"),
    )


# ---------------------------------------------------------------------------
# q140 — conversion latency distribution
# ---------------------------------------------------------------------------

@register(
    "q140_conversion_latency",
    oracle="""
    WITH s AS (
      SELECT user_id, min(ts) AS t_signup
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id,
             epoch_us(min(e.ts)) - epoch_us(s.t_signup) AS lat_us
      FROM events e JOIN s USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s.t_signup
      GROUP BY e.user_id, s.t_signup
    )
    SELECT count(*) AS n_converted,
           round(quantile_cont(lat_us, 0.5) / 1e6, 6) AS p50_sec,
           round(quantile_cont(lat_us, 0.9) / 1e6, 6) AS p90_sec,
           round(max(lat_us) / 1e6, 6) AS max_sec
    FROM p
    """,
)
def q140_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: per user, latency from first
    signup to first subsequent purchase; reported as exact
    interpolated p50/p90/max seconds — the SLA-style companion to
    q128's conversion rates (rates say HOW MANY convert, latency
    says how long the window must stay attributed).

    Determinism: latencies are exact integer MICROSECONDS
    (``unix_micros`` == ``epoch_us``; Spark's second-granularity
    ``unix_timestamp`` would truncate differently than DuckDB's
    epoch) and the percentile rule is q28's. Scale shape: two
    aggregates on user_id + one percentile pass over the
    converted-users relation."""
    ev = _t(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("t_signup"))
        .groupBy("user_id", "t_signup")
        .agg(F.min("ts").alias("t_purchase"))
        .select(
            (
                F.unix_micros(F.col("t_purchase").cast("timestamp"))
                - F.unix_micros(F.col("t_signup").cast("timestamp"))
            ).alias("lat_us")
        )
    )
    return p.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.expr("percentile(lat_us, 0.5)") / 1e6, 6).alias("p50_sec"),
        F.round(F.expr("percentile(lat_us, 0.9)") / 1e6, 6).alias("p90_sec"),
        F.round(F.max("lat_us") / 1e6, 6).alias("max_sec"),
    )


# ---------------------------------------------------------------------------
# q129 — weekly retention cohorts
# ---------------------------------------------------------------------------

@register(
    "q129_retention_cohorts",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num
      FROM events
    ),
    c AS (SELECT user_id, min(day_num) AS cohort_day FROM ud GROUP BY user_id),
    j AS (
      SELECT CAST(floor(c.cohort_day / 7.0) AS BIGINT) AS cohort_week,
             CAST(floor((ud.day_num - c.cohort_day) / 7.0) AS BIGINT)
               AS week_offset,
             ud.user_id
      FROM ud JOIN c USING (user_id)
    ),
    r AS (
      SELECT cohort_week, week_offset, count(DISTINCT user_id) AS n_users
      FROM j GROUP BY 1, 2
    ),
    base AS (
      SELECT cohort_week, n_users AS cohort_size FROM r WHERE week_offset = 0
    )
    SELECT r.cohort_week, r.week_offset, r.n_users,
           round(r.n_users * 1.0 / base.cohort_size, 6) AS retention
    FROM r JOIN base USING (cohort_week)
    """,
)
def q129_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohort matrix: users grouped by the week of
    their FIRST activity; each cell = how many of them were active
    ``week_offset`` weeks later, as a fraction of the cohort. The
    offset-0 cell is the cohort size by construction (every user is
    active in their first week), so ``retention`` is normalized.

    Determinism: day and week arithmetic is pure integer math with
    an explicit floor before the bigint cast on BOTH engines (the
    q97 ADVICE rule — Spark's bare cast truncates while DuckDB's
    rounds). Scale shape: events collapse to distinct (user, day)
    pairs first — the only corpus-sized shuffle; everything after
    runs on O(users) and O(weeks²) rows."""
    ev = _t(spark, sf_dir, "events")
    ud = ev.select(
        "user_id",
        F.datediff(
            F.to_date("ts"), F.lit("1970-01-01").cast("date")
        ).alias("day_num"),
    ).distinct()
    c = ud.groupBy("user_id").agg(F.min("day_num").alias("cohort_day"))
    j = ud.join(c, "user_id").select(
        F.floor(F.col("cohort_day") / 7.0).cast("bigint").alias("cohort_week"),
        F.floor((F.col("day_num") - F.col("cohort_day")) / 7.0)
        .cast("bigint")
        .alias("week_offset"),
        "user_id",
    )
    r = j.groupBy("cohort_week", "week_offset").agg(
        F.count_distinct("user_id").alias("n_users")
    )
    base = r.filter(F.col("week_offset") == 0).select(
        "cohort_week", F.col("n_users").alias("cohort_size")
    )
    return r.join(F.broadcast(base), "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_users",
        F.round(F.col("n_users") * 1.0 / F.col("cohort_size"), 6).alias(
            "retention"
        ),
    )


# ---------------------------------------------------------------------------
# q130 — linear-interpolation gap fill (the interpolating sibling of
# q121's LOCF)
# ---------------------------------------------------------------------------

@register(
    "q130_gap_fill_interp",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS day_num,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS day_cents
      FROM orders GROUP BY 1
    ),
    bounds AS (SELECT min(day_num) AS lo, max(day_num) AS hi FROM daily),
    axis AS (SELECT unnest(generate_series(lo, hi)) AS day_num FROM bounds),
    joined AS (
      SELECT a.day_num, d.day_cents FROM axis a LEFT JOIN daily d USING (day_num)
    ),
    f AS (
      SELECT day_num, day_cents,
             last_value(day_cents IGNORE NULLS) OVER wp AS prev_cents,
             last_value(CASE WHEN day_cents IS NOT NULL THEN day_num END
                        IGNORE NULLS) OVER wp AS prev_day,
             first_value(day_cents IGNORE NULLS) OVER wn AS next_cents,
             first_value(CASE WHEN day_cents IS NOT NULL THEN day_num END
                         IGNORE NULLS) OVER wn AS next_day
      FROM joined
      WINDOW
        wp AS (ORDER BY day_num ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        wn AS (ORDER BY day_num ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT strftime(DATE '1970-01-01' + to_days(CAST(day_num AS INTEGER)),
                    '%Y-%m-%d') AS day,
           day_cents IS NULL AS is_gap,
           round(CASE
             WHEN day_cents IS NOT NULL THEN day_cents
             WHEN prev_cents IS NOT NULL AND next_cents IS NOT NULL THEN
               prev_cents
               + CAST(floor(CAST((next_cents - prev_cents)
                                 * (day_num - prev_day) AS DOUBLE)
                            / (next_day - prev_day)) AS BIGINT)
             ELSE coalesce(prev_cents, next_cents)
           END / 100.0, 2) AS interp_revenue
    FROM f
    """,
)
def q130_gap_fill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling by LINEAR INTERPOLATION between the
    nearest observed neighbors — the unbiased resample primitive for
    downstream feature windows (LOCF, q121, biases trailing
    averages toward the last observation; interpolation splits the
    gap). Observed days pass through unchanged; leading/trailing
    gaps (no neighbor on one side) fall back to the single available
    neighbor.

    Determinism: revenue in exact integer cents, and the
    interpolated value is FLOORED to whole cents — the intermediate
    ratio is one double division whose floor both engines agree on
    (exact-integer ratios are exactly representable; non-integer
    ratios sit ≥ 1/gap away from the floor boundary), so the output
    never lands on a round-half decimal where Spark (shortest-repr
    HALF_UP) and DuckDB (raw-bits) disagree. The numerator stays
    integer (bigint, overflow-safe: cents × day gaps ≪ 2^63).
    Scale shape: q121's — the fact
    table pre-aggregates to one row per day, and the axis explode +
    both windows run on O(days) rows in a single bounded partition."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
        ).alias("day_num")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("day_cents")
    )
    bounds = daily.agg(
        F.min("day_num").alias("__lo"), F.max("day_num").alias("__hi")
    )
    axis = bounds.select(F.explode(F.sequence("__lo", "__hi")).alias("day_num"))
    joined = axis.join(daily, "day_num", "left")
    wp = (
        W.partitionBy(F.lit(0))
        .orderBy("day_num")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wn = (
        W.partitionBy(F.lit(0))
        .orderBy("day_num")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    obs_day = F.when(F.col("day_cents").isNotNull(), F.col("day_num"))
    f = joined.select(
        "day_num",
        "day_cents",
        F.last("day_cents", ignorenulls=True).over(wp).alias("prev_cents"),
        F.last(obs_day, ignorenulls=True).over(wp).alias("prev_day"),
        F.first("day_cents", ignorenulls=True).over(wn).alias("next_cents"),
        F.first(obs_day, ignorenulls=True).over(wn).alias("next_day"),
    )
    interp_cents = (
        F.when(F.col("day_cents").isNotNull(), F.col("day_cents"))
        .when(
            F.col("prev_cents").isNotNull() & F.col("next_cents").isNotNull(),
            F.col("prev_cents")
            + F.floor(
                (
                    (F.col("next_cents") - F.col("prev_cents"))
                    * (F.col("day_num") - F.col("prev_day"))
                ).cast("double")
                / (F.col("next_day") - F.col("prev_day"))
            ).cast("bigint"),
        )
        .otherwise(F.coalesce("prev_cents", "next_cents"))
    )
    return f.select(
        F.date_format(
            F.date_add(F.lit("1970-01-01").cast("date"), F.col("day_num")),
            "yyyy-MM-dd",
        ).alias("day"),
        F.col("day_cents").isNull().alias("is_gap"),
        F.round(interp_cents / 100.0, 2).alias("interp_revenue"),
    )


# ---------------------------------------------------------------------------
# q131 — robust outlier detection (median / MAD z-score)
# ---------------------------------------------------------------------------

@register(
    "q131_outlier_mad",
    oracle="""
    WITH m AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ),
    d AS (
      SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS dev
      FROM events e JOIN m USING (event_type)
    ),
    md AS (
      SELECT event_type, quantile_cont(dev, 0.5) AS mad FROM d GROUP BY event_type
    ),
    z AS (
      SELECT d.event_type, d.med, md.mad,
             0.6745 * (d.value - d.med) / nullif(md.mad, 0) AS rz
      FROM d JOIN md USING (event_type)
    )
    SELECT event_type, count(*) AS n,
           round(min(med), 6) AS med,
           round(min(mad), 6) AS mad,
           CAST(sum(CASE WHEN abs(rz) > 3.5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers,
           round(max(abs(rz)), 6) AS max_abs_z
    FROM z GROUP BY event_type
    """,
)
def q131_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier detection: modified z-score
    0.6745·(x − median)/MAD with the |z| > 3.5 rule (Iglewicz &
    Hoaglin). Mean/stddev z-scores break down exactly when outliers
    are present (the outliers inflate the stddev that is supposed to
    expose them); median/MAD has a 50% breakdown point — this is the
    screening gate a metrics pipeline runs before training on
    `value`-like measures.

    Determinism: exact interpolated medians (Spark `percentile` ==
    DuckDB `quantile_cont`, both R-7 — the q28 rule); per-row z is
    a fixed FP expression; group extremes (min/max) pick identical
    values. Scale shape: two grouped percentile passes and two
    broadcast joins of a groups-sized relation — the events table is
    scanned twice but never shuffled by anything wider than
    event_type; a zero MAD (>50% identical values) yields NULL z
    via nullif, excluded from outlier counts rather than inf."""
    ev = _t(spark, sf_dir, "events")
    m = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    d = ev.join(F.broadcast(m), "event_type").select(
        "event_type",
        "value",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("dev"),
    )
    md = d.groupBy("event_type").agg(
        F.expr("percentile(dev, 0.5)").alias("mad")
    )
    z = d.join(F.broadcast(md), "event_type").select(
        "event_type",
        "med",
        "mad",
        (
            0.6745
            * (F.col("value") - F.col("med"))
            / F.nullif(F.col("mad"), F.lit(0))
        ).alias("rz"),
    )
    return z.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("med"), 6).alias("med"),
        F.round(F.min("mad"), 6).alias("mad"),
        F.sum(F.when(F.abs("rz") > 3.5, 1).otherwise(0))
        .cast("bigint")
        .alias("n_outliers"),
        F.round(F.max(F.abs("rz")), 6).alias("max_abs_z"),
    )


# ---------------------------------------------------------------------------
# q132 — PII pseudonymization + k-anonymity audit
# ---------------------------------------------------------------------------

@register(
    "q132_pii_scrub",
    oracle="""
    SELECT c_custkey,
           substr(sha256(c_name), 1, 16) AS pseudonym,
           regexp_replace(c_name, '[0-9]+', '[ID]', 'g') AS masked_name,
           c_mktsegment,
           CAST(count(*) OVER (PARTITION BY c_nationkey, c_mktsegment)
                AS BIGINT) AS group_k,
           count(*) OVER (PARTITION BY c_nationkey, c_mktsegment) >= 5
             AS k_anonymous
    FROM customer
    """,
)
def q132_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub for training-data / analytics export: (a)
    deterministic pseudonymization — a sha256-derived token replaces
    the direct identifier, stable across runs so joins on the
    pseudonym still work, irreversible without the original; (b)
    pattern masking — digit runs inside free text collapse to
    ``[ID]`` (the curation-pipeline regex-scrub step); (c) a
    k-anonymity audit over the quasi-identifier pair
    (nation, market segment) — rows whose group has fewer than k=5
    members are flagged as re-identifiable even after masking.

    Determinism: sha256 hex and regexp semantics agree across
    engines (DuckDB needs the explicit 'g' flag — its default
    replaces only the first match, Spark's replaces all). Scale
    shape: pure per-row expressions plus ONE window keyed by the
    quasi-identifier — a single shuffle, no self-joins; at 100 TB
    the window becomes a broadcast join of the pre-aggregated group
    sizes."""
    c = _t(spark, sf_dir, "customer")
    wk = W.partitionBy("c_nationkey", "c_mktsegment")
    group_k = F.count(F.lit(1)).over(wk).cast("bigint")
    return c.select(
        "c_custkey",
        F.substring(F.sha2("c_name", 256), 1, 16).alias("pseudonym"),
        F.regexp_replace("c_name", "[0-9]+", "[ID]").alias("masked_name"),
        "c_mktsegment",
        group_k.alias("group_k"),
        (group_k >= 5).alias("k_anonymous"),
    )


# ---------------------------------------------------------------------------
# q133 — PageRank over the co-purchase graph
# ---------------------------------------------------------------------------

_PAGERANK_ITER = 5
_PAGERANK_DAMPING = 0.85
_COPURCHASE_CAP = 20


def _copurchase_pairs(lineitem: DataFrame) -> DataFrame:
    """Canonical (p1 < p2) co-purchase pairs, shared by q133 and
    q176. ONE groupBy replaces the naive distinct + per-order window
    + self-join (three corpus-scale exchanges → one, measured 13 s →
    ~5 s edge build at sf0.1): collect_set dedups parts within the
    order, array_sort + slice applies the deterministic
    ``_COPURCHASE_CAP`` (one degenerate mega-order cannot go
    quadratic), and the ordered-pair fan-out is a per-row HOF over
    the (≤20-element) array — identical pair set to the oracles'
    row_number formulation. Returns rows of ``pp`` structs
    (pp.p1 < pp.p2)."""
    from citybikedatawarehouse_spark.functions.arrays import (
        ordered_pair_structs,
    )

    li = lineitem.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    )
    per_order = li.groupBy("ok").agg(
        F.slice(
            F.array_sort(F.collect_set("pk")), 1, _COPURCHASE_CAP
        ).alias("ps")
    )
    return per_order.select(F.explode(ordered_pair_structs("ps")).alias("pp"))


_COPURCHASE_PAIRS_SQL = f"""
    li AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    capped AS (
      SELECT ok, pk FROM (
        SELECT ok, pk, row_number() OVER (PARTITION BY ok ORDER BY pk) AS rn
        FROM li
      ) WHERE rn <= {_COPURCHASE_CAP}
    ),
    pairs AS (
      SELECT a.pk AS p1, b.pk AS p2
      FROM capped a JOIN capped b ON a.ok = b.ok AND a.pk < b.pk
    )"""


def _pagerank_oracle() -> str:
    head = f"""
    WITH li AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    capped AS (
      SELECT ok, pk FROM (
        SELECT ok, pk, row_number() OVER (PARTITION BY ok ORDER BY pk) AS rn
        FROM li
      ) WHERE rn <= {_COPURCHASE_CAP}
    ),
    pairs AS (
      SELECT a.pk AS p1, b.pk AS p2
      FROM capped a JOIN capped b ON a.ok = b.ok AND a.pk < b.pk
    ),
    edges AS (
      SELECT DISTINCT p1 AS src, p2 AS dst FROM pairs
      UNION SELECT DISTINCT p2, p1 FROM pairs
    ),
    deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT count(*) AS n FROM nodes),
    r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS pr FROM nodes)"""
    steps = []
    d = _PAGERANK_DAMPING
    for k in range(1, _PAGERANK_ITER + 1):
        steps.append(f""",
    r{k} AS (
      SELECT n.node,
             (1 - {d}) / (SELECT n FROM nn)
               + {d} * coalesce(inf.inflow, 0) AS pr
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, sum(r.pr / d.deg) AS inflow
        FROM edges e JOIN deg d ON e.src = d.src
                     JOIN r{k - 1} r ON r.node = e.src
        GROUP BY e.dst
      ) inf USING (node)
    )""")
    return (
        head
        + "".join(steps)
        + f"""
    SELECT node AS part_id, round(pr, 10) AS pr FROM r{_PAGERANK_ITER}
    """
    )


@register("q133_copurchase_pagerank", oracle=_pagerank_oracle())
def q133_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 5 fixed iterations) over the
    co-purchase graph: parts are linked when they appear in the same
    order — the classic "centrality of a catalog item" signal for
    recommendations and for importance-weighted sampling of graph
    neighborhoods. The graph DERIVES from the fact table at query
    time; no graph store needed.

    Edge generation caps items per order at 20 (row_number by
    part id, deterministic) so one degenerate mega-order cannot go
    quadratic — the same skew rule as the LSH bucket cap, applied
    identically in the oracle. Isolated parts (never co-purchased)
    are out of the node set by construction; with bidirectional
    edges every node has out-degree ≥ 1, so no dangling-mass term.

    Oracle: DuckDB replays the exact recurrence as a 5-step CTE
    chain. Ranks are rounded at 1e-10 — summation-order drift on
    O(degree) additions of O(1/|V|) doubles is below 1e-15.

    Scale shape: see operators/graph.py — per iteration ONE join
    pre-partitioned on src + one map-side-combinable aggregate;
    edges/degrees materialized once."""
    from citybikedatawarehouse_spark.operators.graph import pagerank

    pairs = _copurchase_pairs(_t(spark, sf_dir, "lineitem"))
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("pp.p1").alias("src"), F.col("pp.p2").alias("dst")
                ),
                F.struct(
                    F.col("pp.p2").alias("src"), F.col("pp.p1").alias("dst")
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    # opt-in rank broadcast: this graph's node set is the part
    # catalog (dim-sized by construction), so the per-iteration join
    # ships O(|V|) ranks instead of letting the planner broadcast the
    # O(|E|) edge relation n_iter times (see operators/graph.py)
    ranks = pagerank(
        edges,
        damping=_PAGERANK_DAMPING,
        n_iter=_PAGERANK_ITER,
        broadcast_ranks=True,
    )
    return ranks.select(
        F.col("node").alias("part_id"), F.round("rank", 10).alias("pr")
    )


# ---------------------------------------------------------------------------
# q137 — event-type transition matrix (first-order Markov)
# ---------------------------------------------------------------------------

@register(
    "q137_event_transitions",
    oracle="""
    WITH t AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events
    ),
    c AS (
      SELECT from_type, to_type, count(*) AS n
      FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_type, to_type, n,
           round(n * 1.0 / sum(n) OVER (PARTITION BY from_type), 6) AS p
    FROM c
    """,
)
def q137_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    sequence: P(next event type | current event type). The behavioral
    fingerprint behind anomaly screens (an "error→error" loop), bot
    detection, and next-action features — and the sequence-level
    sibling of q37's sessionization.

    Determinism: the per-user ordering tiebreaks equal timestamps by
    event_id on BOTH engines (lead over a non-total order would be
    engine-dependent); probabilities are integer-count ratios.
    Scale shape: one user_id-partitioned window (the corpus's only
    shuffle) then a groupBy on the 25-cell matrix; the probability
    normalization windows over the cell COUNTS, not the events."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    t = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    c = t.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    wf = W.partitionBy("from_type")
    return c.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") * 1.0 / F.sum("n").over(wf), 6).alias("p"),
    )


# ---------------------------------------------------------------------------
# q136 — winsorized aggregates
# ---------------------------------------------------------------------------

@register(
    "q136_winsorized_stats",
    oracle="""
    WITH b AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.01) AS lo,
             quantile_cont(l_extendedprice, 0.99) AS hi
      FROM lineitem GROUP BY l_returnflag
    ),
    c AS (
      SELECT l.l_returnflag,
             CAST(round(least(greatest(l.l_extendedprice, b.lo), b.hi) * 100)
                  AS BIGINT) AS cents,
             CASE WHEN l.l_extendedprice < b.lo OR l.l_extendedprice > b.hi
                  THEN 1 ELSE 0 END AS clipped
      FROM lineitem l JOIN b USING (l_returnflag)
    )
    SELECT l_returnflag, count(*) AS n,
           CAST(sum(clipped) AS BIGINT) AS n_clipped,
           round(sum(cents) / 100.0, 2) AS winsorized_sum,
           round(sum(cents) / count(*) / 100.0, 6) AS winsorized_mean
    FROM c GROUP BY l_returnflag
    """,
)
def q136_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized aggregates: clip the measure at its per-group
    p01/p99 before summing — the robust-mean primitive for metrics
    that must not be dragged by a few extreme rows (revenue
    dashboards, reward normalization, per-source token budgeting).
    Reports how many rows the clip actually touched.

    Determinism: the clip bounds are exact interpolated percentiles
    (identical across engines per the q28 rule); clipped values are
    then rounded to integer CENTS so the sums are exact bigint
    arithmetic — summation order cannot drift (the q120 rule).
    Scale shape: one grouped percentile pass, one broadcast join of
    the groups-sized bounds relation, one map-side-combinable final
    aggregate — two scans, one narrow shuffle each."""
    li = _t(spark, sf_dir, "lineitem")
    b = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.01)").alias("lo"),
        F.expr("percentile(l_extendedprice, 0.99)").alias("hi"),
    )
    c = li.join(F.broadcast(b), "l_returnflag").select(
        "l_returnflag",
        F.round(
            F.least(F.greatest("l_extendedprice", F.col("lo")), F.col("hi"))
            * 100
        )
        .cast("bigint")
        .alias("cents"),
        F.when(
            (F.col("l_extendedprice") < F.col("lo"))
            | (F.col("l_extendedprice") > F.col("hi")),
            1,
        )
        .otherwise(0)
        .alias("clipped"),
    )
    return c.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("clipped").cast("bigint").alias("n_clipped"),
        F.round(F.sum("cents") / 100.0, 2).alias("winsorized_sum"),
        F.round(F.sum("cents") / F.count(F.lit(1)) / 100.0, 6).alias(
            "winsorized_mean"
        ),
    )


# ---------------------------------------------------------------------------
# q144 — A/B conversion test (two-proportion z)
# ---------------------------------------------------------------------------

@register(
    "q144_ab_test",
    oracle="""
    WITH s AS (
      SELECT user_id, CAST(user_id % 2 AS INTEGER) AS variant,
             min(ts) AS t_signup
      FROM events WHERE event_type = 'signup' GROUP BY 1, 2
    ),
    conv AS (
      SELECT s.user_id, s.variant,
             CAST(max(CASE WHEN e.event_type = 'purchase'
                            AND e.ts > s.t_signup
                            AND e.ts <= s.t_signup + INTERVAL 12 HOUR
                       THEN 1 ELSE 0 END)
                  AS INTEGER) AS converted
      FROM s LEFT JOIN events e USING (user_id)
      GROUP BY s.user_id, s.variant
    ),
    v AS (
      SELECT variant, count(*) AS n, CAST(sum(converted) AS BIGINT) AS conv
      FROM conv GROUP BY variant
    ),
    w AS (
      SELECT
        max(CASE WHEN variant = 0 THEN n END) AS n_a,
        max(CASE WHEN variant = 1 THEN n END) AS n_b,
        max(CASE WHEN variant = 0 THEN conv END) AS conv_a,
        max(CASE WHEN variant = 1 THEN conv END) AS conv_b
      FROM v
    )
    SELECT n_a, n_b, conv_a, conv_b,
           round(conv_a * 1.0 / n_a, 6) AS rate_a,
           round(conv_b * 1.0 / n_b, 6) AS rate_b,
           round(
             (conv_b * 1.0 / n_b - conv_a * 1.0 / n_a)
             / sqrt(((conv_a + conv_b) * 1.0 / (n_a + n_b))
                    * (1.0 - (conv_a + conv_b) * 1.0 / (n_a + n_b))
                    * (1.0 / n_a + 1.0 / n_b)), 6) AS z,
           abs((conv_b * 1.0 / n_b - conv_a * 1.0 / n_a)
               / sqrt(((conv_a + conv_b) * 1.0 / (n_a + n_b))
                      * (1.0 - (conv_a + conv_b) * 1.0 / (n_a + n_b))
                      * (1.0 / n_a + 1.0 / n_b))) > 1.96 AS significant
    FROM w
    """,
)
def q144_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on conversion (signup → later purchase)
    (attributed within a 12-hour window — unbounded attribution is
    degenerate on this data: every user eventually purchases)
    between variants assigned by user_id parity — the experiment
    readout a product warehouse serves daily. Emits per-variant
    exposure/conversion counts, rates, the pooled z statistic, and
    the |z| > 1.96 (95%) significance flag.

    Determinism: the statistic is a fixed arithmetic expression of
    four INTEGER counts — both engines evaluate the identical IEEE
    expression tree, so even the boolean flag cannot flip.
    Scale shape: two user-keyed aggregates (one exchange each), then
    a 2-row pivot; events join s on user_id with the signup relation
    shrinking to exposed users."""
    ev = _t(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id", (F.col("user_id") % 2).cast("int").alias("variant"))
        .agg(F.min("ts").alias("t_signup"))
    )
    conv = (
        s.join(ev, "user_id", "left")
        .groupBy(s.user_id, "variant")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t_signup"))
                    & (
                        F.col("ts")
                        <= F.col("t_signup") + F.expr("INTERVAL 12 HOURS")
                    ),
                    1,
                ).otherwise(0)
            )
            .cast("int")
            .alias("converted")
        )
    )
    v = conv.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("converted").cast("bigint").alias("conv"),
    )
    w = v.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("variant") == 0, F.col("conv"))).alias("conv_a"),
        F.max(F.when(F.col("variant") == 1, F.col("conv"))).alias("conv_b"),
    )
    rate_a = F.col("conv_a") * 1.0 / F.col("n_a")
    rate_b = F.col("conv_b") * 1.0 / F.col("n_b")
    pooled = (F.col("conv_a") + F.col("conv_b")) * 1.0 / (
        F.col("n_a") + F.col("n_b")
    )
    z = (rate_b - rate_a) / F.sqrt(
        pooled * (1.0 - pooled) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    return w.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        F.round(rate_a, 6).alias("rate_a"),
        F.round(rate_b, 6).alias("rate_b"),
        F.round(z, 6).alias("z"),
        (F.abs(z) > 1.96).alias("significant"),
    )


# ---------------------------------------------------------------------------
# q145 — EWMA smoothing with exact binary weights
# ---------------------------------------------------------------------------

@register(
    "q145_ewma_revenue",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS day_num,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS day_cents
      FROM orders GROUP BY 1
    )
    SELECT strftime(DATE '1970-01-01' + to_days(CAST(a.day_num AS INTEGER)),
                    '%Y-%m-%d') AS day,
           round(sum(b.day_cents / CAST(1 << (a.day_num - b.day_num) AS DOUBLE))
                 / sum(1.0 / CAST(1 << (a.day_num - b.day_num) AS DOUBLE))
                 / 100.0, 4) AS ewma_revenue
    FROM daily a JOIN daily b
      ON b.day_num BETWEEN a.day_num - 29 AND a.day_num
    GROUP BY a.day_num
    """,
)
def q145_ewma_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily revenue
    (α = 0.5, 30-day horizon, normalized weights) — the smoothing
    primitive between q120's flat moving average and a forecast
    model. Weights are EXACT negative powers of two (1 >> shifted
    division), so the weighted terms are exact double scalings of
    integer cents — no pow() libm variance between engines, only
    summation-order drift well under the 1e-4 rounding.

    Scale shape: the fact table pre-aggregates to one row per day
    (q120's rule) BEFORE the 30-day band self-join, so the join is
    O(days × 30) however large the fact table is."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
        ).alias("day_num")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("day_cents")
    )
    a = daily.select(F.col("day_num").alias("d"))
    b = daily.select(
        F.col("day_num").alias("bd"), F.col("day_cents").alias("bc")
    )
    band = a.join(
        b, (F.col("bd") >= F.col("d") - 29) & (F.col("bd") <= F.col("d"))
    )
    # SQL shiftleft accepts a column bit count; the Python helper
    # requires a literal
    w = F.expr("1.0 / CAST(shiftleft(1, CAST(d - bd AS INT)) AS DOUBLE)")
    return band.groupBy("d").agg(
        F.date_format(
            F.date_add(F.lit("1970-01-01").cast("date"), F.col("d")),
            "yyyy-MM-dd",
        ).alias("day"),
        F.round(
            F.sum(F.col("bc") * w) / F.sum(w) / 100.0, 4
        ).alias("ewma_revenue"),
    ).drop("d")


# ---------------------------------------------------------------------------
# q146 — correlation / covariance with explicit raw-sum formulas
# ---------------------------------------------------------------------------

@register(
    "q146_corr_suite",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             count(*) AS n,
             sum(l_quantity) AS sx, sum(l_extendedprice) AS sy,
             sum(l_quantity * l_quantity) AS sxx,
             sum(l_extendedprice * l_extendedprice) AS syy,
             sum(l_quantity * l_extendedprice) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           round((sxy - sx * sy / n) / (n - 1), 4) AS covar,
           round((n * sxy - sx * sy)
                 / sqrt(greatest((n * sxx - sx * sx), 0.0)
                        * greatest((n * syy - sy * sy), 0.0)), 6) AS corr
    FROM s
    """,
)
def q146_corr_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Pearson correlation + sample covariance of
    (quantity, price) from EXPLICIT raw sums — engine-native
    corr()/covar_samp() use different compensation algorithms
    (Spark a streaming co-moment, DuckDB another) whose results
    diverge in late decimals, so the catalog computes the textbook
    raw-sum formulas identically on both sides (the q123 std rule,
    with the same greatest(...,0) cancellation clamp).

    Scale shape: ONE map-side-combinable aggregate — 7 partial sums
    per group, no second pass, no window."""
    li = _t(spark, sf_dir, "lineitem")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("l_quantity").alias("sx"),
        F.sum("l_extendedprice").alias("sy"),
        F.sum(F.col("l_quantity") * F.col("l_quantity")).alias("sxx"),
        F.sum(F.col("l_extendedprice") * F.col("l_extendedprice")).alias("syy"),
        F.sum(F.col("l_quantity") * F.col("l_extendedprice")).alias("sxy"),
    )
    covar = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / (
        F.col("n") - 1
    )
    corr = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        F.greatest(
            F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0.0)
        )
        * F.greatest(
            F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"), F.lit(0.0)
        )
    )
    return s.select(
        "l_returnflag",
        "n",
        F.round(covar, 4).alias("covar"),
        F.round(corr, 6).alias("corr"),
    )


# ---------------------------------------------------------------------------
# q147 — Kaplan-Meier survival (user churn)
# ---------------------------------------------------------------------------

@register(
    "q147_kaplan_meier",
    oracle="""
    WITH lt AS (
      SELECT user_id,
             date_diff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE))
               AS dur,
             CAST(max(ts) <= (SELECT max(ts) FROM events) - INTERVAL 24 HOUR
                  AS INTEGER) AS churned
      FROM events GROUP BY user_id
    ),
    at_risk AS (
      SELECT dur,
             CAST(sum(count(*)) OVER (
               ORDER BY dur DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS n_risk,
             CAST(sum(churned) AS BIGINT) AS d
      FROM lt GROUP BY dur
    ),
    ev AS (SELECT dur, n_risk, d FROM at_risk WHERE d > 0)
    SELECT dur AS day, n_risk, d AS n_churned,
           -- d == n_risk exhausts the risk set: ln(0) errors here and
           -- Spark's log(0) returns NULL (silently SKIPPED by the sum)
           -- — both wrong. Emit -inf so the cumulative sum pins every
           -- step at/after the terminal event to survival = 0.
           round(exp(sum(CASE WHEN d < n_risk
                              THEN ln(1.0 - d * 1.0 / n_risk)
                              ELSE CAST('-infinity' AS DOUBLE) END) OVER (
             ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           )), 6) AS survival
    FROM ev
    """,
)
def q147_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimate of user lifetime (days between
    first and last activity), with users still active in the final
    24 hours treated as CENSORED — they contribute to the risk set at
    every time they survive through, but not to the churn counts.
    (A production run would censor on a 7-to-30-day inactivity
    horizon; the shipped synthetic window is 30 days of uniformly
    active users, where a 7-day horizon censors EVERYONE and the
    estimator never executes — the 24-hour cutoff keeps the math
    exercised at every shipped scale.) The retention-curve estimator
    product analytics ships next to q129's cohort matrix (cohorts
    show WHO returns, the KM curve shows the survival function with
    censoring handled correctly instead of biasing churn upward).

    S(t) = Π_{s≤t} (1 − d_s/n_s), computed as exp(Σ ln(·)) under an
    ordered window — both engines evaluate the identical expression;
    libm log/exp agree well below the 1e-6 rounding. When the final
    churn event exhausts the risk set (d == n_risk) the factor is 0:
    ln(0) hard-errors in DuckDB and Spark's F.log(0) returns NULL —
    which a window SUM silently skips, freezing survival at its
    previous level. Both engines therefore emit -inf for that step
    explicitly, so exp(Σ) pins the terminal survival to exactly 0.
    The at-risk count n_t is a descending-ordered cumulative sum over
    the duration histogram — no per-user self-join.

    Scale shape: one user-keyed aggregate over the corpus, then
    everything runs on O(distinct durations) rows in bounded
    constant-partition windows."""
    ev = _t(spark, sf_dir, "events")
    max_ts = ev.agg(F.max("ts").alias("m"))
    lt = (
        ev.groupBy("user_id")
        .agg(F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts"))
        .join(F.broadcast(max_ts))
        .select(
            F.datediff(F.to_date("last_ts"), F.to_date("first_ts")).alias(
                "dur"
            ),
            (
                F.col("last_ts") <= F.col("m") - F.expr("INTERVAL 24 HOURS")
            )
            .cast("int")
            .alias("churned"),
        )
    )
    return kaplan_meier(lt)


def kaplan_meier(lt: DataFrame) -> DataFrame:
    """KM curve over a (dur, churned) lifetime relation — factored
    out of q147 so synthetic-data tests can drive edge cases (the
    risk-set-exhausting terminal event) the shipped fixtures never
    hit. Returns (day, n_risk, n_churned, survival)."""
    w_desc = (
        W.partitionBy(F.lit(0))
        .orderBy(F.col("dur").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    at_risk = lt.groupBy("dur").agg(
        F.count(F.lit(1)).alias("__c"),
        F.sum("churned").cast("bigint").alias("d"),
    ).select(
        "dur",
        F.sum("__c").over(w_desc).cast("bigint").alias("n_risk"),
        "d",
    )
    evd = at_risk.filter(F.col("d") > 0)
    w_asc = (
        W.partitionBy(F.lit(0))
        .orderBy("dur")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return evd.select(
        F.col("dur").alias("day"),
        "n_risk",
        F.col("d").alias("n_churned"),
        F.round(
            F.exp(
                F.sum(
                    # d == n_risk → factor 0 → log(0) is NULL in Spark
                    # and a window sum SKIPS nulls; emit -inf instead
                    # so the cumulative sum (and every later step)
                    # yields survival exactly 0 (see docstring)
                    F.when(
                        F.col("d") < F.col("n_risk"),
                        F.log(1.0 - F.col("d") * 1.0 / F.col("n_risk")),
                    ).otherwise(F.lit(float("-inf")))
                ).over(w_asc)
            ),
            6,
        ).alias("survival"),
    )


# ---------------------------------------------------------------------------
# q148 — OLS revenue trend + 7-day forecast
# ---------------------------------------------------------------------------

@register(
    "q148_trend_forecast",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS x,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ),
    s AS (
      -- double sums on BOTH engines: n*sxy overflows int64 at scale
      -- (DuckDB would silently survive in HUGEINT and diverge)
      SELECT count(*) AS n,
             sum(CAST(x AS DOUBLE)) AS sx,
             sum(CAST(cents AS DOUBLE)) AS sy,
             sum(CAST(x AS DOUBLE) * x) AS sxx,
             sum(CAST(x AS DOUBLE) * cents) AS sxy, max(x) AS mx
      FROM daily
    ),
    fit AS (
      SELECT n, mx,
             (n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx) AS slope,
             (sy - (n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx) * sx)
               / n AS intercept
      FROM s
    )
    SELECT CAST(k AS INTEGER) AS horizon_days,
           strftime(DATE '1970-01-01' + to_days(CAST(mx + k AS INTEGER)),
                    '%Y-%m-%d') AS day,
           round(slope / 100.0, 6) AS slope_per_day,
           round((intercept + slope * (mx + k)) / 100.0, 2) AS forecast
    FROM fit, UNNEST(range(1, 8)) t(k)
    """,
)
def q148_trend_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (OLS) trend of daily revenue + a 7-day extrapolated
    forecast — the baseline every fancier forecaster is judged
    against, fit in closed form from FIVE raw sums (normal
    equations) over the daily pre-aggregate: no iteration, no
    solver, one map-side-combinable pass. Integer-cent sums make
    the sums exact; the slope/intercept arithmetic is the identical
    expression tree on both engines.

    Scale shape: fact table → daily rollup (one shuffle) → 1-row
    fit → 7-row forecast fan-out. At 100 TB nothing after the
    rollup touches more than one row."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
        ).alias("x")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    xd = F.col("x").cast("double")
    s = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(F.col("cents").cast("double")).alias("sy"),
        F.sum(xd * F.col("x")).alias("sxx"),
        F.sum(xd * F.col("cents")).alias("sxy"),
        F.max("x").alias("mx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) * 1.0 / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    fit = s.select(
        "n", "mx", slope.alias("slope"),
        ((F.col("sy") - slope * F.col("sx")) / F.col("n")).alias("intercept"),
    )
    return fit.select(
        "mx", "slope", "intercept",
        F.explode(F.sequence(F.lit(1), F.lit(7))).alias("k"),
    ).select(
        F.col("k").cast("int").alias("horizon_days"),
        F.date_format(
            F.date_add(
                F.lit("1970-01-01").cast("date"),
                (F.col("mx") + F.col("k")).cast("int"),
            ),
            "yyyy-MM-dd",
        ).alias("day"),
        F.round(F.col("slope") / 100.0, 6).alias("slope_per_day"),
        F.round(
            (F.col("intercept") + F.col("slope") * (F.col("mx") + F.col("k")))
            / 100.0,
            2,
        ).alias("forecast"),
    )


# ---------------------------------------------------------------------------
# q149 — CUSUM changepoint detection
# ---------------------------------------------------------------------------

@register(
    "q149_cusum_changepoint",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS day_num,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM daily_src GROUP BY 1
    ),
    m AS (SELECT sum(cents) * 1.0 / count(*) AS mu, count(*) AS n FROM daily),
    c AS (
      SELECT day_num,
             sum(cents - (SELECT mu FROM m)) OVER (
               ORDER BY day_num
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cusum
      FROM daily
    )
    SELECT strftime(DATE '1970-01-01' + to_days(CAST(day_num AS INTEGER)),
                    '%Y-%m-%d') AS changepoint_day,
           round(abs(cusum) / 100.0, 2) AS max_abs_cusum,
           round(cusum / 100.0, 2) AS cusum_value
    FROM c
    ORDER BY abs(cusum) DESC, day_num LIMIT 1
    """.replace("daily_src", "orders"),
)
def q149_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on daily revenue: the day where
    the cumulative sum of deviations from the global mean attains
    its maximum magnitude is the most likely single level-shift
    point (the classic offline CUSUM estimator). Deterministic
    tie-break by earlier day.

    Determinism: deviations are integer cents minus an exact
    rational mean (sum/count of integers — identical double on both
    engines); the running sum is ordered, so no partial-agg order
    variance. Scale shape: daily pre-aggregate, one bounded
    constant-partition window, TakeOrdered(1)."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
        ).alias("day_num")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    m = daily.agg(
        (F.sum("cents") * 1.0 / F.count(F.lit(1))).alias("mu")
    )
    w = (
        W.partitionBy(F.lit(0))
        .orderBy("day_num")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = daily.join(F.broadcast(m)).select(
        "day_num",
        F.sum(F.col("cents") - F.col("mu")).over(w).alias("cusum"),
    )
    return (
        c.orderBy(F.abs("cusum").desc(), "day_num")
        .limit(1)
        .select(
            F.date_format(
                F.date_add(
                    F.lit("1970-01-01").cast("date"),
                    F.col("day_num").cast("int"),
                ),
                "yyyy-MM-dd",
            ).alias("changepoint_day"),
            F.round(F.abs("cusum") / 100.0, 2).alias("max_abs_cusum"),
            F.round(F.col("cusum") / 100.0, 2).alias("cusum_value"),
        )
    )


# ---------------------------------------------------------------------------
# q153 — association rules (support / confidence / lift)
# ---------------------------------------------------------------------------

@register(
    "q153_association_rules",
    oracle="""
    WITH li AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    capped AS (
      SELECT ok, pk FROM (
        SELECT ok, pk, row_number() OVER (PARTITION BY ok ORDER BY pk) AS rn
        FROM li
      ) WHERE rn <= 20
    ),
    tot AS (SELECT count(DISTINCT ok) AS n_orders FROM capped),
    items AS (SELECT pk, count(*) AS n FROM capped GROUP BY pk),
    pairs AS (
      SELECT a.pk AS p1, b.pk AS p2, count(*) AS n_both
      FROM capped a JOIN capped b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY 1, 2
    ),
    rules AS (
      SELECT p1 AS antecedent, p2 AS consequent, n_both,
             ia.n AS n_ante, ic.n AS n_cons
      FROM pairs JOIN items ia ON ia.pk = pairs.p1
                 JOIN items ic ON ic.pk = pairs.p2
      UNION ALL
      SELECT p2, p1, n_both, ic.n, ia.n
      FROM pairs JOIN items ia ON ia.pk = pairs.p1
                 JOIN items ic ON ic.pk = pairs.p2
    )
    SELECT antecedent, consequent, n_both,
           round(n_both * 1.0 / (SELECT n_orders FROM tot), 6) AS support,
           round(n_both * 1.0 / n_ante, 6) AS confidence,
           round((n_both * 1.0 * (SELECT n_orders FROM tot))
                 / (n_ante * 1.0 * n_cons), 6) AS lift
    FROM rules
    WHERE n_both >= 3
    ORDER BY (n_both * 1.0 * (SELECT n_orders FROM tot))
               / (n_ante * 1.0 * n_cons) DESC,
             antecedent, consequent
    LIMIT 20
    """,
)
def q153_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over the co-purchase pairs
    (q133's capped edge base): support, confidence, and lift for
    both rule directions of every part pair bought together in ≥3
    orders; top-20 by lift. Lift > 1 = the pair co-occurs more than
    independence predicts — the shelf/recommendation signal.

    Determinism: all three measures are fixed arithmetic on integer
    counts; the ranking key is the same double expression on both
    engines with (antecedent, consequent) tie-breaks. Scale shape:
    the q133 edge discipline (per-order cap, one groupBy) plus two
    broadcast-sized joins against the item-count relation;
    TakeOrdered(20)."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    w = W.partitionBy("ok").orderBy("pk")
    capped = (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .drop("rn")
        .localCheckpoint(eager=True)  # three consumers below
    )
    n_orders = capped.select("ok").distinct().count()
    items = capped.groupBy("pk").agg(F.count(F.lit(1)).alias("n"))
    a = capped.select("ok", F.col("pk").alias("p1"))
    b = capped.select("ok", F.col("pk").alias("p2"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    ij = pairs.join(
        F.broadcast(items.select(F.col("pk").alias("p1"), F.col("n").alias("n1"))),
        "p1",
    ).join(
        F.broadcast(items.select(F.col("pk").alias("p2"), F.col("n").alias("n2"))),
        "p2",
    )
    rules = ij.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("p1").alias("antecedent"),
                    F.col("p2").alias("consequent"),
                    F.col("n_both"),
                    F.col("n1").alias("n_ante"),
                    F.col("n2").alias("n_cons"),
                ),
                F.struct(
                    F.col("p2").alias("antecedent"),
                    F.col("p1").alias("consequent"),
                    F.col("n_both"),
                    F.col("n2").alias("n_ante"),
                    F.col("n1").alias("n_cons"),
                ),
            )
        ).alias("r")
    ).select("r.*")
    lift = (F.col("n_both") * 1.0 * F.lit(n_orders)) / (
        F.col("n_ante") * 1.0 * F.col("n_cons")
    )
    return (
        rules.filter(F.col("n_both") >= 3)
        .select(
            "antecedent",
            "consequent",
            "n_both",
            F.round(F.col("n_both") * 1.0 / F.lit(n_orders), 6).alias(
                "support"
            ),
            F.round(F.col("n_both") * 1.0 / F.col("n_ante"), 6).alias(
                "confidence"
            ),
            F.round(lift, 6).alias("lift"),
            lift.alias("__lift"),
        )
        .orderBy(F.col("__lift").desc(), "antecedent", "consequent")
        .limit(20)
        .drop("__lift")
    )


# ---------------------------------------------------------------------------
# q154 — top session paths
# ---------------------------------------------------------------------------

@register(
    "q154_session_paths",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800
                    OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT user_id, ts, event_id, event_type,
             sum(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS session_seq
      FROM flagged
    ),
    headed AS (
      SELECT user_id, session_seq, ts, event_id, event_type FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id, session_seq
                                     ORDER BY ts, event_id) AS rn
        FROM numbered
      ) WHERE rn <= 8
    ),
    paths AS (
      SELECT user_id, session_seq,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM headed GROUP BY 1, 2
    ),
    tot AS (SELECT count(*) AS n_sessions FROM paths)
    SELECT path, count(*) AS n,
           round(count(*) * 1.0 / (SELECT n_sessions FROM tot), 6) AS share
    FROM paths GROUP BY path
    ORDER BY n DESC, path LIMIT 10
    """,
)
def q154_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 most common session paths: q37's gap sessionization
    (30 min), each session rendered as its first-8-event type
    sequence ("view>click>purchase"), ranked by frequency — the
    behavioral-pattern mining view (what do sessions LOOK like)
    that complements q137's one-step transition matrix. The 8-event
    head cap bounds path-string cardinality the same way the LSH
    bucket cap bounds candidate blowup.

    Determinism: the in-session order tiebreaks by event_id
    (Spark's collect is made order-safe by sorting (ts, event_id,
    type) structs — DuckDB's ORDER BY inside string_agg is the same
    total order); ranking tiebreaks by path. Scale shape: two
    user-partitioned windows + one groupBy on (user, session) —
    the q37 shuffles — then path counting on sessions-sized data."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("timestamp").cast("double") - F.lag(
        F.col("ts").cast("timestamp").cast("double")
    ).over(w)
    numbered = ev.withColumn(
        "new_session", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    ).withColumn(
        "session_seq",
        F.sum("new_session")
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("bigint"),
    )
    w_s = W.partitionBy("user_id", "session_seq").orderBy("ts", "event_id")
    headed = numbered.withColumn("rn", F.row_number().over(w_s)).filter(
        F.col("rn") <= 8
    )
    paths = headed.groupBy("user_id", "session_seq").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda s: s.event_type,
            ),
            ">",
        ).alias("path")
    )
    n_sessions = paths.count()
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "path",
            "n",
            F.round(F.col("n") * 1.0 / F.lit(n_sessions), 6).alias("share"),
        )
        .orderBy(F.col("n").desc(), "path")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q156 — product-health e2e report (capstone)
# ---------------------------------------------------------------------------

@register(
    "q156_product_health_e2e",
    oracle="""
    WITH s AS (
      SELECT user_id, min(ts) AS t_signup
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    v AS (
      SELECT e.user_id, min(e.ts) AS t_view
      FROM events e JOIN s USING (user_id)
      WHERE e.event_type IN ('view', 'click') AND e.ts > s.t_signup
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > v.t_view
      GROUP BY e.user_id
    ),
    lt AS (
      SELECT user_id,
             date_diff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE))
               AS dur
      FROM events GROUP BY user_id
    ),
    ud AS (
      SELECT DISTINCT user_id,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num
      FROM events
    ),
    c AS (SELECT user_id, min(day_num) AS cohort_day FROM ud GROUP BY user_id),
    w1 AS (
      SELECT count(DISTINCT ud.user_id) AS n_week1
      FROM ud JOIN c USING (user_id)
      WHERE CAST(floor((ud.day_num - c.cohort_day) / 7.0) AS BIGINT) = 1
    )
    SELECT metric, round(value, 6) AS value FROM (
      SELECT 'n_signup' AS metric, (SELECT count(*) FROM s) * 1.0 AS value
      UNION ALL
      SELECT 'n_engaged', (SELECT count(*) FROM v) * 1.0
      UNION ALL
      SELECT 'n_converted', (SELECT count(*) FROM p) * 1.0
      UNION ALL
      SELECT 'engage_rate',
             (SELECT count(*) FROM v) * 1.0
               / nullif((SELECT count(*) FROM s), 0)
      UNION ALL
      SELECT 'week1_retention',
             (SELECT n_week1 FROM w1) * 1.0
               / nullif((SELECT count(*) FROM c), 0)
      UNION ALL
      SELECT 'median_lifetime_days',
             (SELECT quantile_cont(dur, 0.5) FROM lt)
    )
    """,
)
def q156_product_health_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-health report as ONE composed plan (the analytics
    capstone, q92's role for the behavioral suite): funnel stage
    counts and engage rate, overall week-1 retention, and median
    user lifetime, emitted long-format (metric, value). The point is
    COMPOSITION: the signup relation feeds the funnel chain, the
    distinct (user, day) relation feeds retention, and each
    downstream metric is a 1-row aggregate — one report, not six
    jobs re-scanning events.

    Scale shape: events is scanned a bounded number of times (each
    pass map-side-filtered); every relation after the first
    aggregates is user-sized or smaller, and the report union runs
    on 1-row branches. At 100 TB the shared relations would be
    cached/checkpointed once (documented in the module pattern)."""
    ev = _t(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
        .localCheckpoint(eager=False)
    )
    v = (
        ev.filter(F.col("event_type").isin("view", "click"))
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
        .localCheckpoint(eager=False)
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    lt = ev.groupBy("user_id").agg(
        F.datediff(F.to_date(F.max("ts")), F.to_date(F.min("ts"))).alias(
            "dur"
        )
    )
    ud = ev.select(
        "user_id",
        F.datediff(
            F.to_date("ts"), F.lit("1970-01-01").cast("date")
        ).alias("day_num"),
    ).distinct().localCheckpoint(eager=False)
    c = ud.groupBy("user_id").agg(F.min("day_num").alias("cohort_day"))
    w1 = (
        ud.join(c, "user_id")
        .filter(
            F.floor((F.col("day_num") - F.col("cohort_day")) / 7.0).cast(
                "bigint"
            )
            == 1
        )
        .agg(F.count_distinct("user_id").alias("n_week1"))
    )

    def one(metric: str, col: F.Column, df: DataFrame) -> DataFrame:
        return df.select(F.lit(metric).alias("metric"), col.alias("value"))

    n_s = s.agg(F.count(F.lit(1)).alias("n"))
    n_v = v.agg(F.count(F.lit(1)).alias("n"))
    n_p = p.agg(F.count(F.lit(1)).alias("n"))
    n_c = c.agg(F.count(F.lit(1)).alias("n"))
    report = (
        one("n_signup", F.col("n") * 1.0, n_s)
        .unionByName(one("n_engaged", F.col("n") * 1.0, n_v))
        .unionByName(one("n_converted", F.col("n") * 1.0, n_p))
        .unionByName(
            n_v.crossJoin(F.broadcast(n_s.select(F.col("n").alias("ns")))).select(
                F.lit("engage_rate").alias("metric"),
                (F.col("n") * 1.0 / F.nullif(F.col("ns"), F.lit(0))).alias(
                    "value"
                ),
            )
        )
        .unionByName(
            w1.crossJoin(F.broadcast(n_c.select(F.col("n").alias("nc")))).select(
                F.lit("week1_retention").alias("metric"),
                (
                    F.col("n_week1") * 1.0 / F.nullif(F.col("nc"), F.lit(0))
                ).alias("value"),
            )
        )
        .unionByName(
            lt.agg(F.expr("percentile(dur, 0.5)").alias("m")).select(
                F.lit("median_lifetime_days").alias("metric"),
                F.col("m").alias("value"),
            )
        )
    )
    return report.select("metric", F.round("value", 6).alias("value"))


def _skew_audit_sql(col: str) -> str:
    """Per-key-column skew statistics block. The Gini rank sum is
    computed from the count-HISTOGRAM-OF-THE-HISTOGRAM: keys tied at
    the same count c occupy a contiguous rank block, so
    sum(i*c) over the block = c*(f*cc + f*(f+1)/2) where f is the
    tie count and cc the exclusive cumulative frequency — exact
    integer arithmetic on O(distinct count values) rows, never a
    global rank over the key set."""
    return f"""
      SELECT '{col}' AS key_col, n_keys, n_rows, max_cnt, p99_cnt,
             round(max_cnt * 1.0 / (n_rows * 1.0 / n_keys), 6)
               AS skew_ratio,
             round((2.0 * ic_sum - (n_keys + 1.0) * n_rows)
                   / (n_keys * 1.0 * n_rows), 6) AS gini
      FROM (
        SELECT CAST(sum(f) AS BIGINT) AS n_keys,
               CAST(sum(f * c) AS BIGINT) AS n_rows,
               CAST(max(c) AS BIGINT) AS max_cnt,
               sum(c * (f * cc + f * (f + 1) // 2)) AS ic_sum
        FROM (
          SELECT c, f,
                 CAST(coalesce(sum(f) OVER (
                   ORDER BY c
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0) AS BIGINT) AS cc
          FROM (
            SELECT c, count(*) AS f FROM (
              SELECT {col} AS k, count(*) AS c FROM lineitem GROUP BY 1
            ) GROUP BY c
          )
        )
      ) s
      CROSS JOIN (
        SELECT round(quantile_cont(c, 0.99), 6) AS p99_cnt FROM (
          SELECT {col} AS k, count(*) AS c FROM lineitem GROUP BY 1
        )
      ) p"""


@register(
    "q168_key_skew_audit",
    oracle=(
        _skew_audit_sql("l_orderkey")
        + " UNION ALL "
        + _skew_audit_sql("l_partkey")
        + " UNION ALL "
        + _skew_audit_sql("l_suppkey")
    ),
)
def q168_key_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/agg KEY-SKEW audit over the fact table's three join keys:
    per key column, the key cardinality, max and p99 per-key row
    counts, the max/mean skew ratio, and the Gini coefficient of the
    key-frequency distribution — the numbers that DECIDE whether a
    join gets the salted treatment (q106/q107), how many salt buckets
    it needs (≈ max_cnt / target-partition-rows), and whether AQE's
    skew threshold will even fire. Run this before shipping any
    corpus-scale join; a Gini near 0 with skew_ratio ~1 means plain
    hash partitioning is fine.

    Determinism: the Gini numerator is pure integer arithmetic via
    the tie-block rank-sum identity (keys tied at count c occupy a
    contiguous rank block whose rank sum is f*cc + f(f+1)/2), divided
    once at the end; both engines round to 6.

    Scale shape: one map-side-combined count per key column; the
    Gini then runs on the count-histogram-OF-the-histogram —
    O(distinct count values) rows, typically thousands even when the
    key set has billions of entries — so no global rank window ever
    touches the key set. The p99 percentile is the one pass over the
    |keys|-row histogram (exact; swap for approx_percentile at
    extreme cardinality)."""
    li = _t(spark, sf_dir, "lineitem")

    def one(col: str) -> DataFrame:
        hist = li.groupBy(F.col(col).alias("k")).agg(
            F.count(F.lit(1)).alias("c")
        )
        # histogram-of-the-histogram: O(distinct count values) rows —
        # the tie-block rank-sum formula keeps Gini exact without a
        # global rank window over the (possibly billions-row) key set
        hh = hist.groupBy("c").agg(F.count(F.lit(1)).alias("f"))
        w = W.orderBy("c").rowsBetween(W.unboundedPreceding, -1)
        blocks = hh.select(
            "c",
            "f",
            F.coalesce(F.sum("f").over(w), F.lit(0))
            .cast("bigint")
            .alias("cc"),
        )
        stats = blocks.agg(
            F.sum("f").cast("bigint").alias("n_keys"),
            F.sum(F.col("f") * F.col("c")).cast("bigint").alias("n_rows"),
            F.max("c").cast("bigint").alias("max_cnt"),
            F.sum(
                F.col("c")
                * (
                    F.col("f") * F.col("cc")
                    + F.floor(F.col("f") * (F.col("f") + 1) / 2).cast(
                        "bigint"
                    )
                )
            ).alias("ic_sum"),
        )
        p99 = hist.agg(
            F.round(F.expr("percentile(c, 0.99)"), 6).alias("p99_cnt")
        )
        return stats.crossJoin(F.broadcast(p99)).select(
            F.lit(col).alias("key_col"),
            "n_keys",
            "n_rows",
            "max_cnt",
            "p99_cnt",
            F.round(
                F.col("max_cnt") * 1.0 / (F.col("n_rows") * 1.0 / F.col("n_keys")),
                6,
            ).alias("skew_ratio"),
            F.round(
                (
                    2.0 * F.col("ic_sum")
                    - (F.col("n_keys") + 1.0) * F.col("n_rows")
                )
                / (F.col("n_keys") * 1.0 * F.col("n_rows")),
                6,
            ).alias("gini"),
        )

    return (
        one("l_orderkey")
        .unionByName(one("l_partkey"))
        .unionByName(one("l_suppkey"))
    )


@register(
    "q169_entity_match",
    oracle="""
    WITH b AS (
      SELECT c_custkey, c_name, c_nationkey,
             substr(c_name, 1, length(c_name) - 2) AS blk
      FROM customer
    )
    SELECT a.c_custkey AS custkey_1, c.c_custkey AS custkey_2,
           a.c_name AS name_1, c.c_name AS name_2,
           CAST(levenshtein(a.c_name, c.c_name) AS INTEGER)
             AS edit_distance
    FROM b a JOIN b c
      ON a.blk = c.blk AND a.c_nationkey = c.c_nationkey
     AND a.c_custkey < c.c_custkey
    WHERE levenshtein(a.c_name, c.c_name) <= 2
    """,
)
def q169_entity_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution with BLOCKING: candidate duplicate-customer
    pairs whose names are within edit distance 2, restricted to pairs
    sharing a blocking key (name minus its last two characters,
    co-nation) — the classic record-linkage shape. Exhaustive
    pairwise edit distance is O(N²) and dead at any scale; blocking
    makes cost Σ|block|², and the expensive string metric runs ONLY
    on block-colliding pairs (the same candidates-then-verify
    discipline as MinHash-LSH (q62), applied to structured entities).
    Production systems union several blocking keys (phonetic codes,
    sorted-token prefixes) the same way; one key suffices to
    demonstrate the plan shape.

    Scale shape: one shuffle on the compound blocking key; block
    sizes are bounded by the key's selectivity (cap oversized blocks
    exactly as lsh_candidate_pairs does if a degenerate key appears);
    levenshtein is a JVM-side codegen expression on both engines with
    an identical definition, so the gate is exact."""
    c = _t(spark, sf_dir, "customer")
    b = c.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.expr("substr(c_name, 1, length(c_name) - 2)").alias("blk"),
    )
    a = b.select(
        F.col("blk"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_custkey").alias("custkey_1"),
        F.col("c_name").alias("name_1"),
    )
    d = b.select(
        F.col("blk"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_custkey").alias("custkey_2"),
        F.col("c_name").alias("name_2"),
    )
    return (
        a.join(d, ["blk", "nk"])
        .filter(F.col("custkey_1") < F.col("custkey_2"))
        .withColumn(
            "edit_distance",
            F.levenshtein("name_1", "name_2").cast("int"),
        )
        .filter(F.col("edit_distance") <= 2)
        .select("custkey_1", "custkey_2", "name_1", "name_2", "edit_distance")
    )


@register(
    "q170_lasttouch_attribution",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS cents,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN event_type END IGNORE NULLS)
               OVER w AS prev_type,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN ts END IGNORE NULLS) OVER w AS prev_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT coalesce(CASE WHEN prev_ts >= ts - INTERVAL 7 DAY
                         THEN prev_type END, 'direct') AS channel,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(cents) AS BIGINT) AS revenue_cents
    FROM seq WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def q170_lasttouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch revenue attribution: every purchase credits the
    user's most recent NON-purchase event within a 7-day lookback
    ('direct' when none) — the marketing-analytics query a warehouse
    star schema exists to answer, and a second consumer of the
    ordered-user-sequence shape q137's transition matrix established.
    Revenue aggregates in integer cents (catalog convention: double
    sums are order-dependent; bigint cents are exact).

    Scale shape: one user-keyed exchange carries the ordered
    sequence window (last_value IGNORE NULLS over the preceding
    frame — identical semantics both engines); the channel rollup is
    a map-side-combined aggregate over purchase rows only."""
    ev = _t(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    not_purchase = F.col("event_type") != "purchase"
    seq = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.last(F.when(not_purchase, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("prev_type"),
        F.last(F.when(not_purchase, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("prev_ts"),
    )
    channel = F.coalesce(
        F.when(
            F.col("prev_ts") >= F.col("ts") - F.expr("INTERVAL 7 DAYS"),
            F.col("prev_type"),
        ),
        F.lit("direct"),
    )
    return (
        seq.filter(F.col("event_type") == "purchase")
        .groupBy(channel.alias("channel"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
    )


@register(
    "q173_rolling_wau",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    contrib AS (
      SELECT user_id, day + CAST(i AS INTEGER) AS wday
      FROM ud, UNNEST(range(0, 7)) t(i)
    ),
    days AS (SELECT DISTINCT CAST(ts AS DATE) AS wday FROM events)
    SELECT strftime(d.wday, '%Y-%m-%d') AS day,
           CAST(count(DISTINCT c.user_id) AS BIGINT) AS wau
    FROM days d JOIN contrib c ON c.wday = d.wday
    GROUP BY d.wday
    """,
)
def q173_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per day (WAU) — the engagement
    metric every product dashboard leads with, and the canonical
    DISTINCT-over-sliding-window problem: no engine can window a
    COUNT(DISTINCT), so the scalable form materializes distinct
    (user, day) once and EXPLODES each into the <=7 window days it
    contributes to, making the rollup a plain distinct aggregate.
    Only days that actually occur in the data are reported (the
    shipped window is dense, so no phantom-day suppression is
    needed; gap handling is q121's job).

    Scale shape: the corpus collapses to distinct user-days (one
    map-side-combined aggregate); the 7x fan-out is linear in
    user-days, not events; the final distinct shuffles (day, user)
    pairs. At 100 TB the same plan holds — the fan-out factor is the
    window length, never data-dependent."""
    ev = _t(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    contrib = ud.select(
        "user_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(6)),
                lambda i: F.date_add("day", i.cast("int")),
            )
        ).alias("wday"),
    )
    days = ev.select(F.to_date("ts").alias("wday")).distinct()
    return (
        contrib.join(days, "wday")
        .groupBy(
            F.date_format("wday", "yyyy-MM-dd").alias("day")
        )
        .agg(F.count_distinct("user_id").cast("bigint").alias("wau"))
    )


@register(
    "q174_equidepth_bins",
    oracle="""
    WITH b AS (
      SELECT [quantile_cont(o_totalprice, 0.1), quantile_cont(o_totalprice, 0.2),
              quantile_cont(o_totalprice, 0.3), quantile_cont(o_totalprice, 0.4),
              quantile_cont(o_totalprice, 0.5), quantile_cont(o_totalprice, 0.6),
              quantile_cont(o_totalprice, 0.7), quantile_cont(o_totalprice, 0.8),
              quantile_cont(o_totalprice, 0.9)] AS bounds
      FROM orders
    ),
    assigned AS (
      SELECT o_totalprice,
             CAST(len(list_filter(b.bounds, x -> x < o_totalprice))
                  AS INTEGER) AS bucket
      FROM orders CROSS JOIN b
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM assigned GROUP BY bucket
    """,
)
def q174_equidepth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (decile) binning of order value — the quantile
    discretizer feature-engineering and BI both lean on: exact decile
    boundaries (both engines compute the identical (1-g)·a + g·b
    interpolation, the q28-proven percentile == quantile_cont
    equivalence), then bucket = count of boundaries strictly below
    the value, so boundary ties resolve identically everywhere.
    Reports per-bucket population, exact integer-cents revenue, and
    the realized [lo, hi] range.

    Scale shape: ONE exact-percentile aggregate produces a 9-value
    array broadcast to every row; assignment is a JVM-side array
    filter per row (no join, no sort); the rollup is a 10-group
    map-side-combined aggregate. At extreme scale the exact
    percentile swaps for approx_percentile with the same plan."""
    o = _t(spark, sf_dir, "orders")
    bounds = o.agg(
        F.expr(
            "array("
            + ", ".join(
                f"percentile(o_totalprice, {p/10})" for p in range(1, 10)
            )
            + ")"
        ).alias("bounds")
    )
    assigned = o.crossJoin(F.broadcast(bounds)).select(
        "o_totalprice",
        F.size(
            F.filter("bounds", lambda x: x < F.col("o_totalprice"))
        ).cast("int").alias("bucket"),
    )
    return assigned.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("sum_cents"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
    )


@register(
    "q175_cohort_ltv",
    oracle="""
    WITH fw AS (
      SELECT user_id,
             CAST(date_diff('day', DATE '2024-01-01',
                            CAST(min(ts) AS DATE)) // 7 AS INTEGER)
               AS cohort_week
      FROM events GROUP BY user_id
    ),
    rev AS (
      SELECT e.user_id,
             CAST(date_diff('day', DATE '2024-01-01',
                            CAST(e.ts AS DATE)) // 7 AS INTEGER)
               - f.cohort_week AS week_offset,
             f.cohort_week,
             CAST(round(e.value * 100) AS BIGINT) AS cents
      FROM events e JOIN fw f USING (user_id)
      WHERE e.event_type = 'purchase'
    ),
    wk AS (
      SELECT cohort_week, week_offset,
             CAST(sum(cents) AS BIGINT) AS week_cents
      FROM rev GROUP BY 1, 2
    ),
    sizes AS (
      SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_users
      FROM fw GROUP BY cohort_week
    )
    SELECT w.cohort_week, w.week_offset, s.cohort_users,
           CAST(sum(w.week_cents) OVER (
             PARTITION BY w.cohort_week ORDER BY w.week_offset
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_cents,
           round(sum(w.week_cents) OVER (
             PARTITION BY w.cohort_week ORDER BY w.week_offset
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) / (100.0 * s.cohort_users), 6) AS ltv_per_user
    FROM wk w JOIN sizes s USING (cohort_week)
    """,
)
def q175_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime value: users grouped by first-activity week,
    purchase revenue accumulated by week offset — the CUMULATIVE
    money twin of q129's retention matrix (retention says who comes
    back; LTV says what they're worth as the cohort ages, which is
    what acquisition spend is actually judged against). Revenue in
    integer cents end-to-end; the per-user normalization divides
    once at the end.

    Scale shape: one user-keyed aggregate pins each user's cohort;
    the purchase join rides the same user key; weekly cells are
    O(cohorts × offsets) rows, so the running-sum window and the
    cohort-size broadcast join are metadata-scale."""
    ev = _t(spark, sf_dir, "events")
    week = lambda c: F.floor(  # noqa: E731
        F.datediff(F.to_date(c), F.lit("2024-01-01").cast("date")) / 7
    ).cast("int")
    fw = ev.groupBy("user_id").agg(
        week(F.min("ts")).alias("cohort_week")
    )
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .join(fw, "user_id")
        .select(
            "cohort_week",
            (week(F.col("ts")) - F.col("cohort_week")).alias("week_offset"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
    )
    wk = rev.groupBy("cohort_week", "week_offset").agg(
        F.sum("cents").cast("bigint").alias("week_cents")
    )
    sizes = fw.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_users")
    )
    w = (
        W.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        wk.join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "cohort_users",
            F.sum("week_cents").over(w).cast("bigint").alias("cum_cents"),
            F.round(
                F.sum("week_cents").over(w)
                / (100.0 * F.col("cohort_users")),
                6,
            ).alias("ltv_per_user"),
        )
    )


# ---------------------------------------------------------------------------
# q176 — triangle participation over the co-purchase graph
# ---------------------------------------------------------------------------

_TRIANGLE_TOPK = 20


def _triangle_oracle() -> str:
    return f"""
    WITH
{_COPURCHASE_PAIRS_SQL},
    canon AS (SELECT DISTINCT p1 AS a, p2 AS b FROM pairs),
    deg AS (
      SELECT node, count(*) AS deg FROM (
        SELECT a AS node FROM canon UNION ALL SELECT b FROM canon
      ) GROUP BY node
    ),
    ed AS (
      SELECT c.a, c.b, da.deg AS da, db.deg AS db
      FROM canon c JOIN deg da ON da.node = c.a
                   JOIN deg db ON db.node = c.b
    ),
    oriented AS (
      SELECT CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END AS src,
             CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END AS dst,
             CASE WHEN da < db OR (da = db AND a < b) THEN db ELSE da END AS dd
      FROM ed
    ),
    wedges AS (
      SELECT o1.src AS w0, o1.dst AS x, o2.dst AS y
      FROM oriented o1 JOIN oriented o2 ON o1.src = o2.src
      WHERE o1.dd < o2.dd OR (o1.dd = o2.dd AND o1.dst < o2.dst)
    ),
    tri AS (
      SELECT w.w0, w.x, w.y
      FROM wedges w JOIN oriented o ON o.src = w.x AND o.dst = w.y
    ),
    corners AS (
      SELECT w0 AS node FROM tri
      UNION ALL SELECT x FROM tri
      UNION ALL SELECT y FROM tri
    )
    SELECT CAST(node AS BIGINT) AS part_id,
           CAST(count(*) AS BIGINT) AS n_triangles
    FROM corners GROUP BY node
    ORDER BY n_triangles DESC, node LIMIT {_TRIANGLE_TOPK}
    """


@register("q176_triangle_participation", oracle=_triangle_oracle())
def q176_triangle_participation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} parts by triangle participation in the co-purchase
    graph — "items whose co-purchase neighborhoods are themselves
    interlinked", the local-clustering signal recommender pipelines
    and community detection use, and a structurally different graph
    kernel from q133's PageRank (closed-walk counting vs power
    iteration). Same capped fact-derived edge set as q133
    (``_copurchase_pairs``); no graph store.

    Degree-ordered orientation (operators/graph.py:triangle_counts)
    keeps the wedge self-join's output at ≤ E^1.5 rows no matter how
    skewed the hub degrees — the naive edges³ join is quadratic in
    the max degree. The oracle replays orientation, wedge join and
    closing join verbatim in SQL; ties at the top-k boundary break
    by part id in both engines.

    Scale shape: three key-partitioned shuffles (degree agg, wedge
    self-join on src, closing join on (x, y)) + one map-side-
    combinable count; the top-k is a TakeOrdered, never a global
    sort."""
    from citybikedatawarehouse_spark.operators.graph import triangle_counts

    pairs = _copurchase_pairs(_t(spark, sf_dir, "lineitem")).select(
        F.col("pp.p1").alias("p1"), F.col("pp.p2").alias("p2")
    )
    # opt-in broadcast: this graph's node set is the part catalog
    # (dim-sized by construction), measured 8.1 -> 6.9 s at sf0.1
    tri = triangle_counts(pairs, broadcast_degrees=True)
    return (
        tri.orderBy(F.desc("n_triangles"), "node")
        .limit(_TRIANGLE_TOPK)
        .select(F.col("node").alias("part_id"), "n_triangles")
    )


# ---------------------------------------------------------------------------
# q262 — sampled triangle count estimate (DOULION) vs exact, one-row audit
# ---------------------------------------------------------------------------

_TRI_P_PERMILLE = 500  # p = 0.5 -> triangles survive w.p. 1/8


def _tri_chain_sql(canon: str, sfx: str) -> str:
    """The degree-orientation / wedge / closing-join CTE chain over a
    given canonical-edge CTE — shared verbatim by the exact and the
    sampled legs of the q262 oracle (same SQL as q176's)."""
    return f"""
    deg{sfx} AS (
      SELECT node, count(*) AS deg FROM (
        SELECT a AS node FROM {canon} UNION ALL SELECT b FROM {canon}
      ) GROUP BY node
    ),
    ed{sfx} AS (
      SELECT c.a, c.b, da.deg AS da, db.deg AS db
      FROM {canon} c JOIN deg{sfx} da ON da.node = c.a
                     JOIN deg{sfx} db ON db.node = c.b
    ),
    oriented{sfx} AS (
      SELECT CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END AS src,
             CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END AS dst,
             CASE WHEN da < db OR (da = db AND a < b) THEN db ELSE da END AS dd
      FROM ed{sfx}
    ),
    tri{sfx} AS (
      SELECT w.w0 FROM (
        SELECT o1.src AS w0, o1.dst AS x, o2.dst AS y
        FROM oriented{sfx} o1 JOIN oriented{sfx} o2 ON o1.src = o2.src
        WHERE o1.dd < o2.dd OR (o1.dd = o2.dd AND o1.dst < o2.dst)
      ) w JOIN oriented{sfx} o ON o.src = w.x AND o.dst = w.y
    )"""


def _tri_estimate_oracle() -> str:
    p = _TRI_P_PERMILLE / 1000.0
    keep = (
        "(('0x' || substr(md5('tri:' || a || ':' || b), 1, 8))::BIGINT"
        f" % 1000) < {_TRI_P_PERMILLE}"
    )
    return f"""
    WITH
{_COPURCHASE_PAIRS_SQL},
    canon AS (SELECT DISTINCT least(p1, p2) AS a, greatest(p1, p2) AS b
              FROM pairs WHERE p1 <> p2),
    canon_s AS (SELECT a, b FROM canon WHERE {keep}),
{_tri_chain_sql("canon", "_x")},
{_tri_chain_sql("canon_s", "_s")}
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM canon) AS n_edges,
      (SELECT CAST(count(*) AS BIGINT) FROM canon_s) AS n_sampled_edges,
      (SELECT CAST(count(*) AS BIGINT) FROM tri_x) AS tri_exact,
      (SELECT CAST(count(*) AS BIGINT) FROM tri_s) AS tri_sampled,
      (SELECT CAST(round(count(*) / {p ** 3}) AS BIGINT) FROM tri_s)
        AS tri_estimate,
      (SELECT round(abs(CAST(round(count(*) / {p ** 3}) AS BIGINT)
                        - (SELECT count(*) FROM tri_x)) * 1.0
                    / nullif((SELECT count(*) FROM tri_x), 0), 6)
       FROM tri_s) AS rel_error
    """


@register("q262_triangle_sample_estimate", oracle=_tri_estimate_oracle())
def q262_triangle_sample_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DOULION sampled triangle counting (Tsourakakis et al., KDD'09)
    audited against the exact count — the ESTIMATOR path for graphs
    whose exact wedge shuffle exceeds the box (q176 at 100x projects
    ~100 GB of wedges; at p = 1/2 the wedge volume drops ~4x and at
    p = 1/8 ~64x, while the 1/p^3-scaled count stays unbiased).

    Edge sampling is a pure md5 hash of the canonical edge — NOT
    rand() — so retried tasks, reruns, and the DuckDB oracle pick the
    identical subset (the house determinism rule every sketch in the
    quartet follows). One row: edge counts, exact vs sampled vs
    scaled-estimate triangle counts, and the realized relative error.

    Scale shape: the sampled leg reuses triangle_counts' degree-
    oriented wedge join (<= (pE)^1.5 wedge rows); the exact leg here
    is the AUDIT at test scale — at 100 TB you run only the sampled
    leg, sized by the error target, exactly like q243/q244/q245's
    sketch-vs-exact audits."""
    from citybikedatawarehouse_spark.operators.graph import (
        triangle_sample_estimate,
    )

    pairs = _copurchase_pairs(_t(spark, sf_dir, "lineitem")).select(
        F.col("pp.p1").alias("p1"), F.col("pp.p2").alias("p2")
    )
    # with_exact=True shares ONE persisted canonical edge relation
    # between the sampled and exact legs, so the lineitem co-purchase
    # self-join runs once, not twice (measured 12.8 -> 11.0 s at sf0.1)
    return triangle_sample_estimate(
        pairs, p_permille=_TRI_P_PERMILLE, with_exact=True
    )


# ---------------------------------------------------------------------------
# q177 — inter-rater agreement (Cohen's kappa) between two quality gates
# ---------------------------------------------------------------------------

@register(
    "q177_rater_agreement",
    oracle=r"""
    WITH c AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_words,
             CAST(length(regexp_replace(text, '\s+', '', 'g')) AS BIGINT) AS n_nonspace,
             CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT) AS n_punct,
             CAST(len(regexp_extract_all(text, '\b(the|and|of|is|a)\b')) AS BIGINT) AS n_stop
      FROM documents
    ),
    r AS (
      SELECT CASE WHEN n_words BETWEEN 5 AND 5000 AND n_stop >= 1
                       AND n_nonspace * 1.0 / nullif(n_words, 0) BETWEEN 2 AND 12
                  THEN 1 ELSE 0 END AS a,
             CASE WHEN n_words >= 3
                       AND n_punct * 1.0 / nullif(n_words, 0) <= 0.25
                  THEN 1 ELSE 0 END AS b
      FROM c
    ),
    m AS (
      SELECT count(*) AS n,
             sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS n11,
             sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS n10,
             sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS n01,
             sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS n00
      FROM r
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST(n11 AS BIGINT) AS n_both_pass,
           CAST(n10 AS BIGINT) AS n_only_a,
           CAST(n01 AS BIGINT) AS n_only_b,
           CAST(n00 AS BIGINT) AS n_both_fail,
           round((n11 + n00) * 1.0 / n, 6) AS p_observed,
           round(((n11 + n10) * 1.0 / n) * ((n11 + n01) * 1.0 / n)
                 + ((n01 + n00) * 1.0 / n) * ((n10 + n00) * 1.0 / n), 6)
             AS p_expected,
           round(coalesce(
             ((n11 + n00) * 1.0 / n
              - (((n11 + n10) * 1.0 / n) * ((n11 + n01) * 1.0 / n)
                 + ((n01 + n00) * 1.0 / n) * ((n10 + n00) * 1.0 / n)))
             / nullif(1.0
              - (((n11 + n10) * 1.0 / n) * ((n11 + n01) * 1.0 / n)
                 + ((n01 + n00) * 1.0 / n) * ((n10 + n00) * 1.0 / n)), 0),
             1.0), 6) AS kappa
    FROM m
    """,
)
def q177_rater_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two independent deterministic document
    "raters" — a Gopher-style heuristic gate (length band, ≥1 English
    stopword, mean word length 2–12) and a symbol-density gate
    (≥3 words, punctuation ratio ≤ 0.25). The chance-corrected
    agreement statistic every labeling/curation pipeline reports
    before trusting a cheap filter as a proxy for an expensive one;
    the 2×2 contingency table ships alongside so disagreement is
    auditable, not just summarized.

    Degenerate guard: when chance agreement pe = 1 (both raters
    constant) kappa is taken as 1.0 in both engines.

    Scale shape: ONE corpus scan computing per-row boolean features
    (no explode, no join), then a single map-side-combinable 1-row
    aggregate — the same shape at 100 TB."""
    d = _t(spark, sf_dir, "documents")
    from citybikedatawarehouse_spark.functions.textfns import (
        LANG_MARKERS,
        marker_hits,
        word_count,
    )

    n_words = word_count("text")
    n_nonspace = F.length(F.regexp_replace("text", r"\s+", "")).cast("bigint")
    n_punct = F.size(
        F.regexp_extract_all("text", F.lit(r"[^A-Za-z0-9\s]"), 0)
    ).cast("bigint")
    n_stop = marker_hits("text", LANG_MARKERS["en"])
    awl = F.try_divide(n_nonspace * F.lit(1.0), n_words)
    a = (
        n_words.between(5, 5000) & (n_stop >= 1) & awl.between(2, 12)
    ).cast("int")
    b = (
        (n_words >= 3)
        & (F.try_divide(n_punct * F.lit(1.0), n_words) <= 0.25)
    ).cast("int")
    r = d.select(a.alias("a"), b.alias("b"))
    m = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(((F.col("a") == 1) & (F.col("b") == 1)).cast("int")).alias("n11"),
        F.sum(((F.col("a") == 1) & (F.col("b") == 0)).cast("int")).alias("n10"),
        F.sum(((F.col("a") == 0) & (F.col("b") == 1)).cast("int")).alias("n01"),
        F.sum(((F.col("a") == 0) & (F.col("b") == 0)).cast("int")).alias("n00"),
    )
    n, n11, n10, n01, n00 = (F.col(c) for c in ("n", "n11", "n10", "n01", "n00"))
    po = (n11 + n00) * F.lit(1.0) / n
    pe = ((n11 + n10) * F.lit(1.0) / n) * ((n11 + n01) * F.lit(1.0) / n) + (
        (n01 + n00) * F.lit(1.0) / n
    ) * ((n10 + n00) * F.lit(1.0) / n)
    kappa = F.coalesce(
        F.try_divide(po - pe, F.nullif(F.lit(1.0) - pe, F.lit(0.0))),
        F.lit(1.0),
    )
    return m.select(
        n.cast("bigint").alias("n_docs"),
        n11.cast("bigint").alias("n_both_pass"),
        n10.cast("bigint").alias("n_only_a"),
        n01.cast("bigint").alias("n_only_b"),
        n00.cast("bigint").alias("n_both_fail"),
        F.round(po, 6).alias("p_observed"),
        F.round(pe, 6).alias("p_expected"),
        F.round(kappa, 6).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# q179 — label-propagation communities over the co-purchase graph
# ---------------------------------------------------------------------------

_LPA_ITER = 3
_LPA_TOPK = 20


def _lpa_oracle() -> str:
    head = f"""
    WITH
{_COPURCHASE_PAIRS_SQL},
    edges AS (
      SELECT DISTINCT p1 AS src, p2 AS dst FROM pairs
      UNION SELECT DISTINCT p2, p1 FROM pairs
    ),
    l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges)"""
    steps = []
    for k in range(1, _LPA_ITER + 1):
        steps.append(f""",
    v{k} AS (
      SELECT e.dst AS node, l.lbl
      FROM edges e JOIN l{k - 1} l ON l.node = e.src
      UNION ALL SELECT node, lbl FROM l{k - 1}
    ),
    c{k} AS (SELECT node, lbl, count(*) AS c FROM v{k} GROUP BY node, lbl),
    l{k} AS (
      SELECT node, lbl FROM (
        SELECT node, lbl,
               row_number() OVER (PARTITION BY node
                                  ORDER BY c DESC, lbl) AS rn
        FROM c{k}
      ) WHERE rn = 1
    )""")
    return (
        head
        + "".join(steps)
        + f"""
    SELECT CAST(lbl AS BIGINT) AS community,
           CAST(count(*) AS BIGINT) AS n_members
    FROM l{_LPA_ITER} GROUP BY lbl
    ORDER BY n_members DESC, community LIMIT {_LPA_TOPK}
    """
    )


@register("q179_copurchase_communities", oracle=_lpa_oracle())
def q179_copurchase_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 communities (by size) from deterministic synchronous
    label propagation over the co-purchase graph — 3 fixed mode-vote
    rounds with a self-vote and min-label ties
    (operators/graph.py:label_propagation). The third graph kernel
    beside PageRank (q133, walk centrality) and triangles (q176,
    local closure): mode votes find the DENSE regions — "catalog
    neighborhoods bought together" — where min-label flooding
    (dedup_clusters) would merge everything reachable.

    Oracle-paired end-to-end: the whole vote/argmax recurrence
    replays as a DuckDB CTE chain — integer counts and id
    tie-breaks, no floats anywhere.

    Scale shape: per round ONE src-keyed join + one combinable
    (node, label) count + one node-keyed window, all O(E); edges and
    labels checkpointed per round so iteration k never re-executes
    rounds 1..k-1. Community sizes are a TakeOrdered top-k."""
    from citybikedatawarehouse_spark.operators.graph import label_propagation

    pairs = _copurchase_pairs(_t(spark, sf_dir, "lineitem"))
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("pp.p1").alias("src"), F.col("pp.p2").alias("dst")
                ),
                F.struct(
                    F.col("pp.p2").alias("src"), F.col("pp.p1").alias("dst")
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    # opt-in broadcast: node set = part catalog (dim-sized), removes
    # the per-round O(E) edge-side exchange
    lab = label_propagation(edges, n_iter=_LPA_ITER, broadcast_labels=True)
    return (
        lab.groupBy(F.col("community"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
        .orderBy(F.desc("n_members"), "community")
        .limit(_LPA_TOPK)
        .select(F.col("community").cast("bigint"), "n_members")
    )


# ---------------------------------------------------------------------------
# q180 — linear multi-touch attribution
# ---------------------------------------------------------------------------

@register(
    "q180_linear_attribution",
    oracle="""
    WITH p AS (
      SELECT event_id AS pid, user_id, ts,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    t AS (
      SELECT user_id, ts, event_type
      FROM events WHERE event_type <> 'purchase'
    ),
    pt AS (
      SELECT p.pid, p.cents, t.event_type AS channel
      FROM p JOIN t ON t.user_id = p.user_id
                   AND t.ts < p.ts
                   AND t.ts >= p.ts - INTERVAL 7 DAY
    ),
    per_p AS (
      SELECT pid, cents, channel,
             count(*) AS cnt,
             sum(count(*)) OVER (PARTITION BY pid) AS k
      FROM pt GROUP BY pid, cents, channel
    ),
    credited AS (
      SELECT channel, cnt, cents * cnt // k AS ch_cents FROM per_p
      UNION ALL
      SELECT 'direct', 1, p.cents
      FROM p LEFT JOIN (SELECT DISTINCT pid FROM pt) x ON x.pid = p.pid
      WHERE x.pid IS NULL
    )
    SELECT channel,
           CAST(sum(cnt) AS BIGINT) AS n_touches,
           CAST(sum(ch_cents) AS BIGINT) AS credited_cents
    FROM credited GROUP BY channel
    """,
)
def q180_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's revenue is
    split EQUALLY across every non-purchase touch in its 7-day
    lookback (q170's window), 'direct' when there are none — the
    fairer sibling of last-touch that marketing teams reconcile
    against. All arithmetic stays in integers: each channel's share
    is cents·cnt DIV k (floor division — identical in both engines;
    remainder pennies are deliberately dropped rather than floated).

    Scale shape: ONE user-keyed join bounded by the 7-day range
    predicate (the same per-user range-join shape as q38's as-of
    family), then aggregates over (purchase, channel) rows — no
    window over raw events, no explode. The direct-purchase
    anti-join rides the same purchase relation."""
    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("pu"),
        F.col("ts").alias("pts"),
        cents.alias("cents"),
    )
    t = ev.where(F.col("event_type") != "purchase").select(
        F.col("user_id").alias("tu"),
        F.col("ts").alias("tts"),
        F.col("event_type").alias("channel"),
    )
    pt = p.join(
        t,
        (F.col("tu") == F.col("pu"))
        & (F.col("tts") < F.col("pts"))
        & (F.col("tts") >= F.col("pts") - F.expr("INTERVAL 7 DAYS")),
    ).select("pid", "cents", "channel")
    per_p = (
        pt.groupBy("pid", "cents", "channel")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("k", F.sum("cnt").over(W.partitionBy("pid")))
    )
    credited = per_p.select(
        "channel",
        "cnt",
        F.expr("div(cents * cnt, k)").alias("ch_cents"),
    ).unionAll(
        p.join(pt.select("pid").distinct(), "pid", "left_anti").select(
            F.lit("direct").alias("channel"),
            F.lit(1).cast("bigint").alias("cnt"),
            F.col("cents").alias("ch_cents"),
        )
    )
    return credited.groupBy("channel").agg(
        F.sum("cnt").cast("bigint").alias("n_touches"),
        F.sum("ch_cents").cast("bigint").alias("credited_cents"),
    )


# ---------------------------------------------------------------------------
# q181 — RFM customer segmentation
# ---------------------------------------------------------------------------

@register(
    "q181_rfm_segments",
    oracle="""
    WITH m AS (
      SELECT o_custkey,
             date_diff('day', DATE '1990-01-01', max(o_orderdate)) AS rec,
             count(*) AS freq,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS mon
      FROM orders GROUP BY o_custkey
    ),
    b AS (
      SELECT
        [quantile_cont(rec, 0.2), quantile_cont(rec, 0.4),
         quantile_cont(rec, 0.6), quantile_cont(rec, 0.8)] AS rb,
        [quantile_cont(freq, 0.2), quantile_cont(freq, 0.4),
         quantile_cont(freq, 0.6), quantile_cont(freq, 0.8)] AS fb,
        [quantile_cont(mon, 0.2), quantile_cont(mon, 0.4),
         quantile_cont(mon, 0.6), quantile_cont(mon, 0.8)] AS mb
      FROM m
    ),
    scored AS (
      SELECT 1 + len(list_filter(b.rb, x -> x < m.rec)) AS r_score,
             1 + len(list_filter(b.fb, x -> x < m.freq)) AS f_score,
             1 + len(list_filter(b.mb, x -> x < m.mon)) AS m_score,
             m.mon
      FROM m CROSS JOIN b
    )
    SELECT CAST(r_score AS INTEGER) AS r_score,
           CAST(f_score AS INTEGER) AS f_score,
           CAST(m_score AS INTEGER) AS m_score,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(mon) AS BIGINT) AS monetary_cents
    FROM scored GROUP BY r_score, f_score, m_score
    """,
)
def q181_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic warehouse customer-value
    rollup: per customer, Recency (days from a fixed anchor to the
    last order), Frequency (order count) and Monetary (lifetime
    cents), each scored 1–5 by exact quintile (q174's equi-depth
    rule: score = 1 + boundaries strictly below, so boundary ties
    resolve identically in both engines), then the 5×5×5 segment
    census with exact integer revenue.

    Scale shape: one customer-keyed aggregate (map-side combinable),
    ONE pass computing all three quintile arrays in a single 1-row
    aggregate broadcast to every row, per-row array-filter scoring
    (no join, no sort), and a ≤125-group final rollup. Exact
    percentile swaps for approx_percentile at extreme scale with the
    same plan."""
    o = _t(spark, sf_dir, "orders")
    m = o.groupBy("o_custkey").agg(
        F.datediff(F.max("o_orderdate"), F.lit("1990-01-01")).alias("rec"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "mon"
        ),
    )
    b = m.agg(
        F.expr(f"array({', '.join(f'percentile(rec, {q/5})' for q in range(1, 5))})").alias("rb"),
        F.expr(f"array({', '.join(f'percentile(freq, {q/5})' for q in range(1, 5))})").alias("fb"),
        F.expr(f"array({', '.join(f'percentile(mon, {q/5})' for q in range(1, 5))})").alias("mb"),
    )
    scored = m.crossJoin(F.broadcast(b)).select(
        (1 + F.size(F.filter("rb", lambda x: x < F.col("rec")))).cast("int").alias("r_score"),
        (1 + F.size(F.filter("fb", lambda x: x < F.col("freq")))).cast("int").alias("f_score"),
        (1 + F.size(F.filter("mb", lambda x: x < F.col("mon")))).cast("int").alias("m_score"),
        "mon",
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("mon").cast("bigint").alias("monetary_cents"),
    )


# ---------------------------------------------------------------------------
# q183 — Mann-Whitney U test (nonparametric two-sample)
# ---------------------------------------------------------------------------

@register(
    "q183_mann_whitney",
    oracle="""
    WITH h AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
             sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS c1,
             sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS c2
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
      GROUP BY 1
    ),
    cum AS (
      SELECT v, c1, c2,
             coalesce(sum(c2) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum2
      FROM h
    ),
    agg AS (
      SELECT sum(c1) AS n1, sum(c2) AS n2,
             sum(c1 * (2 * cum2 + c2)) AS two_u,
             sum((c1 + c2) * (c1 + c2) * (c1 + c2) - (c1 + c2)) AS tie3
      FROM cum
    )
    SELECT CAST(n1 AS BIGINT) AS n_urgent,
           CAST(n2 AS BIGINT) AS n_low,
           round(two_u / 2.0, 1) AS u_stat,
           round(two_u * 1.0 / (n1 * n2) - 1.0, 6) AS rank_biserial,
           round((two_u / 2.0 - n1 * n2 / 2.0)
                 / sqrt(n1 * n2 / 12.0
                        * ((n1 + n2 + 1.0)
                           - tie3 * 1.0 / ((n1 + n2) * (n1 + n2 - 1.0)))), 6)
             AS z_score
    FROM agg
    """,
)
def q183_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) between URGENT and LOW
    order values — the NONPARAMETRIC two-sample test beside q144's
    normal-theory z-test: no distributional assumption, robust to the
    heavy right tail order values actually have. Includes the
    tie-corrected normal approximation and the rank-biserial effect
    size.

    Never ranks raw rows: U comes from the value HISTOGRAM via
    2·U = Σ_v c1(v)·(2·cum2(v<) + c2(v)) — integer-exact (the ·2
    dodges the half-rank of ties), the same histogram-identity trick
    as q168's Gini. Doubles appear only in the final 1-row
    z/effect-size expressions, identically ordered in both engines.

    Scale shape: one scan-side filter + (value, group) count, then
    an ordered prefix sum over O(distinct values) histogram rows and
    a 1-row aggregate. The prefix sum is the only ordered step — at
    extreme cardinality it becomes a range-partitioned two-pass
    prefix sum (per-partition totals broadcast, local cumsum), same
    plan otherwise. n1·n2 overflows bigint around n≈3e9 — swap the
    final expressions to DECIMAL there."""
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    h = o.groupBy(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v")
    ).agg(
        F.sum(
            (F.col("o_orderpriority") == "1-URGENT").cast("long")
        ).alias("c1"),
        F.sum((F.col("o_orderpriority") == "5-LOW").cast("long")).alias(
            "c2"
        ),
    )
    w = W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    cum = h.select(
        "c1",
        "c2",
        F.coalesce(F.sum("c2").over(w), F.lit(0)).alias("cum2"),
    )
    t = F.col("c1") + F.col("c2")
    agg = cum.agg(
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
        F.sum(F.col("c1") * (2 * F.col("cum2") + F.col("c2"))).alias(
            "two_u"
        ),
        F.sum(t * t * t - t).alias("tie3"),
    )
    n1, n2, two_u, tie3 = (
        F.col(c) for c in ("n1", "n2", "two_u", "tie3")
    )
    n = n1 + n2
    var = (
        n1 * n2 / F.lit(12.0)
        * ((n + F.lit(1.0)) - tie3 * F.lit(1.0) / (n * (n - F.lit(1.0))))
    )
    return agg.select(
        n1.cast("bigint").alias("n_urgent"),
        n2.cast("bigint").alias("n_low"),
        F.round(two_u / F.lit(2.0), 1).alias("u_stat"),
        F.round(two_u * F.lit(1.0) / (n1 * n2) - F.lit(1.0), 6).alias(
            "rank_biserial"
        ),
        F.round(
            (two_u / F.lit(2.0) - n1 * n2 / F.lit(2.0)) / F.sqrt(var), 6
        ).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# q184 — chi-squared independence test + Cramér's V
# ---------------------------------------------------------------------------

@register(
    "q184_chi_squared",
    oracle="""
    WITH o AS (
      SELECT source, lang, count(*) AS obs FROM documents GROUP BY source, lang
    ),
    rt AS (SELECT source, sum(obs) AS rn FROM o GROUP BY source),
    ct AS (SELECT lang, sum(obs) AS cn FROM o GROUP BY lang),
    n AS (SELECT sum(obs) AS n FROM o),
    cells AS (
      -- FULL r x c grid: a structurally-absent cell still contributes
      -- its expected count ((0-e)^2/e = e) or chi2 is understated
      SELECT coalesce(o.obs, 0) AS obs, rt.rn * ct.cn * 1.0 / n.n AS exp
      FROM rt CROSS JOIN ct CROSS JOIN n
      LEFT JOIN o USING (source, lang)
    ),
    stat AS (
      SELECT sum((obs - exp) * (obs - exp) / exp) AS chi2,
             (SELECT count(*) FROM rt) AS r,
             (SELECT count(*) FROM ct) AS c,
             (SELECT n FROM n) AS n
      FROM cells
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
           round(chi2, 6) AS chi2,
           round(sqrt(chi2 / (n * least(r - 1, c - 1))), 6) AS cramers_v
    FROM stat
    """,
)
def q184_chi_squared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-squared independence test between document source
    and language, with Cramér's V effect size — the categorical
    association audit a curation pipeline runs before stratifying on
    one facet and assuming the other stays balanced (a high V means
    per-source quotas silently skew the language mix, q127/q162
    territory).

    Scale shape: ONE corpus scan to the (source, lang) contingency
    table — every later stage (marginals, expected counts, the
    statistic) operates on r·c rows. Marginals join back broadcast;
    the statistic is a 1-row aggregate. Integer observed counts;
    doubles only in the final expected/chi2 arithmetic, identically
    ordered both engines."""
    d = _t(spark, sf_dir, "documents")
    o = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("obs"))
    o = o.localCheckpoint(eager=True)  # r·c rows, four consumers
    rt = o.groupBy("source").agg(F.sum("obs").alias("rn"))
    ct = o.groupBy("lang").agg(F.sum("obs").alias("cn"))
    n = o.agg(F.sum("obs").alias("n"))
    # FULL r x c grid (tiny: marginals only): a structurally-absent
    # cell still contributes its expected count — (0-e)^2/e = e —
    # otherwise chi2 is silently understated wherever a combination
    # never occurs
    cells = (
        rt.crossJoin(F.broadcast(ct))
        .crossJoin(F.broadcast(n))
        .join(F.broadcast(o), ["source", "lang"], "left")
        .select(
            F.coalesce("obs", F.lit(0)).alias("obs"),
            (F.col("rn") * F.col("cn") * F.lit(1.0) / F.col("n")).alias(
                "exp"
            ),
        )
    )
    chi2 = cells.agg(
        F.sum(
            (F.col("obs") - F.col("exp"))
            * (F.col("obs") - F.col("exp"))
            / F.col("exp")
        ).alias("chi2")
    )
    dims = (
        rt.agg(F.count(F.lit(1)).alias("r"))
        .crossJoin(F.broadcast(ct.agg(F.count(F.lit(1)).alias("c"))))
        .crossJoin(F.broadcast(n))
    )
    return (
        chi2.crossJoin(F.broadcast(dims))
        .select(
            F.col("n").cast("bigint").alias("n_docs"),
            ((F.col("r") - 1) * (F.col("c") - 1))
            .cast("bigint")
            .alias("dof"),
            F.round("chi2", 6).alias("chi2"),
            F.round(
                F.sqrt(
                    F.col("chi2")
                    / (
                        F.col("n")
                        * F.least(F.col("r") - 1, F.col("c") - 1)
                    )
                ),
                6,
            ).alias("cramers_v"),
        )
    )


# ---------------------------------------------------------------------------
# q185 — day-of-week seasonality profile
# ---------------------------------------------------------------------------

@register(
    "q185_dow_seasonality",
    oracle="""
    WITH daily AS (
      SELECT o_orderdate AS d,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY o_orderdate
    ),
    base AS (SELECT avg(cents * 1.0) AS overall FROM daily)
    SELECT CAST(isodow(d) AS INTEGER) AS dow,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(cents) AS BIGINT) AS total_cents,
           round(avg(cents * 1.0), 6) AS avg_day_cents,
           round(avg(cents * 1.0) / (SELECT overall FROM base), 6)
             AS seasonal_index
    FROM daily GROUP BY isodow(d)
    """,
)
def q185_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiplicative day-of-week seasonality of order revenue: the
    per-weekday mean of DAILY totals over the grand daily mean — the
    classical decomposition's seasonal factor, the input every
    forecast (q148) and anomaly rule (q149's CUSUM) needs before
    comparing a Monday to a Saturday. ISO weekday numbering
    (1=Monday) in both engines (Spark ``weekday()+1`` == DuckDB
    ``isodow``).

    Scale shape: one date-keyed aggregate collapses the fact table
    to O(days) rows; everything after — weekday rollup, grand mean,
    index — runs on that tiny relation (grand mean broadcast as one
    row). Integer cents until the final two rounded doubles."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "cents"
        )
    ).localCheckpoint(eager=True)  # O(days) rows, two consumers
    base = daily.agg(F.avg(F.col("cents") * F.lit(1.0)).alias("overall"))
    return (
        daily.groupBy(
            (F.expr("weekday(d)") + F.lit(1)).cast("int").alias("dow")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.sum("cents").cast("bigint").alias("total_cents"),
            F.round(F.avg(F.col("cents") * F.lit(1.0)), 6).alias(
                "avg_day_cents"
            ),
            F.avg(F.col("cents") * F.lit(1.0)).alias("__avg_raw"),
        )
        .crossJoin(F.broadcast(base))
        .select(
            "dow",
            "n_days",
            "total_cents",
            "avg_day_cents",
            F.round(F.col("__avg_raw") / F.col("overall"), 6).alias(
                "seasonal_index"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q186 — nation-to-nation trade flows (TPC-H Q7 shape)
# ---------------------------------------------------------------------------

@register(
    "q186_trade_flows",
    oracle="""
    SELECT ns.n_name AS supp_nation,
           nc.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INTEGER) AS ship_year,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation nc ON nc.n_nationkey = c.c_nationkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation ns ON ns.n_nationkey = s.s_nationkey
    WHERE ns.n_nationkey <> nc.n_nationkey
    GROUP BY 1, 2, 3
    """,
)
def q186_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-border trade flows — the TPC-H Q7 join shape: lineitem
    ⋈ orders ⋈ customer ⋈ nation twice (customer AND supplier side)
    with an inequality filter, rolled up by nation pair and ship
    year. The 6-relation plan is exactly what Catalyst's join
    reordering + broadcast selection exists for: expressed
    declaratively, the two 25-row nation dims and the supplier dim
    broadcast, and the only corpus-scale shuffle is lineitem ⋈
    orders.

    Revenue follows q01's discount formula in integer cents; the
    anti-self-trade filter runs on nation KEYS before the name
    projection.

    Scale shape: one fact-sized join (lineitem ⋈ orders on
    orderkey), everything else broadcast; the rollup output is
    |nations|² · years rows. At 100 TB, bucketing lineitem and
    orders by orderkey makes the remaining big join shuffle-free
    (q39's demonstrated layout)."""
    sf = sf_dir
    l = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    nc = n.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    ns = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    df = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("s_nk"))
        .where(F.col("s_nk") != F.col("c_nk"))
    )
    return df.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("l_shipdate").cast("int").alias("ship_year"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("revenue_cents"),
    )


# ---------------------------------------------------------------------------
# q187 — per-segment OLS revenue trend
# ---------------------------------------------------------------------------

@register(
    "q187_segment_trend",
    oracle="""
    WITH daily AS (
      SELECT c.c_mktsegment AS seg,
             date_diff('day', DATE '1992-01-01', o.o_orderdate) AS x,
             sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS y
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    s AS (
      SELECT seg, count(*) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * 1.0 * x) AS sxx, sum(x * 1.0 * y) AS sxy,
             sum(y * 1.0 * y) AS syy
      FROM daily GROUP BY seg
    )
    SELECT seg AS segment,
           CAST(n AS BIGINT) AS n_days,
           round((n * sxy - sx * 1.0 * sy) / (n * sxx - sx * 1.0 * sx), 6)
             AS slope_cents_per_day,
           round((sy - (n * sxy - sx * 1.0 * sy)
                        / (n * sxx - sx * 1.0 * sx) * sx) / n, 6)
             AS intercept_cents,
           round(power(n * sxy - sx * 1.0 * sy, 2)
                 / ((n * sxx - sx * 1.0 * sx) * (n * syy - sy * 1.0 * sy)), 6)
             AS r2
    FROM s
    """,
)
def q187_segment_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise OLS: the daily-revenue trend line PER market
    segment (slope in cents/day, intercept, r²) from the closed-form
    normal equations — q148's global regression generalized to one
    fit per group in a single plan, the "which segments are growing"
    query every revenue dashboard runs.

    All five sufficient statistics (Σx, Σy, Σx², Σxy, Σy²)
    accumulate in one map-side-combinable aggregate over the
    (segment, day) relation — fitting G groups costs exactly one
    aggregation, not G jobs. Integer day index and cents keep the
    sums exact; doubles appear in the final per-group expressions
    only, identically ordered both engines.

    Scale shape: fact join on custkey (bucketable), collapse to
    O(G·days) rows, then a G-row closed-form select. No window, no
    iteration, no driver math."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    daily = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")).alias("x"),
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("bigint")
            ).alias("y")
        )
    )
    s = daily.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.lit(1.0) * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.lit(1.0) * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.lit(1.0) * F.col("y")).alias("syy"),
    )
    n, sx, sy, sxx, sxy, syy = (
        F.col(k) for k in ("n", "sx", "sy", "sxx", "sxy", "syy")
    )
    cov = n * sxy - sx * F.lit(1.0) * sy
    varx = n * sxx - sx * F.lit(1.0) * sx
    vary = n * syy - sy * F.lit(1.0) * sy
    slope = cov / varx
    return s.select(
        F.col("seg").alias("segment"),
        n.cast("bigint").alias("n_days"),
        F.round(slope, 6).alias("slope_cents_per_day"),
        F.round((sy - slope * sx) / n, 6).alias("intercept_cents"),
        F.round(F.pow(cov, 2) / (varx * vary), 6).alias("r2"),
    )


# ---------------------------------------------------------------------------
# q189 — graph summary statistics + degree assortativity
# ---------------------------------------------------------------------------

@register(
    "q189_graph_stats",
    oracle=f"""
    WITH
{_COPURCHASE_PAIRS_SQL},
    canon AS (SELECT DISTINCT p1 AS a, p2 AS b FROM pairs),
    deg AS (
      SELECT node, count(*) AS deg FROM (
        SELECT a AS node FROM canon UNION ALL SELECT b FROM canon
      ) GROUP BY node
    ),
    ed AS (
      SELECT da.deg AS x, db.deg AS y
      FROM canon c JOIN deg da ON da.node = c.a
                   JOIN deg db ON db.node = c.b
    ),
    -- assortativity = Pearson r over BOTH orientations of each edge
    -- (the undirected convention: the pair set must be symmetric)
    sym AS (SELECT x, y FROM ed UNION ALL SELECT y, x FROM ed),
    s AS (
      SELECT count(*) AS m2, sum(x * 1.0) AS sx, sum(y * 1.0) AS sy,
             sum(x * 1.0 * x) AS sxx, sum(y * 1.0 * y) AS syy,
             sum(x * 1.0 * y) AS sxy
      FROM sym
    ),
    g AS (
      SELECT (SELECT count(*) FROM deg) AS n_nodes,
             (SELECT count(*) FROM canon) AS n_edges,
             (SELECT max(deg) FROM deg) AS max_degree
    )
    SELECT CAST(g.n_nodes AS BIGINT) AS n_nodes,
           CAST(g.n_edges AS BIGINT) AS n_edges,
           CAST(g.max_degree AS BIGINT) AS max_degree,
           round(2.0 * g.n_edges / g.n_nodes, 6) AS mean_degree,
           round(2.0 * g.n_edges / (g.n_nodes * (g.n_nodes - 1.0)), 6)
             AS density,
           round((s.m2 * s.sxy - s.sx * s.sy)
                 / (sqrt(s.m2 * s.sxx - s.sx * s.sx)
                    * sqrt(s.m2 * s.syy - s.sy * s.sy)), 6)
             AS assortativity
    FROM g CROSS JOIN s
    """,
)
def q189_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass structural summary of the co-purchase graph: node and
    edge counts, density, mean/max degree, and DEGREE ASSORTATIVITY —
    the Pearson correlation of endpoint degrees over the symmetric
    edge set (Newman's r): negative r (hubs bonding to leaves) vs
    positive r (hub-hub cores) decides whether degree-based caps or
    community detection is the right skew strategy for the graph
    queries beside it (q133/q176/q179).

    Scale shape: the same canon/degree relations as q176's prep, the
    edge-degree join, then 1-row sufficient-statistic aggregates —
    no iteration, no window. The symmetric union doubles edge rows
    exactly once (assortativity convention).

    Sources: Newman (2002), "Assortative mixing in networks"."""
    pairs = _copurchase_pairs(_t(spark, sf_dir, "lineitem")).select(
        F.col("pp.p1").alias("p1"), F.col("pp.p2").alias("p2")
    )
    canon = (
        pairs.select(
            F.least("p1", "p2").alias("a"), F.greatest("p1", "p2").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
        .localCheckpoint(eager=True)  # three consumers below
    )
    deg = (
        canon.select(F.col("a").alias("node"))
        .unionAll(canon.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=True)
    )
    ed = canon.join(
        deg.select(F.col("node").alias("a"), F.col("deg").alias("x")), "a"
    ).join(
        deg.select(F.col("node").alias("b"), F.col("deg").alias("y")), "b"
    ).select("x", "y")
    sym = ed.unionAll(ed.select(F.col("y").alias("x"), F.col("x").alias("y")))
    s = sym.agg(
        F.count(F.lit(1)).alias("m2"),
        F.sum(F.col("x") * F.lit(1.0)).alias("sx"),
        F.sum(F.col("y") * F.lit(1.0)).alias("sy"),
        F.sum(F.col("x") * F.lit(1.0) * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.lit(1.0) * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.lit(1.0) * F.col("y")).alias("sxy"),
    )
    g = (
        deg.agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.max("deg").alias("max_degree"),
        )
        .crossJoin(F.broadcast(canon.agg(F.count(F.lit(1)).alias("n_edges"))))
    )
    m2, sx, sy, sxx, syy, sxy = (
        F.col(c) for c in ("m2", "sx", "sy", "sxx", "syy", "sxy")
    )
    return g.crossJoin(F.broadcast(s)).select(
        F.col("n_nodes").cast("bigint"),
        F.col("n_edges").cast("bigint"),
        F.col("max_degree").cast("bigint"),
        F.round(F.lit(2.0) * F.col("n_edges") / F.col("n_nodes"), 6).alias(
            "mean_degree"
        ),
        F.round(
            F.lit(2.0)
            * F.col("n_edges")
            / (F.col("n_nodes") * (F.col("n_nodes") - F.lit(1.0))),
            6,
        ).alias("density"),
        F.round(
            (m2 * sxy - sx * sy)
            / (
                F.sqrt(m2 * sxx - sx * sx) * F.sqrt(m2 * syy - sy * sy)
            ),
            6,
        ).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# q190 — k-core of the co-purchase graph
# ---------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_ROUNDS = 8


def _kcore_oracle() -> str:
    head = f"""
    WITH
{_COPURCHASE_PAIRS_SQL},
    e0 AS MATERIALIZED (SELECT DISTINCT p1 AS a, p2 AS b FROM pairs)"""
    steps = []
    for r in range(1, _KCORE_ROUNDS + 1):
        steps.append(f""",
    d{r} AS MATERIALIZED (
      SELECT node, count(*) AS deg FROM (
        SELECT a AS node FROM e{r - 1} UNION ALL SELECT b FROM e{r - 1}
      ) GROUP BY node
    ),
    k{r} AS MATERIALIZED (SELECT node FROM d{r} WHERE deg >= {_KCORE_K}),
    e{r} AS MATERIALIZED (
      SELECT e.a, e.b FROM e{r - 1} e
      WHERE e.a IN (SELECT node FROM k{r})
        AND e.b IN (SELECT node FROM k{r})
    )""")
    return (
        head
        + "".join(steps)
        + f"""
    SELECT CAST((SELECT count(*) FROM (
             SELECT a AS n FROM e{_KCORE_ROUNDS}
             UNION SELECT b FROM e{_KCORE_ROUNDS})) AS BIGINT)
             AS n_core_nodes,
           CAST((SELECT count(*) FROM e{_KCORE_ROUNDS}) AS BIGINT)
             AS n_core_edges,
           CAST(coalesce((SELECT max(deg) FROM (
             SELECT count(*) AS deg FROM (
               SELECT a AS node FROM e{_KCORE_ROUNDS}
               UNION ALL SELECT b FROM e{_KCORE_ROUNDS}
             ) GROUP BY node)), 0) AS BIGINT) AS max_core_degree
    """
    )


@register("q190_kcore", oracle=_kcore_oracle())
def q190_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 3-core of the co-purchase graph (iterative peeling, ≤ 8
    synchronous rounds with early exit on stability) summarized as
    core size, edge count and max in-core degree — the cohesive
    backbone left after pendant items and weak tendrils peel away,
    the standard pre-filter before community detection (q179) and
    the classic "where does the graph actually hold together"
    measure.

    Parity convention: the oracle replays EXACTLY 8 peel rounds; a
    stable round is a no-op, so early exit agrees with the fixed
    replay whenever peeling converges inside the budget
    (tests assert it does at both test scales — the same
    fixed-iteration contract as the k-means/PageRank fits).

    Scale shape: per round one combinable degree aggregate + two
    semi-joins; the edge set only shrinks; two edge generations
    persisted serialized-spillable at a time (see
    operators/graph.py:k_core)."""
    from citybikedatawarehouse_spark.operators.graph import k_core

    pairs = _copurchase_pairs(_t(spark, sf_dir, "lineitem")).select(
        F.col("pp.p1").alias("a"), F.col("pp.p2").alias("b")
    )
    core = k_core(pairs, k=_KCORE_K, max_rounds=_KCORE_ROUNDS)
    nodes = (
        core.select(F.col("a").alias("n"))
        .union(core.select(F.col("b").alias("n")))
        .distinct()  # DataFrame.union is UNION ALL
    )
    deg = (
        core.select(F.col("a").alias("node"))
        .unionAll(core.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return (
        nodes.agg(F.count(F.lit(1)).cast("bigint").alias("n_core_nodes"))
        .crossJoin(
            F.broadcast(
                core.agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_core_edges")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                deg.agg(
                    F.coalesce(F.max("deg"), F.lit(0))
                    .cast("bigint")
                    .alias("max_core_degree")
                )
            )
        )
    )


# ---------------------------------------------------------------------------
# q193 — longest rising-revenue streaks (gaps and islands)
# ---------------------------------------------------------------------------

@register(
    "q193_revenue_streaks",
    oracle="""
    WITH daily AS (
      SELECT o_orderdate AS d,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY o_orderdate
    ),
    flagged AS (
      SELECT d, cents,
             CASE WHEN cents > lag(cents) OVER (ORDER BY d)
                  THEN 1 ELSE 0 END AS up
      FROM daily
    ),
    grp AS (
      SELECT d, cents, up,
             CAST(row_number() OVER (ORDER BY d) AS BIGINT)
               - CAST(sum(up) OVER (ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS g
      FROM flagged
    ),
    streaks AS (
      SELECT g,
             CAST(count(*) AS BIGINT) AS len_days,
             min(d) AS start_day, max(d) AS end_day,
             CAST(sum(cents) AS BIGINT) AS streak_cents
      FROM grp WHERE up = 1 GROUP BY g
    )
    SELECT CAST(len_days AS BIGINT) AS len_days,
           strftime(start_day, '%Y-%m-%d') AS start_day,
           strftime(end_day, '%Y-%m-%d') AS end_day,
           streak_cents
    FROM (
      SELECT *, row_number() OVER (ORDER BY len_days DESC, start_day) AS rn
      FROM streaks
    ) WHERE rn <= 10
    """,
)
def q193_revenue_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 longest streaks of strictly-rising daily revenue — the
    gaps-and-islands idiom (row_number minus running-count grouping
    key) every SQL-warehouse user eventually needs, here on the
    O(days) daily aggregate: a streak day is one whose total beats
    the previous day's; consecutive up-days share a group key.

    Scale shape: the fact table collapses to O(days) rows in one
    map-side-combinable aggregate; every window after runs on that
    tiny ordered relation (single partition by design and by size —
    the same note as q183's prefix sum: range-partitioned two-pass
    prefix sums if 'days' ever stops being small). Top-10 is a
    TakeOrdered with a start-day tie-break."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "cents"
        )
    )
    w = W.orderBy("d")
    flagged = daily.select(
        "d",
        "cents",
        F.when(F.col("cents") > F.lag("cents").over(w), 1)
        .otherwise(0)
        .alias("up"),
    )
    grp = flagged.withColumn(
        "g",
        F.row_number().over(w).cast("bigint")
        - F.sum("up")
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("bigint"),
    )
    streaks = (
        grp.where(F.col("up") == 1)
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("len_days"),
            F.min("d").alias("sd"),
            F.max("d").alias("ed"),
            F.sum("cents").cast("bigint").alias("streak_cents"),
        )
    )
    return (
        streaks.orderBy(F.desc("len_days"), "sd")
        .limit(10)
        .select(
            "len_days",
            F.date_format("sd", "yyyy-MM-dd").alias("start_day"),
            F.date_format("ed", "yyyy-MM-dd").alias("end_day"),
            "streak_cents",
        )
    )


# ---------------------------------------------------------------------------
# q197 — link prediction by neighborhood overlap
# ---------------------------------------------------------------------------

_LINKPRED_MID_CAP = 64
# floor of 2: at the generator's co-purchase density no non-adjacent
# pair reaches 3 capped common neighbors beyond sf0.001 — a floor of
# 3 made the whole query return the empty set at sf0.01/sf0.1 (a
# vacuous hash match; the q147 trap). 2 keeps a full top-20 at every
# SF while still excluding single-coincidence pairs.
_LINKPRED_MIN_CN = 2
_LINKPRED_TOPK = 20


def _linkpred_oracle() -> str:
    return f"""
    WITH
{_COPURCHASE_PAIRS_SQL},
    canon AS MATERIALIZED (SELECT DISTINCT p1 AS a, p2 AS b FROM pairs),
    bidir AS MATERIALIZED (
      SELECT a AS w, b AS n FROM canon UNION ALL SELECT b, a FROM canon
    ),
    deg AS MATERIALIZED (SELECT w AS node, count(*) AS deg FROM bidir GROUP BY w),
    mid AS MATERIALIZED (
      SELECT b.w, b.n FROM bidir b JOIN deg d ON d.node = b.w
      WHERE d.deg <= {_LINKPRED_MID_CAP}
    ),
    cn AS MATERIALIZED (
      SELECT x.n AS a, y.n AS b, count(*) AS common_neighbors
      FROM mid x JOIN mid y ON x.w = y.w AND x.n < y.n
      GROUP BY x.n, y.n
      HAVING count(*) >= {_LINKPRED_MIN_CN}
    ),
    cand AS (
      SELECT cn.a, cn.b, cn.common_neighbors
      FROM cn LEFT JOIN canon e ON e.a = cn.a AND e.b = cn.b
      WHERE e.a IS NULL
    )
    SELECT c.a AS item_a, c.b AS item_b,
           CAST(c.common_neighbors AS BIGINT) AS common_neighbors,
           round(c.common_neighbors * 1.0
                 / (da.deg + db.deg - c.common_neighbors), 6) AS nbr_jaccard
    FROM cand c JOIN deg da ON da.node = c.a JOIN deg db ON db.node = c.b
    ORDER BY nbr_jaccard DESC, item_a, item_b LIMIT {_LINKPRED_TOPK}
    """


@register("q197_link_prediction", oracle=_linkpred_oracle())
def q197_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the co-purchase graph: the top-20
    NON-ADJACENT item pairs by neighborhood Jaccard
    (|N(a)∩N(b)| / |N(a)∪N(b)|) — "items never yet bought together
    whose buyers overlap", the classic common-neighbors recommender
    signal (Liben-Nowell & Kleinberg 2003).

    Skew rule: common neighbors are counted THROUGH middles with
    degree ≤ {_LINKPRED_MID_CAP} only — a bestseller co-purchased
    with everything certifies nothing about any pair (the graph
    version of the hot-shingle cap), and an uncapped middle join is
    Σdeg² in the hubs. Degrees in the denominator stay EXACT. A
    minimum common-neighbor floor keeps coincidence pairs out.

    Scale shape: one middle-keyed self-join bounded by cap² per
    middle, one (a, b) count, an anti-join against the edge set,
    two broadcast-scale degree joins, TakeOrdered top-k."""
    pairs = _copurchase_pairs(_t(spark, sf_dir, "lineitem")).select(
        F.col("pp.p1").alias("p1"), F.col("pp.p2").alias("p2")
    )
    canon = (
        pairs.select(
            F.least("p1", "p2").alias("a"), F.greatest("p1", "p2").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
        .localCheckpoint(eager=True)
    )
    bidir = canon.select(F.col("a").alias("w"), F.col("b").alias("n")).unionAll(
        canon.select(F.col("b").alias("w"), F.col("a").alias("n"))
    )
    deg = bidir.groupBy(F.col("w").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    ).localCheckpoint(eager=True)
    mid = bidir.join(
        deg.where(F.col("deg") <= _LINKPRED_MID_CAP).select("node"),
        bidir.w == F.col("node"),
    ).select("w", "n")
    x, y = mid.alias("x"), mid.alias("y")
    cn = (
        x.join(y, "w")
        .where(F.col("x.n") < F.col("y.n"))
        .groupBy(F.col("x.n").alias("a"), F.col("y.n").alias("b"))
        .agg(F.count(F.lit(1)).alias("common_neighbors"))
        .where(F.col("common_neighbors") >= _LINKPRED_MIN_CN)
    )
    cand = cn.join(canon, ["a", "b"], "left_anti")
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("db"))
    return (
        cand.join(da, "a")
        .join(db, "b")
        .select(
            F.col("a").alias("item_a"),
            F.col("b").alias("item_b"),
            F.col("common_neighbors").cast("bigint").alias("common_neighbors"),
            F.round(
                F.col("common_neighbors")
                * F.lit(1.0)
                / (F.col("da") + F.col("db") - F.col("common_neighbors")),
                6,
            ).alias("nbr_jaccard"),
        )
        .orderBy(F.desc("nbr_jaccard"), "item_a", "item_b")
        .limit(_LINKPRED_TOPK)
    )


# ---------------------------------------------------------------------------
# q198 — supplier revenue concentration (HHI) per nation
# ---------------------------------------------------------------------------

@register(
    "q198_supplier_hhi",
    oracle="""
    WITH sr AS (
      SELECT n.n_name AS nation, l.l_suppkey AS sk,
             sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                      AS BIGINT)) AS cents
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      GROUP BY 1, 2
    ),
    tot AS (SELECT nation, sum(cents) AS t, count(*) AS n_suppliers FROM sr GROUP BY nation)
    SELECT sr.nation,
           CAST(max(t.n_suppliers) AS BIGINT) AS n_suppliers,
           CAST(max(t.t) AS BIGINT) AS nation_cents,
           round(sum(power(sr.cents * 1.0 / t.t, 2)), 6) AS hhi
    FROM sr JOIN tot t USING (nation)
    GROUP BY sr.nation
    """,
)
def q198_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of supplier revenue within
    each nation: HHI = Σ (supplier share)² — the market-concentration
    index (1/n_suppliers = perfectly even, 1.0 = monopoly) that
    complements q168's Gini with the econometric standard. Flags the
    nations where one supplier's failure is a supply-chain event.

    Scale shape: one fact aggregate to (nation, supplier) revenue
    (supplier/nation dims broadcast), nation totals joined back on
    the tiny grouped relation, squared-share sum per nation.
    Integer cents until the share division."""
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    sr = (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("l_suppkey").alias("sk"))
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("bigint")
            ).alias("cents")
        )
    )
    tot = sr.groupBy("nation").agg(
        F.sum("cents").alias("t"), F.count(F.lit(1)).alias("n_suppliers")
    )
    return (
        sr.join(tot, "nation")
        .groupBy("nation")
        .agg(
            F.max("n_suppliers").cast("bigint").alias("n_suppliers"),
            F.max("t").cast("bigint").alias("nation_cents"),
            F.round(
                F.sum(F.pow(F.col("cents") * F.lit(1.0) / F.col("t"), 2)), 6
            ).alias("hhi"),
        )
    )


# ---------------------------------------------------------------------------
# q199 — order-to-ship latency percentiles by priority
# ---------------------------------------------------------------------------

@register(
    "q199_ship_latency",
    oracle="""
    WITH lat AS (
      SELECT o.o_orderpriority AS priority,
             date_diff('day', o.o_orderdate, l.l_shipdate) AS days
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT priority,
           CAST(count(*) AS BIGINT) AS n_items,
           round(avg(days * 1.0), 6) AS mean_days,
           round(quantile_cont(days, 0.5), 6) AS p50,
           round(quantile_cont(days, 0.9), 6) AS p90,
           round(quantile_cont(days, 0.99), 6) AS p99,
           CAST(max(days) AS BIGINT) AS max_days
    FROM lat GROUP BY priority
    """,
)
def q199_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency distribution per order priority: mean,
    exact p50/p90/p99 and max of (l_shipdate − o_orderdate) days —
    the operational SLA query (does URGENT actually ship faster?),
    and a second consumer of the q28-proven percentile ==
    quantile_cont cross-engine equivalence on integer day counts.

    Scale shape: ONE fact-fact join on orderkey (bucketable — q39's
    layout), integer day-diff in the scan projection, one grouped
    aggregate; exact percentiles swap for approx_percentile at
    extreme scale with the same plan."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    lat = l.join(o, l.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias("days"),
    )
    return lat.groupBy("priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.round(F.avg(F.col("days") * F.lit(1.0)), 6).alias("mean_days"),
        F.round(F.expr("percentile(days, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(days, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(days, 0.99)"), 6).alias("p99"),
        F.max("days").cast("bigint").alias("max_days"),
    )


# ---------------------------------------------------------------------------
# q200 — return rates by supplier nation and quarter
# ---------------------------------------------------------------------------

@register(
    "q200_return_rates",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(year(l.l_shipdate) AS INTEGER) AS ship_year,
           CAST(quarter(l.l_shipdate) AS INTEGER) AS ship_quarter,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_returned,
           round(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 6) AS return_rate,
           CAST(sum(CASE WHEN l.l_returnflag = 'R'
                         THEN CAST(round(l.l_extendedprice
                                         * (1 - l.l_discount) * 100)
                                   AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS returned_cents
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    GROUP BY 1, 2, 3
    """,
)
def q200_return_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item rate and revenue impact by supplier nation and
    ship quarter — the supplier-quality trend view (which origin's
    return rate is drifting up, and what it costs) that pairs with
    q199's latency SLA for the operations dashboard.

    Scale shape: dims broadcast, one fact aggregate with CASE
    counters (map-side combinable), |nations|·quarters output rows;
    integer cents for the revenue impact."""
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    ret = (F.col("l_returnflag") == "R").cast("long")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("bigint")
    return (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("int").alias("ship_year"),
            F.quarter("l_shipdate").cast("int").alias("ship_quarter"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.sum(ret).cast("bigint").alias("n_returned"),
            F.round(F.sum(ret) * F.lit(1.0) / F.count(F.lit(1)), 6).alias(
                "return_rate"
            ),
            F.sum(F.when(F.col("l_returnflag") == "R", cents).otherwise(0))
            .cast("bigint")
            .alias("returned_cents"),
        )
    )


# ---------------------------------------------------------------------------
# q202 — discount-band effectiveness
# ---------------------------------------------------------------------------

@register(
    "q202_discount_bands",
    oracle="""
    SELECT CAST(round(l_discount * 100) AS INTEGER) AS discount_pct,
           CAST(count(*) AS BIGINT) AS n_items,
           round(avg(l_quantity * 1.0), 6) AS avg_quantity,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_cents,
           CAST(sum(CAST(round(l_extendedprice * l_discount * 100)
                         AS BIGINT)) AS BIGINT) AS discount_cost_cents
    FROM lineitem GROUP BY 1
    """,
)
def q202_discount_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount-band effectiveness: per integer discount percentage,
    volume (average quantity), realized revenue and the cents given
    away — the "does discounting actually move units" table a
    pricing team reads before the next promotion (TPC-H Q6's
    question, answered per band instead of one slice).

    Scale shape: single fact scan, integer band key in the scan
    projection, one map-side-combinable aggregate, ≤ 11 output
    rows."""
    l = _t(spark, sf_dir, "lineitem")
    return l.groupBy(
        F.round(F.col("l_discount") * 100).cast("int").alias("discount_pct")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.round(F.avg(F.col("l_quantity") * F.lit(1.0)), 6).alias(
            "avg_quantity"
        ),
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("revenue_cents"),
        F.sum(
            F.round(F.col("l_extendedprice") * F.col("l_discount") * 100).cast(
                "bigint"
            )
        )
        .cast("bigint")
        .alias("discount_cost_cents"),
    )


# ---------------------------------------------------------------------------
# q203 — seasonally-adjusted revenue anomaly days
# ---------------------------------------------------------------------------

@register(
    "q203_seasonal_anomalies",
    oracle="""
    WITH daily AS (
      SELECT o_orderdate AS d,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY o_orderdate
    ),
    dow AS (
      SELECT isodow(d) AS dw, avg(cents * 1.0) AS dow_mean FROM daily
      GROUP BY isodow(d)
    ),
    adj AS (
      SELECT daily.d, daily.cents,
             daily.cents / dow.dow_mean AS ratio
      FROM daily JOIN dow ON dow.dw = isodow(daily.d)
    ),
    stats AS (
      SELECT avg(ratio) AS mu,
             sqrt((sum(ratio * ratio) - sum(ratio) * sum(ratio) / count(*))
                  / (count(*) - 1)) AS sd
      FROM adj
    )
    SELECT strftime(a.d, '%Y-%m-%d') AS day,
           CAST(a.cents AS BIGINT) AS cents,
           round(a.ratio, 6) AS dow_adjusted_ratio,
           round((a.ratio - s.mu) / s.sd, 6) AS z_score,
           a.ratio > s.mu + 2 * s.sd AS is_high,
           a.ratio < s.mu - 2 * s.sd AS is_low
    FROM adj a CROSS JOIN stats s
    WHERE a.ratio > s.mu + 2 * s.sd OR a.ratio < s.mu - 2 * s.sd
    """,
)
def q203_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-adjusted anomaly days: each day's revenue is
    normalized by its weekday mean (q185's multiplicative factor),
    and days whose adjusted ratio falls outside ±2σ are flagged —
    the practical anomaly rule (a strong Saturday is not an anomaly;
    a Saturday performing like a Monday is) that raw-value
    thresholds and q149's CUSUM both complement.

    Scale shape: O(days) rows after one fact aggregate; weekday
    means and the global μ/σ are tiny broadcast relations; flags are
    scan-side predicates over the adjusted series."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "cents"
        )
    ).localCheckpoint(eager=True)
    dw = (F.expr("weekday(d)") + F.lit(1)).alias("dw")
    dow = daily.groupBy(dw).agg(
        F.avg(F.col("cents") * F.lit(1.0)).alias("dow_mean")
    )
    adj = daily.withColumn("dw", F.expr("weekday(d)") + F.lit(1)).join(
        F.broadcast(dow), "dw"
    ).select(
        "d", "cents", (F.col("cents") / F.col("dow_mean")).alias("ratio")
    )
    n = F.count(F.lit(1))
    sr, srr = F.sum("ratio"), F.sum(F.col("ratio") * F.col("ratio"))
    stats = adj.agg(
        F.avg("ratio").alias("mu"),
        F.sqrt((srr - sr * sr / n) / (n - F.lit(1))).alias("sd"),
    )
    j = adj.crossJoin(F.broadcast(stats))
    hi = F.col("ratio") > F.col("mu") + 2 * F.col("sd")
    lo = F.col("ratio") < F.col("mu") - 2 * F.col("sd")
    return j.where(hi | lo).select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("cents").cast("bigint").alias("cents"),
        F.round("ratio", 6).alias("dow_adjusted_ratio"),
        F.round((F.col("ratio") - F.col("mu")) / F.col("sd"), 6).alias(
            "z_score"
        ),
        hi.alias("is_high"),
        lo.alias("is_low"),
    )


# ---------------------------------------------------------------------------
# q204 — weekly growth accounting
# ---------------------------------------------------------------------------

@register(
    "q204_growth_accounting",
    oracle="""
    WITH uw AS (
      SELECT DISTINCT user_id,
             CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7
                  AS INTEGER) AS wk
      FROM events
    ),
    seq AS (
      SELECT user_id, wk,
             lag(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk,
             lead(wk) OVER (PARTITION BY user_id ORDER BY wk) AS next_wk,
             min(wk) OVER (PARTITION BY user_id) AS first_wk
      FROM uw
    ),
    act AS (
      SELECT wk,
             sum(CASE WHEN wk = first_wk THEN 1 ELSE 0 END) AS n_new,
             sum(CASE WHEN prev_wk = wk - 1 THEN 1 ELSE 0 END) AS n_retained,
             sum(CASE WHEN wk <> first_wk
                       AND (prev_wk IS NULL OR prev_wk < wk - 1)
                      THEN 1 ELSE 0 END) AS n_resurrected,
             count(*) AS n_active
      FROM seq GROUP BY wk
    ),
    churn AS (
      SELECT wk + 1 AS wk, count(*) AS n_churned
      FROM seq
      WHERE (next_wk IS NULL OR next_wk > wk + 1)
        AND wk + 1 <= (SELECT max(wk) FROM uw)
      GROUP BY wk + 1
    )
    SELECT a.wk AS week,
           CAST(a.n_active AS BIGINT) AS n_active,
           CAST(a.n_new AS BIGINT) AS n_new,
           CAST(a.n_retained AS BIGINT) AS n_retained,
           CAST(a.n_resurrected AS BIGINT) AS n_resurrected,
           CAST(coalesce(c.n_churned, 0) AS BIGINT) AS n_churned
    FROM act a LEFT JOIN churn c ON c.wk = a.wk
    """,
)
def q204_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting — the canonical product-growth
    decomposition: every active user is exactly one of NEW (first
    week), RETAINED (also active last week) or RESURRECTED (active
    before, but not last week); CHURNED(w) counts users active in
    w−1 who went silent in w. The identity
    active(w) = new + retained + resurrected and
    retained(w) = active(w−1) − churned(w) is what distinguishes
    "growing because acquiring" from "growing because win-backs" —
    q129's retention matrix cannot answer that.

    Scale shape: distinct (user, week) once — O(user-weeks) rows —
    then user-keyed lag/lead windows and two week-keyed combinable
    aggregates. The churn side is the SAME windowed relation read
    for its gaps; no second pass over raw events."""
    ev = _t(spark, sf_dir, "events")
    uw = ev.select(
        "user_id",
        (
            F.floor(
                F.datediff(F.to_date("ts"), F.lit("2024-01-01")) / 7
            )
        ).cast("int").alias("wk"),
    ).distinct()
    w = W.partitionBy("user_id").orderBy("wk")
    seq = uw.select(
        "user_id",
        "wk",
        F.lag("wk").over(w).alias("prev_wk"),
        F.lead("wk").over(w).alias("next_wk"),
        F.min("wk").over(W.partitionBy("user_id")).alias("first_wk"),
    ).localCheckpoint(eager=True)  # two consumers: act + churn
    # NULL-safe counters: a week whose rows ALL have prev_wk NULL
    # (week 0) must count 0 retained, not NULL — boolean-cast sums
    # skip NULL comparisons, so spell the CASE out
    act = seq.groupBy("wk").agg(
        F.sum(
            F.when(F.col("wk") == F.col("first_wk"), 1).otherwise(0)
        ).alias("n_new"),
        F.sum(
            F.when(F.col("prev_wk") == F.col("wk") - 1, 1).otherwise(0)
        ).alias("n_retained"),
        F.sum(
            F.when(
                (F.col("wk") != F.col("first_wk"))
                & (
                    F.col("prev_wk").isNull()
                    | (F.col("prev_wk") < F.col("wk") - 1)
                ),
                1,
            ).otherwise(0)
        ).alias("n_resurrected"),
        F.count(F.lit(1)).alias("n_active"),
    )
    max_wk = uw.agg(F.max("wk").alias("mx"))
    churn = (
        seq.where(
            F.col("next_wk").isNull() | (F.col("next_wk") > F.col("wk") + 1)
        )
        .crossJoin(F.broadcast(max_wk))
        .where(F.col("wk") + 1 <= F.col("mx"))
        .groupBy((F.col("wk") + 1).alias("wk"))
        .agg(F.count(F.lit(1)).alias("n_churned"))
    )
    return (
        act.join(churn, "wk", "left")
        .select(
            F.col("wk").alias("week"),
            F.col("n_active").cast("bigint").alias("n_active"),
            F.col("n_new").cast("bigint").alias("n_new"),
            F.col("n_retained").cast("bigint").alias("n_retained"),
            F.col("n_resurrected").cast("bigint").alias("n_resurrected"),
            F.coalesce("n_churned", F.lit(0)).cast("bigint").alias("n_churned"),
        )
    )


# ---------------------------------------------------------------------------
# q205 — stickiness: DAU / WAU / MAU per day
# ---------------------------------------------------------------------------

@register(
    "q205_stickiness",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    days AS (SELECT DISTINCT day FROM ud),
    dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM ud GROUP BY day),
    wau AS (
      SELECT d.day, count(DISTINCT u.user_id) AS wau
      FROM days d JOIN ud u
        ON u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
      GROUP BY d.day
    ),
    mau AS (
      SELECT d.day, count(DISTINCT u.user_id) AS mau
      FROM days d JOIN ud u
        ON u.day BETWEEN d.day - INTERVAL 29 DAY AND d.day
      GROUP BY d.day
    )
    SELECT strftime(d.day, '%Y-%m-%d') AS day,
           CAST(dau.dau AS BIGINT) AS dau,
           CAST(wau.wau AS BIGINT) AS wau,
           CAST(mau.mau AS BIGINT) AS mau,
           round(dau.dau * 1.0 / mau.mau, 6) AS dau_mau,
           round(wau.wau * 1.0 / mau.mau, 6) AS wau_mau
    FROM days d
    JOIN dau USING (day) JOIN wau ON wau.day = d.day
    JOIN mau ON mau.day = d.day
    """,
)
def q205_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stickiness: DAU, trailing-7-day WAU and trailing-30-day MAU
    per observed day, with the DAU/MAU and WAU/MAU ratios — the
    engagement-intensity metric that tells a flat-WAU product
    whether its users come daily or weekly. Same
    distinct-over-sliding-window strategy as q173: each distinct
    (user, day) EXPLODES into the ≤7 / ≤30 window days it serves, so
    the rollup is a plain distinct count — fan-out is the window
    length, never data-dependent.

    Scale shape: one distinct (user, day) pass, two bounded
    explodes, three combinable distinct aggregates, observed-days
    join. O(user-days · 37) intermediate rows."""
    ev = _t(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    ud = ud.localCheckpoint(eager=True)  # four consumers
    days = ud.select("day").distinct()

    def rolled(n: int, name: str) -> DataFrame:
        contrib = ud.select(
            "user_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(n - 1)),
                    lambda i: F.date_add("day", i.cast("int")),
                )
            ).alias("wday"),
        )
        return (
            contrib.join(days.select(F.col("day").alias("wday")), "wday")
            .groupBy("wday")
            .agg(F.count_distinct("user_id").cast("bigint").alias(name))
        )

    dau = ud.groupBy("day").agg(
        F.count_distinct("user_id").cast("bigint").alias("dau")
    )
    wau = rolled(7, "wau").withColumnRenamed("wday", "day")
    mau = rolled(30, "mau").withColumnRenamed("wday", "day")
    return (
        dau.join(wau, "day")
        .join(mau, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            "mau",
            F.round(F.col("dau") * F.lit(1.0) / F.col("mau"), 6).alias(
                "dau_mau"
            ),
            F.round(F.col("wau") * F.lit(1.0) / F.col("mau"), 6).alias(
                "wau_mau"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q206 — ABC revenue classification of parts
# ---------------------------------------------------------------------------

@register(
    "q206_abc_classification",
    oracle="""
    WITH pr AS (
      SELECT l_partkey AS pk,
             sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                      AS BIGINT)) AS cents
      FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
      SELECT pk, cents,
             sum(cents) OVER (ORDER BY cents DESC, pk
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             sum(cents) OVER () AS tot
      FROM pr
    ),
    classed AS (
      SELECT pk, cents,
             CASE WHEN (cum - cents) * 1.0 / tot < 0.8 THEN 'A'
                  WHEN (cum - cents) * 1.0 / tot < 0.95 THEN 'B'
                  ELSE 'C' END AS abc
      FROM ranked
    )
    SELECT abc AS abc_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(cents) AS BIGINT) AS revenue_cents,
           round(sum(cents) * 1.0 / max(tot.t), 6) AS revenue_share
    FROM classed CROSS JOIN (SELECT sum(cents) AS t FROM pr) tot
    GROUP BY abc
    """,
)
def q206_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) classification of parts by revenue: parts are
    ranked by revenue and classed A while the revenue BEFORE them is
    under 80% of the total, B under 95%, C otherwise — the inventory
    prioritization standard ("A-parts get daily attention"). The
    strictly-before cumulative makes the rule threshold-stable: a
    part is A if it starts inside the top-80% band, identical in
    both engines with the (cents DESC, pk) total order.

    Scale shape: one fact aggregate to O(parts) rows; the ranking
    cumsum is the one ordered pass (range-partitioned prefix sum at
    extreme part counts — q183's note); 3-row output."""
    l = _t(spark, sf_dir, "lineitem")
    pr = l.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("bigint")
        ).alias("cents")
    ).localCheckpoint(eager=True)  # ranked + total consumers
    w = W.orderBy(F.desc("cents"), "pk").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    tot = pr.agg(F.sum("cents").alias("t"))
    ranked = pr.select(
        "pk",
        "cents",
        F.sum("cents").over(w).alias("cum"),
    ).crossJoin(F.broadcast(tot))
    before = (F.col("cum") - F.col("cents")) * F.lit(1.0) / F.col("t")
    classed = ranked.select(
        "cents",
        "t",
        F.when(before < 0.8, "A").when(before < 0.95, "B").otherwise("C").alias(
            "abc"
        ),
    )
    return classed.groupBy(F.col("abc").alias("abc_class")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum("cents").cast("bigint").alias("revenue_cents"),
        F.round(F.sum("cents") * F.lit(1.0) / F.max("t"), 6).alias(
            "revenue_share"
        ),
    )


# ---------------------------------------------------------------------------
# q207 — windowed-step funnel
# ---------------------------------------------------------------------------

@register(
    "q207_windowed_funnel",
    oracle="""
    WITH s AS (
      SELECT user_id, min(ts) AS t_signup
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    v AS (
      SELECT e.user_id, min(e.ts) AS t_view
      FROM events e JOIN s USING (user_id)
      WHERE e.event_type IN ('view', 'click')
        AND e.ts > s.t_signup
        AND e.ts <= s.t_signup + INTERVAL 7 DAY
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'purchase'
        AND e.ts > v.t_view
        AND e.ts <= v.t_view + INTERVAL 7 DAY
      GROUP BY e.user_id
    )
    SELECT count(s.t_signup) AS n_signup,
           count(v.t_view) AS n_engaged_7d,
           count(p.t_purchase) AS n_converted_7d,
           round(count(v.t_view) * 1.0 / nullif(count(s.t_signup), 0), 6)
             AS engage_rate_7d,
           round(count(p.t_purchase) * 1.0 / nullif(count(v.t_view), 0), 6)
             AS convert_rate_7d
    FROM s LEFT JOIN v USING (user_id) LEFT JOIN p USING (user_id)
    """,
)
def q207_windowed_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q128's ordered funnel with PER-STEP TIME WINDOWS: engagement
    counts only within 7 days of signup, conversion only within
    7 days of first engagement — the form funnels are actually
    reported in (an engagement nine months later is not the signup
    flow working). Reads directly against q128: the gap between the
    unconstrained and windowed rates is the funnel's latency problem.

    Scale shape: identical to q128 — three user-keyed min-aggregates
    chained by semi-join-shaped inner joins, windows as scan-side
    predicates; no new shuffle."""
    ev = _t(spark, sf_dir, "events")
    s = ev.where(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("ts").alias("t_signup")
    )
    v = (
        ev.join(s, "user_id")
        .where(
            F.col("event_type").isin("view", "click")
            & (F.col("ts") > F.col("t_signup"))
            & (F.col("ts") <= F.col("t_signup") + F.expr("INTERVAL 7 DAYS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    p = (
        ev.join(v, "user_id")
        .where(
            (F.col("event_type") == "purchase")
            & (F.col("ts") > F.col("t_view"))
            & (F.col("ts") <= F.col("t_view") + F.expr("INTERVAL 7 DAYS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    n_s, n_v, n_p = (
        F.count("t_signup"),
        F.count("t_view"),
        F.count("t_purchase"),
    )
    return (
        s.join(v, "user_id", "left")
        .join(p, "user_id", "left")
        .agg(
            n_s.alias("n_signup"),
            n_v.alias("n_engaged_7d"),
            n_p.alias("n_converted_7d"),
            F.round(n_v * 1.0 / F.nullif(n_s, F.lit(0)), 6).alias(
                "engage_rate_7d"
            ),
            F.round(n_p * 1.0 / F.nullif(n_v, F.lit(0)), 6).alias(
                "convert_rate_7d"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q208 — inter-purchase gap distribution
# ---------------------------------------------------------------------------

@register(
    "q208_purchase_gaps",
    oracle="""
    WITH p AS (
      SELECT user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_ts
      FROM events WHERE event_type = 'purchase'
    ),
    gaps AS (
      SELECT user_id,
             date_diff('second', prev_ts, ts) / 86400.0 AS gap_days
      FROM p WHERE prev_ts IS NOT NULL
    ),
    buyers AS (
      SELECT count(DISTINCT user_id) AS n_buyers
      FROM events WHERE event_type = 'purchase'
    ),
    repeaters AS (SELECT count(DISTINCT user_id) AS n_repeat FROM gaps)
    SELECT CAST(b.n_buyers AS BIGINT) AS n_buyers,
           CAST(r.n_repeat AS BIGINT) AS n_repeat_buyers,
           round(r.n_repeat * 1.0 / b.n_buyers, 6) AS repeat_rate,
           CAST((SELECT count(*) FROM gaps) AS BIGINT) AS n_gaps,
           round((SELECT quantile_cont(gap_days, 0.5) FROM gaps), 6)
             AS median_gap_days,
           round((SELECT quantile_cont(gap_days, 0.9) FROM gaps), 6)
             AS p90_gap_days,
           round((SELECT avg(gap_days) FROM gaps), 6) AS mean_gap_days
    FROM buyers b CROSS JOIN repeaters r
    """,
)
def q208_purchase_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase gap distribution: repeat-buyer rate and the
    median/p90/mean days between a user's consecutive purchases —
    the replenishment-cycle numbers behind win-back timing ("email
    at the median gap, alarm at p90") and a natural companion to
    q147's survival curve.

    Gaps are exact second differences over the user-ordered purchase
    sequence (event_id tie-break), expressed in fractional days —
    integer seconds divided by a constant, so cross-engine
    deterministic. Percentiles ride the q28-proven equivalence.

    Scale shape: purchase rows only (scan-side filter), one
    user-keyed lag window, O(gaps) rows into 1-row aggregates."""
    ev = _t(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        p.select(
            "user_id",
            "ts",
            F.lag("ts").over(w).alias("prev_ts"),
        )
        .where(F.col("prev_ts").isNotNull())
        .select(
            "user_id",
            (
                (
                    F.unix_timestamp("ts") - F.unix_timestamp("prev_ts")
                ) / F.lit(86400.0)
            ).alias("gap_days"),
        )
        .localCheckpoint(eager=True)  # four consumers below
    )
    buyers = p.agg(F.count_distinct("user_id").alias("n_buyers"))
    stats = gaps.agg(
        F.count_distinct("user_id").alias("n_repeat"),
        F.count(F.lit(1)).alias("n_gaps"),
        F.expr("percentile(gap_days, 0.5)").alias("med"),
        F.expr("percentile(gap_days, 0.9)").alias("p90"),
        F.avg("gap_days").alias("mean"),
    )
    return (
        F.broadcast(buyers)
        .crossJoin(F.broadcast(stats))
        .select(
            F.col("n_buyers").cast("bigint").alias("n_buyers"),
            F.col("n_repeat").cast("bigint").alias("n_repeat_buyers"),
            F.round(
                F.col("n_repeat") * F.lit(1.0) / F.col("n_buyers"), 6
            ).alias("repeat_rate"),
            F.col("n_gaps").cast("bigint").alias("n_gaps"),
            F.round("med", 6).alias("median_gap_days"),
            F.round("p90", 6).alias("p90_gap_days"),
            F.round("mean", 6).alias("mean_gap_days"),
        )
    )


# ---------------------------------------------------------------------------
# q209 — star-schema health report (validation capstone)
# ---------------------------------------------------------------------------

@register(
    "q209_table_health",
    oracle="""
    SELECT 'orders' AS tbl, 'row_count' AS checked, count(*) AS value FROM orders
    UNION ALL
    SELECT 'orders', 'pk_dups',
           count(*) - count(DISTINCT o_orderkey) FROM orders
    UNION ALL
    SELECT 'orders', 'fk_orphans_customer', count(*)
    FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE c.c_custkey IS NULL
    UNION ALL
    SELECT 'lineitem', 'row_count', count(*) FROM lineitem
    UNION ALL
    SELECT 'lineitem', 'pk_dups',
           count(*) - count(DISTINCT (l_orderkey, l_linenumber)) FROM lineitem
    UNION ALL
    SELECT 'lineitem', 'fk_orphans_orders', count(*)
    FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IS NULL
    UNION ALL
    SELECT 'lineitem', 'negative_prices', count(*)
    FROM lineitem WHERE l_extendedprice < 0
    UNION ALL
    SELECT 'customer', 'row_count', count(*) FROM customer
    UNION ALL
    SELECT 'customer', 'fk_orphans_nation', count(*)
    FROM customer c LEFT JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE n.n_nationkey IS NULL
    UNION ALL
    SELECT 'events', 'row_count', count(*) FROM events
    UNION ALL
    SELECT 'events', 'null_user_ids', count(*)
    FROM events WHERE user_id IS NULL
    UNION ALL
    SELECT 'documents', 'row_count', count(*) FROM documents
    UNION ALL
    SELECT 'documents', 'empty_texts', count(*)
    FROM documents WHERE length(trim(text)) = 0
    """,
)
def q209_table_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema health report in ONE long-format table: row
    counts, primary-key duplicate counts, foreign-key orphan counts
    and domain violations across the five core tables — q29/q30's
    checks composed into the single artifact a data-quality
    dashboard ingests (the validation capstone, sibling of q92/q156/
    the graph kernels' per-suite capstones).

    Scale shape: each check is a scan-side filter + combinable
    count or a key-anti-join (the q30 shape); checks UNION into one
    13-row result. At 100 TB each check stays one pass over its own
    table — the union does not multiply scans of any single table
    because each branch prunes to its own columns."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    ev = _t(spark, sf_dir, "events")
    d = _t(spark, sf_dir, "documents")

    def row(tbl: str, checked: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(tbl).alias("tbl"),
            F.lit(checked).alias("checked"),
            F.col("v").cast("bigint").alias("value"),
        )

    parts = [
        row("orders", "row_count", o.agg(F.count(F.lit(1)).alias("v"))),
        row(
            "orders",
            "pk_dups",
            o.agg(
                (F.count(F.lit(1)) - F.count_distinct("o_orderkey")).alias(
                    "v"
                )
            ),
        ),
        row(
            "orders",
            "fk_orphans_customer",
            o.join(c, o.o_custkey == c.c_custkey, "left_anti").agg(
                F.count(F.lit(1)).alias("v")
            ),
        ),
        row("lineitem", "row_count", l.agg(F.count(F.lit(1)).alias("v"))),
        row(
            "lineitem",
            "pk_dups",
            l.agg(
                (
                    F.count(F.lit(1))
                    - F.count_distinct("l_orderkey", "l_linenumber")
                ).alias("v")
            ),
        ),
        row(
            "lineitem",
            "fk_orphans_orders",
            l.join(o, l.l_orderkey == o.o_orderkey, "left_anti").agg(
                F.count(F.lit(1)).alias("v")
            ),
        ),
        row(
            "lineitem",
            "negative_prices",
            l.where(F.col("l_extendedprice") < 0).agg(
                F.count(F.lit(1)).alias("v")
            ),
        ),
        row("customer", "row_count", c.agg(F.count(F.lit(1)).alias("v"))),
        row(
            "customer",
            "fk_orphans_nation",
            c.join(n, c.c_nationkey == n.n_nationkey, "left_anti").agg(
                F.count(F.lit(1)).alias("v")
            ),
        ),
        row("events", "row_count", ev.agg(F.count(F.lit(1)).alias("v"))),
        row(
            "events",
            "null_user_ids",
            ev.where(F.col("user_id").isNull()).agg(
                F.count(F.lit(1)).alias("v")
            ),
        ),
        row("documents", "row_count", d.agg(F.count(F.lit(1)).alias("v"))),
        row(
            "documents",
            "empty_texts",
            d.where(F.length(F.trim("text")) == 0).agg(
                F.count(F.lit(1)).alias("v")
            ),
        ),
    ]
    out = parts[0]
    for x in parts[1:]:
        out = out.unionAll(x)
    return out


# ---------------------------------------------------------------------------
# q213 — customer order-count distribution (TPC-H Q13 shape)
# ---------------------------------------------------------------------------

@register(
    "q213_order_count_distribution",
    oracle="""
    WITH pc AS (
      SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey
    )
    SELECT CAST(n_orders AS BIGINT) AS n_orders,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM pc GROUP BY n_orders
    """,
)
def q213_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-count distribution — the TPC-H Q13 shape: LEFT
    join customer to orders so zero-order customers survive with
    count 0, count orders per customer, then histogram customers by
    that count. The double-aggregation (per-entity count -> count of
    counts) is the canonical engagement-distribution query ("how many
    one-order customers do we have?") and the same shape as q201's
    dup-cluster census, here on the star schema's core relationship.

    Scale shape: count(o_orderkey) over the LEFT join is
    map-side-combinable after the join; the join itself shuffles on
    custkey (or broadcasts at this dim size); the second aggregate
    runs on O(distinct counts) rows. Nothing materializes beyond the
    per-customer count relation."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    pc = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return pc.groupBy("n_orders").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers")
    ).select(F.col("n_orders").cast("bigint").alias("n_orders"), "n_customers")


# ---------------------------------------------------------------------------
# q214 — large-volume customers (TPC-H Q18 shape)
# ---------------------------------------------------------------------------

@register(
    "q214_large_volume_customers",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, sum(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > 250
    )
    SELECT c.c_name,
           CAST(o.o_custkey AS BIGINT) AS c_custkey,
           CAST(o.o_orderkey AS BIGINT) AS o_orderkey,
           o.o_orderdate,
           o.o_totalprice,
           round(b.total_qty, 2) AS total_qty
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def q214_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume customers — the TPC-H Q18 shape: aggregate
    lineitem quantity per order, keep orders over the 250-unit
    threshold (between the p90 and p99 of the per-order distribution
    on the driver testdata, so the filter is selective but never
    empty), then join the surviving handful back to orders and
    customer for the report. The agg -> HAVING -> join-back pattern
    is the standard "find the whales, then enrich them" query.

    Scale shape: the per-order aggregate is map-side-combinable and
    is the only corpus-scale shuffle; the HAVING filter collapses it
    to a tiny relation BEFORE any join, so both enrichment joins run
    on the whale set (broadcast-able), never on raw lineitem.
    Quantities are whole units stored as DOUBLE — sums of small
    integers, exact on both engines."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 250)
    )
    return (
        F.broadcast(big)
        .join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            F.col("o_custkey").cast("bigint").alias("c_custkey"),
            F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
            "o_orderdate",
            "o_totalprice",
            F.round("total_qty", 2).alias("total_qty"),
        )
    )


# ---------------------------------------------------------------------------
# q215 — BFS k-hop reachability census from the hub part
# ---------------------------------------------------------------------------

_BFS_HOPS = 3


def _bfs_oracle() -> str:
    head = f"""
    WITH {_COPURCHASE_PAIRS_SQL},
    edges AS MATERIALIZED (
      SELECT DISTINCT p1 AS src, p2 AS dst FROM pairs
      UNION SELECT DISTINCT p2, p1 FROM pairs
    ),
    deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
    d0 AS MATERIALIZED (
      SELECT src AS node, 0 AS hop FROM deg
      ORDER BY deg DESC, src LIMIT 1
    )"""
    steps = []
    for h in range(1, _BFS_HOPS + 1):
        steps.append(f""",
    d{h} AS MATERIALIZED (
      SELECT node, min(hop) AS hop FROM (
        SELECT node, hop FROM d{h - 1}
        UNION ALL
        SELECT e.dst, d.hop + 1
        FROM d{h - 1} d JOIN edges e ON e.src = d.node
        WHERE d.hop = {h - 1}
      ) GROUP BY node
    )"""
        )
    tail = f"""
    SELECT CAST(hop AS INTEGER) AS hop,
           CAST(count(*) AS BIGINT) AS n_nodes
    FROM d{_BFS_HOPS} GROUP BY hop
    UNION ALL
    SELECT -1,
           (SELECT count(DISTINCT src) FROM edges)
             - (SELECT count(*) FROM d{_BFS_HOPS})
    """
    return head + "".join(steps) + tail


@register("q215_bfs_reach", oracle=_bfs_oracle())
def q215_bfs_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS reachability census: hop-distance histogram within 3 hops
    of the co-purchase graph's hub part (max degree, ties to the low
    id), plus an explicit unreached row (hop = -1) — "how much of the
    catalog is within k recommendation steps of the bestseller", the
    small-world / blast-radius readout, and the traversal kernel
    beside PageRank (q133), communities (q179), triangles (q176),
    k-core (q190) and link prediction (q197).

    Oracle-paired end-to-end: seed selection, three synchronous
    frontier expansions with min-hop merge, and the census are
    replayed as a MATERIALIZED CTE chain (iterative DuckDB CTEs
    inline exponentially otherwise).

    Scale shape: edge build is q133's single-exchange capped
    pipeline; per hop ONE frontier-against-edges join (frontier only,
    never the visited set) + a min-hop aggregate over O(V) rows,
    localCheckpointed per round. The census is a hop-keyed count; the
    unreached row comes from two 1-row aggregates."""
    from citybikedatawarehouse_spark.operators.graph import bfs_hops

    pairs = _copurchase_pairs(_t(spark, sf_dir, "lineitem"))
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("pp.p1").alias("src"), F.col("pp.p2").alias("dst")
                ),
                F.struct(
                    F.col("pp.p2").alias("src"), F.col("pp.p1").alias("dst")
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst").dropDuplicates(["src", "dst"])
    # the edge relation feeds seed-degree + 3 frontier joins — keep it
    # materialized once (serialized, spillable), not rebuilt per round
    from pyspark import StorageLevel

    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    dist = bfs_hops(edges, max_hops=_BFS_HOPS)
    census = dist.groupBy("hop").agg(
        F.count(F.lit(1)).alias("n_nodes")
    )
    n_nodes = edges.select("src").distinct().agg(
        F.count(F.lit(1)).alias("n")
    )
    n_reached = dist.agg(F.count(F.lit(1)).alias("r"))
    unreached = (
        F.broadcast(n_nodes)
        .crossJoin(F.broadcast(n_reached))
        .select(
            F.lit(-1).alias("hop"), (F.col("n") - F.col("r")).alias("n_nodes")
        )
    )
    return census.unionAll(unreached).select(
        F.col("hop").cast("int").alias("hop"),
        F.col("n_nodes").cast("bigint").alias("n_nodes"),
    )


# ---------------------------------------------------------------------------
# q216 — item-item collaborative filtering (top-5 similar parts)
# ---------------------------------------------------------------------------

_CF_USER_CAP = 50
_CF_MIN_CO = 2
_CF_TOPK = 5


@register(
    "q216_item_similarity",
    oracle=f"""
    WITH ui AS (
      SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS it
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    capped AS (
      SELECT u, it FROM (
        SELECT u, it, row_number() OVER (PARTITION BY u ORDER BY it) AS rn
        FROM ui
      ) WHERE rn <= {_CF_USER_CAP}
    ),
    deg AS (SELECT it, count(*) AS d FROM capped GROUP BY it),
    co AS (
      SELECT a.it AS p1, b.it AS p2, count(*) AS n
      FROM capped a JOIN capped b ON a.u = b.u AND a.it < b.it
      GROUP BY 1, 2 HAVING count(*) >= {_CF_MIN_CO}
    ),
    mirrored AS (
      SELECT p1 AS it, p2 AS nb, n FROM co
      UNION ALL SELECT p2, p1, n FROM co
    ),
    scored AS (
      SELECT b.it, b.nb, b.n,
             round(b.n / sqrt(d1.d * d2.d), 6) AS cos
      FROM mirrored b
      JOIN deg d1 ON d1.it = b.it
      JOIN deg d2 ON d2.it = b.nb
    )
    SELECT CAST(it AS BIGINT) AS item_id,
           CAST(nb AS BIGINT) AS neighbor_id,
           CAST(n AS BIGINT) AS n_co_users,
           cos AS cosine,
           CAST(rnk AS INTEGER) AS rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY it
                                   ORDER BY cos DESC, nb) AS rnk
      FROM scored
    ) WHERE rnk <= {_CF_TOPK}
    """,
)
def q216_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: top-5 most similar parts
    per part by CUSTOMER-basket cosine — n_co_users /
    sqrt(deg_i * deg_j) over the distinct customer-part incidence —
    the "customers who bought X also bought Y" recommender. Distinct
    from q133 (order-level co-purchase centrality) and q153 (rule
    confidence/lift): the unit of evidence is the customer's whole
    history, and the score is degree-normalized so bestseller parts
    don't dominate every neighbor list.

    Per-customer incidence is capped at {cap} parts (deterministic:
    lowest part ids) — the q133/q61 skew rule: one crawler-like
    account otherwise contributes |items|^2 pairs in one task. Pairs
    below {minco} shared customers are dropped (noise floor). Cosine
    is rounded at 1e-6 BEFORE ranking, ties to the low neighbor id —
    the round-before-rank convention, so both engines rank
    identically.

    Scale shape: ONE groupBy builds each customer's capped sorted
    item array (the _copurchase_pairs shape), the pair fan-out is a
    per-row HOF bounded by cap^2/2, and the co-count aggregate is
    map-side combinable; degrees ride a second small aggregate and
    join the O(item-pairs) relation, never the corpus. Top-5 is a
    per-item window over O(pairs) rows."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"), F.col("o_custkey").alias("u")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("it")
    )
    ui = li.join(o, "ok").select("u", "it")
    per_user = ui.groupBy("u").agg(
        F.slice(
            F.array_sort(F.collect_set("it")), 1, _CF_USER_CAP
        ).alias("its")
    )
    pair_structs = F.flatten(
        F.transform(
            "its",
            lambda x, i: F.transform(
                F.slice(
                    "its",
                    i + F.lit(2),
                    F.greatest(F.size("its") - i - 1, F.lit(0)),
                ),
                lambda y: F.struct(x.alias("p1"), y.alias("p2")),
            ),
        )
    )
    co = (
        per_user.select(F.explode(pair_structs).alias("pp"))
        .groupBy(F.col("pp.p1").alias("p1"), F.col("pp.p2").alias("p2"))
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= _CF_MIN_CO)
    )
    deg = (
        per_user.select(F.explode("its").alias("it"))
        .groupBy("it")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    both = co.select(
        F.col("p1").alias("it"), F.col("p2").alias("nb"), "n"
    ).unionAll(
        co.select(F.col("p2").alias("it"), F.col("p1").alias("nb"), "n")
    )
    d1 = deg.select(F.col("it"), F.col("d").alias("d1"))
    d2 = deg.select(F.col("it").alias("nb"), F.col("d").alias("d2"))
    scored = (
        both.join(F.broadcast(d1), "it")
        .join(F.broadcast(d2), "nb")
        .select(
            "it",
            "nb",
            "n",
            F.round(
                F.col("n") / F.sqrt(F.col("d1") * F.col("d2")), 6
            ).alias("cos"),
        )
    )
    w = W.partitionBy("it").orderBy(F.desc("cos"), "nb")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _CF_TOPK)
        .select(
            F.col("it").cast("bigint").alias("item_id"),
            F.col("nb").cast("bigint").alias("neighbor_id"),
            F.col("n").cast("bigint").alias("n_co_users"),
            F.col("cos").alias("cosine"),
            F.col("rnk").cast("int").alias("rank"),
        )
    )


q216_item_similarity.__doc__ = q216_item_similarity.__doc__.format(
    cap=_CF_USER_CAP, minco=_CF_MIN_CO
)


# ---------------------------------------------------------------------------
# q217 — Theil-Sen robust daily-revenue trend
# ---------------------------------------------------------------------------

@register(
    "q217_theil_sen_trend",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS d,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY 1
    ),
    slopes AS (
      SELECT round((b.cents - a.cents) * 1.0 / (b.d - a.d), 6) AS s
      FROM daily a JOIN daily b ON b.d > a.d
    ),
    ts AS (
      SELECT count(*) AS n_pairs,
             round(quantile_cont(s, 0.5), 6) AS slope
      FROM slopes
    ),
    ols AS (
      SELECT round(
               (count(*) * sum(d * 1.0 * cents) - sum(d) * 1.0 * sum(cents))
               / nullif(count(*) * sum(d * 1.0 * d) - sum(d) * 1.0 * sum(d),
                        0), 6) AS slope,
             count(*) AS n_days
      FROM daily
    )
    SELECT CAST(o.n_days AS BIGINT) AS n_days,
           CAST(t.n_pairs AS BIGINT) AS n_pairs,
           t.slope AS theil_sen_cents_per_day,
           o.slope AS ols_cents_per_day,
           round(t.slope - o.slope, 6) AS slope_gap
    FROM ts t CROSS JOIN ols o
    """,
)
def q217_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of daily order revenue: the MEDIAN of
    all pairwise day-to-day slopes, reported beside the q148-style
    OLS slope and their gap. Theil-Sen has a 29% breakdown point —
    one flash-sale or outage day drags OLS but not the pairwise
    median — so the gap column IS the signal: near 0 means the trend
    is clean, large means inspect the residuals (q131/q149).

    Determinism: daily revenue in integer cents; each pairwise slope
    rounded at 1e-6 BEFORE the median (identical input multiset ->
    identical quantile_cont/percentile interpolation on both
    engines); the OLS slope comes from the same sufficient-statistic
    formula as q148/q187.

    Scale shape: the pairwise self-join is O(days^2) — calendar-
    bounded (3.65k days/decade -> ~6.7M pairs), NOT corpus-bounded,
    so it is safe at any fact-table size: the corpus contributes one
    map-side-combinable daily aggregate and never joins itself. The
    1-row summaries cross-join broadcast."""
    o = _t(spark, sf_dir, "orders")
    daily = (
        o.groupBy(
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1970-01-01")
            ).alias("d")
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("bigint")
            ).alias("cents")
        )
        # O(days) rows feeding the self-join twice + the OLS pass
        .localCheckpoint(eager=True)
    )
    a = daily.select(F.col("d").alias("d1"), F.col("cents").alias("c1"))
    b = daily.select(F.col("d").alias("d2"), F.col("cents").alias("c2"))
    slopes = a.join(b, F.col("d2") > F.col("d1")).select(
        F.round(
            (F.col("c2") - F.col("c1"))
            * F.lit(1.0)
            / (F.col("d2") - F.col("d1")),
            6,
        ).alias("s")
    )
    ts = slopes.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.expr("percentile(s, 0.5)"), 6).alias("t_slope"),
    )
    n, sd, sc, sdd, sdc = (
        F.count(F.lit(1)),
        F.sum("d"),
        F.sum("cents"),
        F.sum(F.col("d") * F.lit(1.0) * F.col("d")),
        F.sum(F.col("d") * F.lit(1.0) * F.col("cents")),
    )
    ols = daily.agg(
        F.round(
            F.try_divide(
                n * sdc - sd * F.lit(1.0) * sc,
                F.nullif(n * sdd - sd * F.lit(1.0) * sd, F.lit(0.0)),
            ),
            6,
        ).alias("o_slope"),
        n.alias("n_days"),
    )
    return (
        F.broadcast(ts)
        .crossJoin(F.broadcast(ols))
        .select(
            F.col("n_days").cast("bigint").alias("n_days"),
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            F.col("t_slope").alias("theil_sen_cents_per_day"),
            F.col("o_slope").alias("ols_cents_per_day"),
            F.round(
                F.col("t_slope") - F.col("o_slope"), 6
            ).alias("slope_gap"),
        )
    )


# ---------------------------------------------------------------------------
# q218 — customer revenue decile lift table
# ---------------------------------------------------------------------------

@register(
    "q218_revenue_deciles",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents DESC, o_custkey) AS rn,
             count(*) OVER () AS n
      FROM spend
    ),
    dec AS (
      SELECT CAST(floor((rn - 1) * 10.0 / n) AS INTEGER) + 1 AS decile,
             cents
      FROM ranked
    ),
    g AS (
      SELECT decile, count(*) AS n_customers, sum(cents) AS cents
      FROM dec GROUP BY decile
    )
    SELECT CAST(decile AS INTEGER) AS decile,
           CAST(n_customers AS BIGINT) AS n_customers,
           CAST(cents AS BIGINT) AS revenue_cents,
           round(cents * 1.0 / sum(cents) OVER (), 6) AS revenue_share,
           round(sum(cents) OVER (ORDER BY decile)
                 * 1.0 / sum(cents) OVER (), 6) AS cume_share,
           round(cents * 10.0 / sum(cents) OVER (), 6) AS lift
    FROM g
    """,
)
def q218_revenue_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer revenue decile lift table: rank customers by
    lifetime spend (integer cents), cut into 10 explicit-arithmetic
    deciles (floor((rn-1)*10/N)+1 — NOT ntile, so the assignment is
    pure integer arithmetic and identical on any engine), and report
    each decile's revenue share, cumulative share and lift (share /
    the 10% a uniform decile would take). The marketing/finance
    standard "top decile drives X% of revenue" artifact — the
    continuous companion to q206's ABC classes and q181's RFM cells.

    Scale shape: one map-side-combinable per-customer aggregate,
    then ranking + shares over O(customers) rows; the decile
    aggregate is 10 rows and the share windows run on those 10. The
    global row_number is the only total-order step, and it runs on
    the O(customers) aggregate, never the fact table
    (range-partitioned ranking at extreme customer counts —
    q206's cumsum note)."""
    o = _t(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("bigint")
        ).alias("cents")
    )
    wrank = W.orderBy(F.desc("cents"), "o_custkey")
    ranked = spend.select(
        "cents",
        F.row_number().over(wrank).alias("rn"),
        F.count(F.lit(1)).over(
            W.partitionBy()
        ).alias("n"),
    )
    dec = ranked.select(
        (
            F.floor((F.col("rn") - 1) * 10.0 / F.col("n")).cast("int") + 1
        ).alias("decile"),
        "cents",
    )
    g = dec.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").alias("cents"),
    )
    wall = W.partitionBy()
    wcum = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    return g.select(
        F.col("decile").cast("int").alias("decile"),
        F.col("n_customers").cast("bigint").alias("n_customers"),
        F.col("cents").cast("bigint").alias("revenue_cents"),
        F.round(
            F.col("cents") * F.lit(1.0) / F.sum("cents").over(wall), 6
        ).alias("revenue_share"),
        F.round(
            F.sum("cents").over(wcum)
            * F.lit(1.0)
            / F.sum("cents").over(wall),
            6,
        ).alias("cume_share"),
        F.round(
            F.col("cents") * F.lit(10.0) / F.sum("cents").over(wall), 6
        ).alias("lift"),
    )


# ---------------------------------------------------------------------------
# q219 — quality-gate bias audit by language
# ---------------------------------------------------------------------------

@register(
    "q219_gate_bias_audit",
    oracle=r"""
    WITH c AS (
      SELECT lang,
             CASE WHEN len(regexp_split_to_array(trim(text), '\s+'))
                       BETWEEN 5 AND 5000
                   AND len(regexp_extract_all(text, '\b(the|and|of|is|a)\b'))
                       >= 1
                   AND length(regexp_replace(text, '\s+', '', 'g')) * 1.0
                       / nullif(len(regexp_split_to_array(trim(text), '\s+')),
                                0) BETWEEN 2 AND 12
              THEN 1 ELSE 0 END AS pass
      FROM documents
    ),
    per AS (
      SELECT lang, count(*) AS n,
             sum(pass) AS n_pass
      FROM c GROUP BY lang
    ),
    tot AS (SELECT sum(n) AS tn, sum(n_pass) AS tp FROM per)
    SELECT p.lang,
           CAST(p.n AS BIGINT) AS n_docs,
           CAST(p.n_pass AS BIGINT) AS n_pass,
           round(p.n_pass * 1.0 / p.n, 6) AS pass_rate,
           round(((p.n_pass + 0.5) * ((t.tn - p.n) - (t.tp - p.n_pass) + 0.5))
                 / (((p.n - p.n_pass) + 0.5) * ((t.tp - p.n_pass) + 0.5)),
                 6) AS odds_ratio
    FROM per p CROSS JOIN tot t
    """,
)
def q219_gate_bias_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate bias audit: per language, the pass rate of the
    Gopher-style heuristic gate (q177's rater A — length band, >= 1
    English stopword, mean word length 2-12) and its Haldane-
    corrected odds ratio against the REST of the corpus. An
    English-tuned stopword gate structurally discriminates against
    other languages; this audit quantifies that before a curation
    run silently skews the training mixture (the fairness twin of
    q151's drift PSI and q127's source quotas). Odds ratio < 1 means
    the language is filtered harder than the rest; the +0.5 Haldane
    correction keeps the ratio finite when a cell is empty.

    Scale shape: ONE corpus scan computing the per-row gate bit (no
    explode, no join), a per-language aggregate, and a broadcast
    1-row total — O(languages) output at any corpus size."""
    from citybikedatawarehouse_spark.functions.textfns import (
        LANG_MARKERS,
        marker_hits,
        word_count,
    )

    d = _t(spark, sf_dir, "documents")
    n_words = word_count("text")
    n_nonspace = F.length(F.regexp_replace("text", r"\s+", "")).cast("bigint")
    n_stop = marker_hits("text", LANG_MARKERS["en"])
    awl = F.try_divide(n_nonspace * F.lit(1.0), n_words)
    gate = (
        n_words.between(5, 5000) & (n_stop >= 1) & awl.between(2, 12)
    ).cast("int")
    per = d.select("lang", gate.alias("pass")).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"), F.sum("pass").alias("n_pass")
    )
    tot = per.agg(
        F.sum("n").alias("tn"), F.sum("n_pass").alias("tp")
    )
    npass, nn, tp, tn = (
        F.col("n_pass"),
        F.col("n"),
        F.col("tp"),
        F.col("tn"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "lang",
        nn.cast("bigint").alias("n_docs"),
        npass.cast("bigint").alias("n_pass"),
        F.round(npass * F.lit(1.0) / nn, 6).alias("pass_rate"),
        F.round(
            ((npass + 0.5) * ((tn - nn) - (tp - npass) + 0.5))
            / (((nn - npass) + 0.5) * ((tp - npass) + 0.5)),
            6,
        ).alias("odds_ratio"),
    )


# ---------------------------------------------------------------------------
# q220 — sequential purchase patterns (A then B across consecutive orders)
# ---------------------------------------------------------------------------

_SEQ_CAP = 20
_SEQ_TOPK = 20


@register(
    "q220_purchase_sequences",
    oracle=f"""
    WITH ro AS (
      SELECT o_orderkey, o_custkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ),
    op AS (
      SELECT u, rn, pk FROM (
        SELECT ro.o_custkey AS u, ro.rn, l.l_partkey AS pk,
               row_number() OVER (PARTITION BY ro.o_orderkey
                                  ORDER BY l.l_partkey) AS prn
        FROM ro JOIN (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ) l ON l.l_orderkey = ro.o_orderkey
      ) WHERE prn <= {_SEQ_CAP}
    ),
    tr AS (
      SELECT a.u, a.pk AS a_pk, b.pk AS b_pk
      FROM op a JOIN op b
        ON a.u = b.u AND b.rn = a.rn + 1 AND a.pk <> b.pk
    ),
    cnt AS (
      SELECT a_pk, b_pk, count(*) AS n,
             count(DISTINCT u) AS n_customers
      FROM tr GROUP BY 1, 2
    ),
    mx AS (
      SELECT u, max(rn) AS mr FROM (SELECT DISTINCT u, rn FROM op)
      GROUP BY u
    ),
    base AS (
      SELECT a.pk, count(*) AS n_ante
      FROM op a JOIN mx ON mx.u = a.u AND a.rn < mx.mr
      GROUP BY a.pk
    )
    SELECT CAST(a_pk AS BIGINT) AS part_a,
           CAST(b_pk AS BIGINT) AS part_b,
           CAST(n AS BIGINT) AS n_transitions,
           CAST(n_customers AS BIGINT) AS n_customers,
           round(n * 1.0 / base.n_ante, 6) AS confidence
    FROM (
      SELECT *, row_number() OVER (ORDER BY n DESC, a_pk, b_pk) AS rk
      FROM cnt
    ) c JOIN base ON base.pk = c.a_pk
    WHERE rk <= {_SEQ_TOPK}
    """,
)
def q220_purchase_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential purchase patterns: top-20 "bought A, NEXT order
    bought B" transitions with confidence = P(B in next order | A in
    an order that has one). The TEMPORAL mining complement to q153's
    within-basket rules and q216's symmetric history cosine — the
    direction (diapers then crib, not crib then diapers) is the
    signal replenishment and cross-sell campaigns act on.

    Per-order distinct parts are capped at {cap} (lowest ids — the
    q133 skew rule); top-20 ordering is (count DESC, part_a, part_b),
    fully deterministic.

    Scale shape: the (order, part) incidence rides one distinct +
    one per-order window; transitions join that incidence to itself
    on (customer, rank+1) — ONE customer-keyed shuffle, fan-out
    bounded by cap^2 per consecutive-order pair; counts and the
    antecedent base are map-side-combinable; the final top-20 window
    runs on the O(part-pairs) aggregate."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    ro = o.select(
        "o_orderkey",
        F.col("o_custkey").alias("u"),
        F.row_number()
        .over(
            W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        )
        .alias("rn"),
    )
    lp = l.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).dropDuplicates(["ok", "pk"])
    op = (
        ro.join(lp, ro.o_orderkey == lp.ok)
        .select(
            "u",
            "rn",
            "pk",
            F.row_number()
            .over(W.partitionBy("ok").orderBy("pk"))
            .alias("prn"),
        )
        .where(F.col("prn") <= _SEQ_CAP)
        .drop("prn")
        # feeds the self-join (both sides), mx and base
        .localCheckpoint(eager=True)
    )
    a = op.select(
        F.col("u").alias("au"), F.col("rn").alias("arn"),
        F.col("pk").alias("a_pk"),
    )
    b = op.select(
        F.col("u").alias("bu"), F.col("rn").alias("brn"),
        F.col("pk").alias("b_pk"),
    )
    tr = a.join(
        b,
        (F.col("au") == F.col("bu"))
        & (F.col("brn") == F.col("arn") + 1)
        & (F.col("a_pk") != F.col("b_pk")),
    )
    cnt = tr.groupBy("a_pk", "b_pk").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("au").alias("n_customers"),
    )
    mx = (
        op.select("u", "rn")
        .distinct()
        .groupBy("u")
        .agg(F.max("rn").alias("mr"))
    )
    base = (
        op.join(mx, "u")
        .where(F.col("rn") < F.col("mr"))
        .groupBy(F.col("pk"))
        .agg(F.count(F.lit(1)).alias("n_ante"))
    )
    ranked = cnt.withColumn(
        "rk",
        F.row_number().over(W.orderBy(F.desc("n"), "a_pk", "b_pk")),
    ).where(F.col("rk") <= _SEQ_TOPK)
    return ranked.join(
        F.broadcast(base), ranked.a_pk == base.pk
    ).select(
        F.col("a_pk").cast("bigint").alias("part_a"),
        F.col("b_pk").cast("bigint").alias("part_b"),
        F.col("n").cast("bigint").alias("n_transitions"),
        F.col("n_customers").cast("bigint").alias("n_customers"),
        F.round(F.col("n") * F.lit(1.0) / F.col("n_ante"), 6).alias(
            "confidence"
        ),
    )


q220_purchase_sequences.__doc__ = q220_purchase_sequences.__doc__.format(
    cap=_SEQ_CAP
)


# ---------------------------------------------------------------------------
# q221 — rolling-origin forecast backtest
# ---------------------------------------------------------------------------

_BT_WARMUP = 30
_BT_HORIZONS = 3


@register(
    "q221_forecast_backtest",
    oracle=f"""
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS d,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY 1
    ),
    cum AS (
      SELECT d, cents,
             row_number() OVER w AS rn,
             sum(1) OVER w AS n,
             sum(d) OVER w AS sd,
             sum(cents) OVER w AS sc,
             sum(d * d) OVER w AS sdd,
             sum(d * cents) OVER w AS sdc
      FROM daily
      WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ),
    fit AS (
      -- promote the EXACT integer cumsums to double BEFORE the
      -- products: n*sdc overflows int64 past ~sf0.01, and every
      -- cumsum is < 2^53 so the casts are lossless
      SELECT rn, d, cents,
             (CAST(n AS DOUBLE) * CAST(sdc AS DOUBLE)
              - CAST(sd AS DOUBLE) * CAST(sc AS DOUBLE))
               / nullif(CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE)
                        - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE), 0)
               AS slope,
             n, sd, sc
      FROM cum
    ),
    fc AS (
      SELECT rn, slope, (sc - slope * sd) / n AS intercept,
             lead(d, 1) OVER wd AS d1, lead(cents, 1) OVER wd AS c1,
             lead(d, 2) OVER wd AS d2, lead(cents, 2) OVER wd AS c2,
             lead(d, 3) OVER wd AS d3, lead(cents, 3) OVER wd AS c3
      FROM fit WINDOW wd AS (ORDER BY d)
    ),
    un AS (
      SELECT rn, slope, intercept, 1 AS h, d1 AS d_next, c1 AS c_next
      FROM fc
      UNION ALL SELECT rn, slope, intercept, 2, d2, c2 FROM fc
      UNION ALL SELECT rn, slope, intercept, 3, d3, c3 FROM fc
    ),
    err AS (
      SELECT h,
             round(abs(intercept + slope * d_next - c_next), 6) AS ae,
             round(abs(intercept + slope * d_next - c_next)
                   / c_next, 6) AS ape
      FROM un WHERE d_next IS NOT NULL AND rn >= {_BT_WARMUP}
    )
    SELECT CAST(h AS INTEGER) AS horizon,
           CAST(count(*) AS BIGINT) AS n_folds,
           round(avg(ae), 6) AS mae_cents,
           round(avg(ape), 6) AS mape
    FROM err GROUP BY h
    """,
)
def q221_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin backtest of the q148-style linear forecaster:
    at EVERY origin day (after a 30-day warm-up) fit OLS on all
    history up to the origin, predict the next 1/2/3 observed days,
    and report MAE and MAPE per horizon. The model-evaluation
    harness that turns "we have a forecaster" (q148) into "we know
    its error bars" — the difference between shipping a trend line
    and trusting one.

    The trick that makes ALL folds one pass: cumulative integer-cent
    sufficient statistics (n, Σd, Σd², Σc, Σdc) via a running window
    give every origin's exact OLS fit simultaneously — no per-fold
    refit, no loop. Integer cumsums are exact, so slope/intercept
    are bit-identical across engines; per-fold errors round at 1e-6
    before the MAE/MAPE means.

    Scale shape: the corpus contributes ONE combinable daily
    aggregate; everything after runs on O(days) rows (calendar-
    bounded) with two ordered windows — the q193/q217 family."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01")
        ).alias("d")
    ).agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("bigint")
        ).alias("cents")
    )
    w = W.orderBy("d").rowsBetween(W.unboundedPreceding, 0)
    cum = daily.select(
        "d",
        "cents",
        F.row_number().over(W.orderBy("d")).alias("rn"),
        F.sum(F.lit(1)).over(w).alias("n"),
        F.sum("d").over(w).alias("sd"),
        F.sum("cents").over(w).alias("sc"),
        F.sum(F.col("d") * F.col("d")).over(w).alias("sdd"),
        F.sum(F.col("d") * F.col("cents")).over(w).alias("sdc"),
    )
    # promote the exact integer cumsums to double BEFORE the
    # products (lossless: all < 2^53) — n*sdc overflows int64 past
    # ~sf0.01; the double expression shape matches the oracle
    # token-for-token so both engines round identically
    dbl = lambda c: F.col(c).cast("double")
    slope = F.try_divide(
        dbl("n") * dbl("sdc") - dbl("sd") * dbl("sc"),
        F.nullif(
            dbl("n") * dbl("sdd") - dbl("sd") * dbl("sd"), F.lit(0.0)
        ),
    )
    fit = cum.select(
        "rn", "d", "cents", slope.alias("slope"), "n", "sd", "sc"
    )
    wd = W.orderBy("d")
    # lead() needs a literal offset — one branch per fixed horizon
    parts = []
    for h in range(1, _BT_HORIZONS + 1):
        parts.append(
            fit.select(
                "rn",
                "slope",
                ((F.col("sc") - F.col("slope") * F.col("sd")) / F.col("n"))
                .alias("intercept"),
                F.lit(h).alias("h"),
                F.lead("d", h).over(wd).alias("d_next"),
                F.lead("cents", h).over(wd).alias("c_next"),
            )
        )
    fc = parts[0]
    for p in parts[1:]:
        fc = fc.unionAll(p)
    err = fc.where(
        F.col("d_next").isNotNull() & (F.col("rn") >= _BT_WARMUP)
    ).select(
        "h",
        F.round(
            F.abs(
                F.col("intercept")
                + F.col("slope") * F.col("d_next")
                - F.col("c_next")
            ),
            6,
        ).alias("ae"),
        F.round(
            F.abs(
                F.col("intercept")
                + F.col("slope") * F.col("d_next")
                - F.col("c_next")
            )
            / F.col("c_next"),
            6,
        ).alias("ape"),
    )
    return err.groupBy(F.col("h").cast("int").alias("horizon")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_folds"),
        F.round(F.avg("ae"), 6).alias("mae_cents"),
        F.round(F.avg("ape"), 6).alias("mape"),
    )


# ---------------------------------------------------------------------------
# q222 — mutual information: quantity vs discount
# ---------------------------------------------------------------------------

@register(
    "q222_mutual_information",
    oracle="""
    WITH j AS (
      SELECT CAST(l_quantity AS INTEGER) AS q,
             CAST(round(l_discount * 100) AS INTEGER) AS dc,
             count(*) AS n
      FROM lineitem GROUP BY 1, 2
    ),
    tot AS (SELECT sum(n) AS t FROM j),
    mq AS (SELECT q, sum(n) AS nq FROM j GROUP BY q),
    md AS (SELECT dc, sum(n) AS nd FROM j GROUP BY dc),
    mi AS (
      SELECT sum((j.n * 1.0 / t.t)
                 * ln((j.n * 1.0 * t.t) / (mq.nq * 1.0 * md.nd))) AS mi
      FROM j JOIN mq USING (q) JOIN md USING (dc) CROSS JOIN tot t
    ),
    hq AS (
      SELECT -sum((nq * 1.0 / t.t) * ln(nq * 1.0 / t.t)) AS h
      FROM mq CROSS JOIN tot t
    ),
    hd AS (
      SELECT -sum((nd * 1.0 / t.t) * ln(nd * 1.0 / t.t)) AS h
      FROM md CROSS JOIN tot t
    )
    SELECT CAST(t.t AS BIGINT) AS n_rows,
           CAST((SELECT count(*) FROM mq) AS BIGINT) AS n_q_bins,
           CAST((SELECT count(*) FROM md) AS BIGINT) AS n_d_bins,
           round(mi.mi, 6) AS mi_nats,
           round(hq.h, 6) AS h_quantity,
           round(hd.h, 6) AS h_discount,
           round(mi.mi / sqrt(hq.h * hd.h), 6) AS nmi
    FROM mi CROSS JOIN hq CROSS JOIN hd CROSS JOIN tot t
    """,
)
def q222_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between line quantity and discount (both
    naturally discrete: 50 and 11 levels), with marginal entropies
    and sqrt-normalized MI. Pearson correlation (q146) only sees
    LINEAR dependence; MI catches any dependence — the
    pre-modeling screen for "is this discount policy actually
    volume-based?" and the feature-redundancy check before training
    on both columns. Independence shows as mi ≈ 0.

    Determinism: integer bin keys (quantized cents for the
    discount), exact bigint histogram counts; the O(bins) log-sum
    rounds once at 1e-6 (the q188 JSD convention).

    Scale shape: ONE combinable (q, dc) histogram aggregate over the
    corpus — 550 cells max — then joins/sums on the bin relations
    only. O(bins) work after the scan at any corpus size."""
    l = _t(spark, sf_dir, "lineitem")
    j = l.groupBy(
        F.col("l_quantity").cast("int").alias("q"),
        F.round(F.col("l_discount") * 100).cast("int").alias("dc"),
    ).agg(F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    tot = j.agg(F.sum("n").alias("t"))
    mq = j.groupBy("q").agg(F.sum("n").alias("nq"))
    md = j.groupBy("dc").agg(F.sum("n").alias("nd"))
    mi = (
        j.join(F.broadcast(mq), "q")
        .join(F.broadcast(md), "dc")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                (F.col("n") * F.lit(1.0) / F.col("t"))
                * F.log(
                    (F.col("n") * F.lit(1.0) * F.col("t"))
                    / (F.col("nq") * F.lit(1.0) * F.col("nd"))
                )
            ).alias("mi")
        )
    )
    hq = mq.crossJoin(F.broadcast(tot)).agg(
        (-F.sum(
            (F.col("nq") * F.lit(1.0) / F.col("t"))
            * F.log(F.col("nq") * F.lit(1.0) / F.col("t"))
        )).alias("hq"),
        F.count(F.lit(1)).alias("n_q_bins"),
    )
    hd = md.crossJoin(F.broadcast(tot)).agg(
        (-F.sum(
            (F.col("nd") * F.lit(1.0) / F.col("t"))
            * F.log(F.col("nd") * F.lit(1.0) / F.col("t"))
        )).alias("hd"),
        F.count(F.lit(1)).alias("n_d_bins"),
    )
    return (
        F.broadcast(mi)
        .crossJoin(F.broadcast(hq))
        .crossJoin(F.broadcast(hd))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("t").cast("bigint").alias("n_rows"),
            F.col("n_q_bins").cast("bigint").alias("n_q_bins"),
            F.col("n_d_bins").cast("bigint").alias("n_d_bins"),
            F.round("mi", 6).alias("mi_nats"),
            F.round("hq", 6).alias("h_quantity"),
            F.round("hd", 6).alias("h_discount"),
            F.round(
                F.col("mi") / F.sqrt(F.col("hq") * F.col("hd")), 6
            ).alias("nmi"),
        )
    )


# ---------------------------------------------------------------------------
# q223 — contribution rollup (share of parent at every level)
# ---------------------------------------------------------------------------

@register(
    "q223_contribution_rollup",
    oracle="""
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY 1, 2
    ),
    reg AS (SELECT region, sum(cents) AS cents FROM rev GROUP BY region),
    tot AS (SELECT sum(cents) AS cents FROM reg)
    SELECT 'nation' AS lvl, v.region, v.nation,
           CAST(v.cents AS BIGINT) AS revenue_cents,
           round(v.cents * 1.0 / g.cents, 6) AS share_of_parent
    FROM rev v JOIN reg g USING (region)
    UNION ALL
    SELECT 'region', g.region, NULL,
           CAST(g.cents AS BIGINT),
           round(g.cents * 1.0 / t.cents, 6)
    FROM reg g CROSS JOIN tot t
    UNION ALL
    SELECT 'total', NULL, NULL, CAST(t.cents AS BIGINT), 1.0
    FROM tot t
    """,
)
def q223_contribution_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contribution analysis over the geography hierarchy: revenue
    at nation, region and grand-total levels, each row carrying its
    SHARE OF PARENT (nation/region, region/total) — the drill-down
    readout a plain ROLLUP (q22) doesn't give you, and the one a
    revenue review actually reads ("APAC is 31% of total; Japan is
    44% of APAC"). Long format with an explicit level tag so the
    three grains coexist in one relation.

    Scale shape: ONE fact aggregate to O(nations) rows (the dims
    broadcast); region and total levels re-aggregate that tiny
    relation; shares join nation->region (broadcast) and
    region->total (1-row broadcast). The fact table is scanned
    exactly once."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("bigint")
            ).alias("cents")
        )
        # O(nations) rows feeding three levels
        .localCheckpoint(eager=True)
    )
    reg = rev.groupBy("region").agg(F.sum("cents").alias("rcents"))
    tot = reg.agg(F.sum("rcents").alias("tcents"))
    nation_rows = rev.join(F.broadcast(reg), "region").select(
        F.lit("nation").alias("lvl"),
        "region",
        "nation",
        F.col("cents").cast("bigint").alias("revenue_cents"),
        F.round(
            F.col("cents") * F.lit(1.0) / F.col("rcents"), 6
        ).alias("share_of_parent"),
    )
    region_rows = reg.crossJoin(F.broadcast(tot)).select(
        F.lit("region").alias("lvl"),
        "region",
        F.lit(None).cast("string").alias("nation"),
        F.col("rcents").cast("bigint").alias("revenue_cents"),
        F.round(
            F.col("rcents") * F.lit(1.0) / F.col("tcents"), 6
        ).alias("share_of_parent"),
    )
    total_row = tot.select(
        F.lit("total").alias("lvl"),
        F.lit(None).cast("string").alias("region"),
        F.lit(None).cast("string").alias("nation"),
        F.col("tcents").cast("bigint").alias("revenue_cents"),
        F.lit(1.0).alias("share_of_parent"),
    )
    return nation_rows.unionAll(region_rows).unionAll(total_row)


# ---------------------------------------------------------------------------
# q224 — pairwise cosine-similarity histogram (threshold calibration)
# ---------------------------------------------------------------------------

_SIMHIST_SAMPLE = 2000


@register(
    "q224_similarity_histogram",
    oracle=f"""
    WITH samp AS (
      SELECT vec_id, embedding,
             row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
      FROM (
        SELECT * FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT {_SIMHIST_SAMPLE}
      )
    ),
    pairs AS (
      SELECT a.vec_id AS id_1, b.vec_id AS id_2,
             a.embedding AS e1, b.embedding AS e2
      FROM samp a JOIN samp b ON b.rk = a.rk + 1 AND a.rk % 2 = 1
    ),
    expl AS (
      SELECT id_1, id_2,
             CAST(unnest(e1) AS DOUBLE) AS x,
             CAST(unnest(e2) AS DOUBLE) AS y
      FROM pairs
    ),
    cs AS (
      SELECT id_1, id_2,
             round(sum(x * y)
                   / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6) AS cos
      FROM expl GROUP BY 1, 2
    ),
    binned AS (
      SELECT least(CAST(floor((cos + 1.0) / 0.1) AS INTEGER), 19) AS bin
      FROM cs
    )
    SELECT CAST(bin AS INTEGER) AS bin,
           round(-1.0 + bin * 0.1, 1) AS bin_lo,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM binned GROUP BY bin
    """,
)
def q224_similarity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine-similarity histogram over a deterministic
    md5-ordered sample (first {n} vectors, adjacent-rank disjoint
    pairs -> {n2} pairs), binned at 0.1 from -1 to 1. The
    calibration read EVERY similarity threshold in this engine rests
    on (q71's near-dup cut, q88's SemDeDup eps, q62's LSH band
    design): the histogram of "unrelated pair" similarity tells you
    where the noise floor is before you pick a threshold. md5
    ordering makes the sample pseudo-random yet exactly replayable —
    the q67/q113 sampling convention applied to PAIRS.

    Scale shape: the sample is a TakeOrdered {n}-row head (stays in
    the plan, bounded at any corpus size); pairing is a rank
    self-join on {n} rows; one HOF cosine per pair; O(20)-row
    output. Corpus cost = the one ordered sample, independent of N
    beyond the sort."""
    emb = _t(spark, sf_dir, "embeddings")
    skey = F.md5(F.col("vec_id").cast("string"))
    samp = (
        emb.orderBy(skey, "vec_id")
        .limit(_SIMHIST_SAMPLE)
        .select(
            "vec_id",
            "embedding",
            F.row_number()
            .over(W.orderBy(skey, "vec_id"))
            .alias("rk"),
        )
    )
    a = samp.select(
        F.col("rk").alias("rka"),
        F.col("vec_id").alias("id_1"),
        F.col("embedding").alias("e1"),
    ).where(F.col("rka") % 2 == 1)
    b = samp.select(
        F.col("rk").alias("rkb"),
        F.col("vec_id").alias("id_2"),
        F.col("embedding").alias("e2"),
    )
    pairs = a.join(b, F.col("rkb") == F.col("rka") + 1)

    def dot(u, v):
        return F.aggregate(
            F.zip_with(u, v, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, z: acc + z,
        )

    cos = F.round(
        dot(F.col("e1"), F.col("e2"))
        / (
            F.sqrt(dot(F.col("e1"), F.col("e1")))
            * F.sqrt(dot(F.col("e2"), F.col("e2")))
        ),
        6,
    )
    binned = pairs.select(
        F.least(
            F.floor((cos + 1.0) / 0.1).cast("int"), F.lit(19)
        ).alias("bin")
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    ).select(
        F.col("bin").cast("int").alias("bin"),
        F.round(F.lit(-1.0) + F.col("bin") * 0.1, 1).alias("bin_lo"),
        "n_pairs",
    )


q224_similarity_histogram.__doc__ = q224_similarity_histogram.__doc__.format(
    n=_SIMHIST_SAMPLE, n2=_SIMHIST_SAMPLE // 2
)


# ---------------------------------------------------------------------------
# q240 — Markov removal-effect attribution over user journeys
# ---------------------------------------------------------------------------

_MKV_ITER = 12


def _markov_oracle() -> str:
    """Unrolled 12-round absorption iteration per removal variant.
    Transition probabilities are exact BIGINT-count ratios divided
    once; each iterate is rounded to 12 so sub-ulp float-summation
    drift can never accumulate across rounds on either engine."""
    head = """
    WITH ev AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    conv AS (
      SELECT user_id, min(rn) AS conv_rn FROM ev
      WHERE event_type = 'purchase' GROUP BY user_id
    ),
    j AS (
      SELECT e.user_id, e.event_type, e.rn,
             row_number() OVER (PARTITION BY e.user_id ORDER BY e.rn)
               AS step
      FROM ev e LEFT JOIN conv c USING (user_id)
      WHERE e.rn < coalesce(c.conv_rn, 2147483647)
        AND e.event_type <> 'purchase'
    ),
    hops AS (
      SELECT a.user_id, a.event_type AS s, b.event_type AS t
      FROM j a JOIN j b ON b.user_id = a.user_id AND b.step = a.step + 1
      UNION ALL
      SELECT j.user_id, 'START' AS s, j.event_type AS t
      FROM j WHERE j.step = 1
      UNION ALL
      SELECT u.user_id, coalesce(last.event_type, 'START') AS s,
             CASE WHEN c.user_id IS NOT NULL THEN 'CONV'
                  ELSE 'NOCONV' END AS t
      FROM (SELECT DISTINCT user_id FROM ev) u
      LEFT JOIN conv c USING (user_id)
      LEFT JOIN (SELECT user_id, event_type,
                        row_number() OVER (PARTITION BY user_id
                                           ORDER BY step DESC) AS rr
                 FROM j) last
        ON last.user_id = u.user_id AND last.rr = 1
    ),
    trans AS MATERIALIZED (
      SELECT s, t,
             count(*) * 1.0
               / sum(count(*)) OVER (PARTITION BY s) AS p
      FROM hops GROUP BY s, t
    ),
    channels AS MATERIALIZED (
      SELECT DISTINCT s AS ch FROM trans WHERE s <> 'START'
    ),
    removals AS MATERIALIZED (
      SELECT ch AS removed FROM channels
      UNION ALL SELECT '__none__'
    ),
    states AS MATERIALIZED (
      SELECT DISTINCT s AS st FROM trans
      UNION SELECT DISTINCT t FROM trans
    ),
    v0 AS MATERIALIZED (
      SELECT r.removed, s.st,
             CASE WHEN s.st = 'CONV' THEN 1.0 ELSE 0.0 END AS v
      FROM removals r CROSS JOIN states s
    )"""
    steps = []
    for k in range(1, _MKV_ITER + 1):
        steps.append(f""",
    v{k} AS MATERIALIZED (
      SELECT p.removed, p.st,
             CASE WHEN p.st = 'CONV' THEN 1.0
                  WHEN p.st = 'NOCONV' THEN 0.0
                  WHEN p.st = p.removed THEN 0.0
                  ELSE round(coalesce(up.nv, 0.0), 12) END AS v
      FROM v{k - 1} p
      LEFT JOIN (
        SELECT pv.removed, tr.s AS st, sum(tr.p * pv.v) AS nv
        FROM trans tr JOIN v{k - 1} pv ON pv.st = tr.t
        GROUP BY pv.removed, tr.s
      ) up ON up.removed = p.removed AND up.st = p.st
    )""")
    tail = f"""
    , base AS (SELECT v AS base_cvr FROM v{_MKV_ITER}
               WHERE removed = '__none__' AND st = 'START'),
    eff AS (
      SELECT r.removed AS channel, b.base_cvr,
             v.v AS removed_cvr,
             round((b.base_cvr - v.v) / b.base_cvr, 6) AS removal_effect
      FROM removals r
      JOIN v{_MKV_ITER} v ON v.removed = r.removed AND v.st = 'START'
      CROSS JOIN base b
      WHERE r.removed <> '__none__'
    )
    SELECT channel,
           round(base_cvr, 6) AS base_cvr,
           round(removed_cvr, 6) AS removed_cvr,
           removal_effect,
           round(removal_effect
                 / sum(removal_effect) OVER (), 6) AS attribution_share
    FROM eff
    """
    return head + "".join(steps) + tail


@register("q240_markov_attribution", oracle=_markov_oracle())
def q240_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution (Anderl et al.'s
    first-order Markov graph model): build the channel transition
    matrix from user journeys truncated at first purchase
    (START -> channels -> CONV/NOCONV), compute the 12-round
    absorption probability of CONV from START, then re-run the chain
    with each channel's outgoing mass nulled — the drop in
    conversion probability IS that channel's credit. The
    principled alternative to last-touch (q170) and linear (q180)
    attribution, completing the attribution family.

    Determinism: the value is DEFINED as the 12th fixed-point
    iterate (not "converged"), transition probabilities are exact
    count ratios divided once, and every iterate is rounded to 12 —
    identical lattices on both engines.

    Scale shape: journeys aggregate to a |channels|^2 transition
    matrix in one events scan (window + one groupBy); the iteration
    then runs on (|channels|+1) x |states| rows — a few dozen —
    entirely corpus-independent, with localCheckpoint per round.
    All removal variants ride ONE relation (removal is a grid
    dimension, not a driver loop), so adding channels never adds
    jobs."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    rn = W.partitionBy("user_id").orderBy("ts", "event_id")
    ev = ev.withColumn("rn", F.row_number().over(rn))
    conv = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("rn").alias("conv_rn"))
    )
    j = (
        ev.join(F.broadcast(conv), "user_id", "left")
        .where(
            (F.col("rn") < F.coalesce(F.col("conv_rn"), F.lit(2147483647)))
            & (F.col("event_type") != "purchase")
        )
        .withColumn(
            "step",
            F.row_number().over(W.partitionBy("user_id").orderBy("rn")),
        )
        .select("user_id", "event_type", "step")
    )
    jb = j.select(
        F.col("user_id").alias("ub"),
        F.col("event_type").alias("tb"),
        F.col("step").alias("sb"),
    )
    mid = j.join(
        jb, (j.user_id == jb.ub) & (jb.sb == j.step + 1)
    ).select(F.col("event_type").alias("s"), F.col("tb").alias("t"))
    start = j.where(F.col("step") == 1).select(
        F.lit("START").alias("s"), F.col("event_type").alias("t")
    )
    last_step = j.groupBy("user_id").agg(
        F.max_by("event_type", "step").alias("last_type")
    )
    users = ev.select("user_id").distinct()
    final = (
        users.join(F.broadcast(conv), "user_id", "left")
        .join(F.broadcast(last_step), "user_id", "left")
        .select(
            F.coalesce(F.col("last_type"), F.lit("START")).alias("s"),
            F.when(F.col("conv_rn").isNotNull(), "CONV")
            .otherwise("NOCONV")
            .alias("t"),
        )
    )
    hops = mid.unionAll(start).unionAll(final)
    trans = (
        hops.groupBy("s", "t")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "p",
            F.col("n") * 1.0 / F.sum("n").over(W.partitionBy("s")),
        )
        .select("s", "t", "p")
        .localCheckpoint(eager=True)
    )
    channels = trans.select(F.col("s").alias("ch")).where(
        F.col("ch") != "START"
    ).distinct()
    removals = channels.select(F.col("ch").alias("removed")).unionAll(
        channels.sparkSession.createDataFrame([("__none__",)], ["removed"])
    )
    states = (
        trans.select(F.col("s").alias("st"))
        .union(trans.select(F.col("t").alias("st")))
        .distinct()
    )
    v = (
        removals.crossJoin(states)
        .select(
            "removed",
            "st",
            F.when(F.col("st") == "CONV", 1.0).otherwise(0.0).alias("v"),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(_MKV_ITER):
        up = (
            trans.join(
                v.select(
                    F.col("removed").alias("rm"),
                    F.col("st").alias("vt"),
                    F.col("v").alias("pv"),
                ),
                trans.t == F.col("vt"),
            )
            .groupBy(F.col("rm"), F.col("s").alias("us"))
            .agg(F.sum(F.col("p") * F.col("pv")).alias("nv"))
        )
        v = (
            v.join(
                up,
                (v.removed == up.rm) & (v.st == F.col("us")),
                "left",
            )
            .select(
                "removed",
                "st",
                F.when(F.col("st") == "CONV", 1.0)
                .when(F.col("st") == "NOCONV", 0.0)
                .when(F.col("st") == F.col("removed"), 0.0)
                .otherwise(F.round(F.coalesce(F.col("nv"), F.lit(0.0)), 12))
                .alias("v"),
            )
            .localCheckpoint(eager=True)
        )
    base = v.where(
        (F.col("removed") == "__none__") & (F.col("st") == "START")
    ).select(F.col("v").alias("base_cvr"))
    eff = (
        v.where((F.col("removed") != "__none__") & (F.col("st") == "START"))
        .crossJoin(F.broadcast(base))
        .select(
            F.col("removed").alias("channel"),
            "base_cvr",
            F.col("v").alias("removed_cvr"),
            F.round(
                (F.col("base_cvr") - F.col("v")) / F.col("base_cvr"), 6
            ).alias("removal_effect"),
        )
    )
    return eff.select(
        "channel",
        F.round("base_cvr", 6).alias("base_cvr"),
        F.round("removed_cvr", 6).alias("removed_cvr"),
        "removal_effect",
        F.round(
            F.col("removal_effect") / F.sum("removal_effect").over(W.partitionBy()),
            6,
        ).alias("attribution_share"),
    )


# ---------------------------------------------------------------------------
# q242 — token-weighted quantiles of document length per source
# ---------------------------------------------------------------------------

@register(
    "q242_weighted_quantiles",
    oracle="""
    WITH d AS (
      SELECT source, CAST(n_chars AS BIGINT) AS v,
             CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS w
      FROM documents
    ),
    g AS (
      SELECT source, v, CAST(sum(w) AS BIGINT) AS w
      FROM d GROUP BY source, v
    ),
    c AS (
      SELECT source, v, w,
             sum(w) OVER (PARTITION BY source ORDER BY v) AS cw,
             sum(w) OVER (PARTITION BY source) AS tw
      FROM g
    )
    SELECT source,
           CAST(min(CASE WHEN cw * 2 >= tw THEN v END) AS BIGINT)
             AS w_p50,
           CAST(min(CASE WHEN cw * 10 >= tw * 9 THEN v END) AS BIGINT)
             AS w_p90,
           CAST(min(tw) AS BIGINT) AS total_weight
    FROM c GROUP BY source
    """,
)
def q242_weighted_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-WEIGHTED quantiles of document length per source: the
    median/p90 document length as experienced by a TOKEN, not a
    document — the statistic that actually predicts training-batch
    composition (a corpus whose unweighted median is 200 chars but
    whose token-weighted median is 4000 is dominated by long docs).
    Weighted quantile q = the smallest value whose cumulative weight
    reaches q of the total, computed with EXACT integer comparisons
    (cw * 2 >= tw, cw * 10 >= 9 * tw) — no float rank anywhere,
    so no cross-engine boundary flips. Complements q28 (unweighted
    percentiles) and q113 (token-weighted sampling).

    Scale shape: pre-aggregate to (source, length) cells first — the
    window then runs over O(distinct lengths) rows per source, not
    the corpus; one corpus scan, one cell-level shuffle. The 100 TB
    variant is unchanged: distinct lengths stay bounded while
    documents grow."""
    d = _t(spark, sf_dir, "documents").select(
        "source",
        F.col("n_chars").cast("bigint").alias("v"),
        F.size(F.split(F.trim("text"), r"\s+")).cast("bigint").alias("w"),
    )
    g = d.groupBy("source", "v").agg(F.sum("w").alias("w"))
    wc = W.partitionBy("source").orderBy("v")
    c = g.select(
        "source",
        "v",
        F.sum("w").over(wc).alias("cw"),
        F.sum("w").over(W.partitionBy("source")).alias("tw"),
    )
    return c.groupBy("source").agg(
        F.min(F.when(F.col("cw") * 2 >= F.col("tw"), F.col("v")))
        .cast("bigint")
        .alias("w_p50"),
        F.min(F.when(F.col("cw") * 10 >= F.col("tw") * 9, F.col("v")))
        .cast("bigint")
        .alias("w_p90"),
        F.min("tw").cast("bigint").alias("total_weight"),
    )


# ---------------------------------------------------------------------------
# q243 — count-min sketch heavy-hitter audit
# ---------------------------------------------------------------------------

_CMS_DEPTH = 4
_CMS_WIDTH = 256
_CMS_TOPK = 20


@register(
    "q243_countmin_heavy_hitters",
    oracle=f"""
    WITH rows_d AS (
      SELECT l.l_partkey AS pk, t.j
      FROM lineitem l CROSS JOIN UNNEST(range(0, {_CMS_DEPTH})) t(j)
    ),
    cms AS MATERIALIZED (
      SELECT j,
             {cms_buckets_sql("pk", _CMS_WIDTH, "j")} AS bucket,
             CAST(count(*) AS BIGINT) AS counter
      FROM rows_d GROUP BY 1, 2
    ),
    actual AS (
      SELECT l_partkey AS pk, CAST(count(*) AS BIGINT) AS actual
      FROM lineitem GROUP BY 1
    ),
    top AS (
      SELECT pk, actual FROM (
        SELECT pk, actual,
               row_number() OVER (ORDER BY actual DESC, pk) AS rn
        FROM actual
      ) WHERE rn <= {_CMS_TOPK}
    ),
    probes AS (
      SELECT t.pk, t.actual, d.j,
             {cms_buckets_sql("t.pk", _CMS_WIDTH, "d.j")} AS bucket
      FROM top t CROSS JOIN UNNEST(range(0, {_CMS_DEPTH})) d(j)
    )
    SELECT p.pk AS l_partkey, p.actual,
           CAST(min(c.counter) AS BIGINT) AS cms_estimate,
           CAST(min(c.counter) - p.actual AS BIGINT) AS overestimate
    FROM probes p JOIN cms c ON c.j = p.j AND c.bucket = p.bucket
    GROUP BY p.pk, p.actual
    """,
)
def q243_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency audit (Cormode & Muthukrishnan's
    CM sketch): build a 4x256 counter array over the lineitem
    partkey stream (md5-derived row hashes — reproducible across
    engines and epochs, no seed state), then probe it with the TRUE
    top-20 parts and report estimate vs actual. CMS never
    underestimates (each of a key's 4 counters contains its full
    count plus collisions; the min is the estimate), so
    `overestimate >= 0` is a structural law the test asserts. This
    is the sketch a 100 TB pipeline keeps PER PARTITION to find
    heavy hitters without a full groupBy — the frequency sibling of
    approx_count_distinct (q28b).

    Scale shape: the sketch build is one scan computing ONE md5 per
    row (the digest's four 8-hex chunks are the four row hashes —
    measured 1.9x faster than a digest per (row, j)) whose depth-4
    posexplode collapses into 1024 counters via map-side combine —
    bounded memory regardless of key cardinality, and the counter
    array is a commutative monoid (the streaming twin
    `streaming/incremental.cms_epoch_step` lands per-epoch slices
    that merge by SUM). The probe side is 20 keys x 4 hashes joined
    against the 1024-row sketch — broadcast-trivial."""
    from citybikedatawarehouse_spark.functions.keys import cms_buckets

    l = _t(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("pk"))

    cms = (
        l.select(
            F.posexplode(
                cms_buckets(F.col("pk"), _CMS_WIDTH, _CMS_DEPTH)
            ).alias("j", "bucket")
        )
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("counter"))
    )
    actual = l.groupBy("pk").agg(F.count(F.lit(1)).cast("bigint").alias("actual"))
    # TakeOrdered (orderBy+limit), not a global row_number window:
    # same top-20 under the same (actual desc, pk) total order, no
    # single-partition WindowExec over the full part census
    top = actual.orderBy(F.col("actual").desc(), F.col("pk")).limit(_CMS_TOPK)
    probes = top.select(
        "pk",
        "actual",
        F.posexplode(cms_buckets(F.col("pk"), _CMS_WIDTH, _CMS_DEPTH)).alias(
            "j", "bucket"
        ),
    )
    return (
        probes.join(F.broadcast(cms), ["j", "bucket"])
        .groupBy(F.col("pk").alias("l_partkey"), "actual")
        .agg(
            F.min("counter").cast("bigint").alias("cms_estimate"),
            (F.min("counter") - F.col("actual"))
            .cast("bigint")
            .alias("overestimate"),
        )
    )


# ---------------------------------------------------------------------------
# q244 — HyperLogLog distinct-count audit (from-scratch sketch)
# ---------------------------------------------------------------------------

_HLL_ALPHA = 0.7182725932495458  # 0.7213 / (1 + 1.079/256), m = 256
_HLL_ENTITIES = [
    ("lineitem_l_partkey", "lineitem", "l_partkey"),
    ("lineitem_l_orderkey", "lineitem", "l_orderkey"),
    ("orders_o_custkey", "orders", "o_custkey"),
    ("events_user_id", "events", "user_id"),
]


def _hll_entity_sql(entity: str, table: str, key: str) -> str:
    from citybikedatawarehouse_spark.functions.keys import (
        HLL_RHO_MAX,
        hll_parts_sql,
    )

    parts = hll_parts_sql(key)
    return f"""
      SELECT '{entity}' AS entity, exact_distinct, hll_estimate,
             round((hll_estimate - exact_distinct) * 1.0
                   / exact_distinct, 6) AS rel_error
      FROM (
        SELECT
          (SELECT CAST(count(DISTINCT {key}) AS BIGINT) FROM {table})
            AS exact_distinct,
          CAST(round(CASE WHEN raw <= 640.0 AND zeros > 0
                          THEN 256.0 * ln(256.0 / zeros)
                          ELSE raw END) AS BIGINT) AS hll_estimate
        FROM (
          SELECT CAST({_HLL_ALPHA} AS DOUBLE) * 256.0 * 256.0
                   * CAST(1::BIGINT << {HLL_RHO_MAX} AS DOUBLE)
                   / CAST(sum_scaled AS DOUBLE) AS raw,
                 zeros
          FROM (
            SELECT CAST(sum(CAST(1::BIGINT << ({HLL_RHO_MAX} - reg)
                                 AS DECIMAL(20,0))) AS DECIMAL(38,0))
                     AS sum_scaled,
                   CAST(sum(CASE WHEN reg = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS zeros
            FROM (
              SELECT b.bucket, coalesce(r.reg, 0) AS reg
              FROM (SELECT CAST(t.b AS INTEGER) AS bucket
                    FROM UNNEST(range(0, 256)) t(b)) b
              LEFT JOIN (
                SELECT bucket, max(rho) AS reg FROM (
                  SELECT {parts} FROM {table}
                ) GROUP BY bucket
              ) r ON r.bucket = b.bucket
            )
          )
        )
      )"""


@register(
    "q244_hll_distinct",
    oracle=" UNION ALL ".join(
        _hll_entity_sql(e, t, k) for e, t, k in _HLL_ENTITIES
    ),
)
def q244_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """From-scratch HyperLogLog distinct-count audit (Flajolet et
    al.'s HLL with the standard small-range linear-counting
    correction): 256 md5-derived registers per entity, probed
    against the exact COUNT(DISTINCT) for four key columns —
    including one (events.user_id) small enough to exercise the
    linear-counting branch. The engine already exposes Spark's HLL++
    via approx_count_distinct (q28b); THIS one is transparent: the
    registers are rows you can inspect, merge, and persist, which is
    what a 100 TB pipeline stores per partition/day and merges at
    query time (the streaming twin `hll_epoch_step` lands exactly
    those slices; registers are a MAX-monoid).

    Determinism: rho comes from string-domain leading-zero math on
    the md5 hex (no float log2, no bit intrinsics); the harmonic-sum
    is computed as an EXACT integer (sum of 2^(57-reg) in
    DECIMAL(20,0) — a double sum of 256 spread-magnitude powers of
    two is order-sensitive in its last bits) and divided once; the
    one transcendental (ln, linear-counting branch) feeds a round()
    with ulp-scale inputs only.

    Scale shape: max(rho) per bucket is a map-side-combinable
    aggregate over the raw rows (no pre-distinct needed — max over
    duplicate keys is the same register), collapsing any cardinality
    to 256 rows per entity; everything after runs on the 256-row
    register array."""
    from citybikedatawarehouse_spark.functions.keys import (
        HLL_RHO_MAX,
        hll_parts,
    )

    out = None
    for entity, table, key in _HLL_ENTITIES:
        df = _t(spark, sf_dir, table)
        bucket, rho = hll_parts(key)
        regs = (
            df.select(bucket.alias("bucket"), rho.alias("rho"))
            .groupBy("bucket")
            .agg(F.max("rho").alias("reg"))
        )
        all_b = spark.range(256).select(F.col("id").cast("int").alias("bucket"))
        full = all_b.join(F.broadcast(regs), "bucket", "left").select(
            F.coalesce(F.col("reg"), F.lit(0)).alias("reg")
        )
        stats = full.agg(
            F.sum(
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), {HLL_RHO_MAX} - reg)"
                ).cast("decimal(20,0)")
            ).alias("sum_scaled"),
            F.sum(F.when(F.col("reg") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("zeros"),
        )
        exact = df.agg(
            F.countDistinct(key).cast("bigint").alias("exact_distinct")
        )
        raw = (
            F.lit(_HLL_ALPHA)
            * 256.0
            * 256.0
            * F.lit(float(1 << HLL_RHO_MAX))
            / F.col("sum_scaled").cast("double")
        )
        row = (
            stats.crossJoin(F.broadcast(exact))
            .select(
                F.lit(entity).alias("entity"),
                "exact_distinct",
                F.round(
                    F.when(
                        (raw <= 640.0) & (F.col("zeros") > 0),
                        F.lit(256.0) * F.log(F.lit(256.0) / F.col("zeros")),
                    ).otherwise(raw)
                )
                .cast("bigint")
                .alias("hll_estimate"),
            )
            .select(
                "entity",
                "exact_distinct",
                "hll_estimate",
                F.round(
                    (F.col("hll_estimate") - F.col("exact_distinct"))
                    * 1.0
                    / F.col("exact_distinct"),
                    6,
                ).alias("rel_error"),
            )
        )
        out = row if out is None else out.unionAll(row)
    return out


# ---------------------------------------------------------------------------
# q246 — CUPED variance-reduced A/B readout
# ---------------------------------------------------------------------------

_CUPED_SPLIT = "1999-01-01"


@register(
    "q246_cuped_ab",
    oracle=f"""
    WITH per_cust AS (
      SELECT c.c_custkey,
             ('0x' || substr(md5('arm:' || c.c_custkey), 1, 8))::BIGINT % 2
               AS arm,
             CAST(coalesce(sum(CASE WHEN o.o_orderdate < DATE '{_CUPED_SPLIT}'
                  THEN CAST(round(o.o_totalprice * 100) AS BIGINT) END), 0)
                  AS BIGINT) AS x,
             CAST(coalesce(sum(CASE WHEN o.o_orderdate >= DATE '{_CUPED_SPLIT}'
                  THEN CAST(round(o.o_totalprice * 100) AS BIGINT) END), 0)
                  AS BIGINT) AS y
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1
    ),
    pooled AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS DECIMAL(38,0)) AS sxx,
             CAST(sum(x * y) AS DECIMAL(38,0)) AS sxy,
             CAST(sum(y * y) AS DECIMAL(38,0)) AS syy
      FROM per_cust
    ),
    theta AS (
      SELECT n, sx, sy,
             (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
               / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
               AS th,
             (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) / n
               AS var_y,
             CAST(sx AS DOUBLE) / n AS mean_x
      FROM pooled
    ),
    arms AS (
      SELECT arm, CAST(count(*) AS BIGINT) AS n_arm,
             CAST(sum(x) AS BIGINT) AS sx_a, CAST(sum(y) AS BIGINT) AS sy_a
      FROM per_cust GROUP BY arm
    ),
    adj AS (
      SELECT a.arm, a.n_arm,
             CAST(a.sy_a AS DOUBLE) / a.n_arm AS mean_y_arm,
             (CAST(a.sy_a AS DOUBLE)
              - t.th * (a.sx_a - a.n_arm * t.mean_x)) / a.n_arm
               AS mean_cuped_arm
      FROM arms a CROSS JOIN theta t
    ),
    resid AS (
      SELECT (CAST(p.syy AS DOUBLE) - 2 * t.th * CAST(p.sxy AS DOUBLE)
              + t.th * t.th * CAST(p.sxx AS DOUBLE)
              - p.n * (CAST(p.sy AS DOUBLE) / p.n
                       - t.th * CAST(p.sx AS DOUBLE) / p.n)
                    * (CAST(p.sy AS DOUBLE) / p.n
                       - t.th * CAST(p.sx AS DOUBLE) / p.n)) / p.n
               AS var_cuped
      FROM pooled p CROSS JOIN theta t
    )
    SELECT
      CAST(max(CASE WHEN arm = 1 THEN n_arm END) AS BIGINT) AS n_treat,
      CAST(max(CASE WHEN arm = 0 THEN n_arm END) AS BIGINT) AS n_ctrl,
      round((SELECT th FROM theta), 6) AS theta,
      round(max(CASE WHEN arm = 1 THEN mean_y_arm END)
            - max(CASE WHEN arm = 0 THEN mean_y_arm END), 6) AS diff_raw,
      round(max(CASE WHEN arm = 1 THEN mean_cuped_arm END)
            - max(CASE WHEN arm = 0 THEN mean_cuped_arm END), 6)
        AS diff_cuped,
      round(1.0 - (SELECT var_cuped FROM resid)
                  / (SELECT var_y FROM theta), 6) AS var_reduction
    FROM adj
    """,
)
def q246_cuped_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced experiment readout (Deng et al.,
    WSDM'13): per customer, Y = post-period spend, X = pre-period
    spend (the pre-experiment covariate), md5-deterministic 50/50
    arms; theta = pooled cov(X,Y)/var(X); the CUPED-adjusted arm
    means subtract theta*(X - mean X). The headline numbers are the
    raw vs adjusted treatment difference and the in-sample variance
    reduction (guaranteed >= 0: theta is exactly the OLS slope that
    minimizes residual variance) — the reason experiment platforms
    run CUPED: the same experiment reads significant days sooner.
    Completes the stats suite beside the plain z-test (q144).

    Determinism: all sufficient statistics are exact integers (cents
    sums as BIGINT, squared sums as DECIMAL(38,0) — a cents product
    is ~1e14 per row, sums overflow BIGINT at scale); every double
    appears only after the final divisions, identical expression
    shape on both engines, rounded once.

    Scale shape: one customer-keyed aggregate over the orders join
    (map-side combinable), then EVERYTHING runs on the 2-arm / 1-row
    sufficient-statistic relations. No second pass over the data —
    CUPED costs one extra covariate column, which is its point."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    split = F.lit(_CUPED_SPLIT).cast("timestamp")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("o_orderdate") < split, cents)), F.lit(0)
            ).cast("bigint").alias("x"),
            F.coalesce(
                F.sum(F.when(F.col("o_orderdate") >= split, cents)), F.lit(0)
            ).cast("bigint").alias("y"),
        )
        .select(
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit("arm:"), F.col("c_custkey").cast("string"))),
                        1, 8,
                    ), 16, 10,
                ).cast("long") % 2
            ).alias("arm"),
            "x", "y",
        )
    )
    pooled = per_cust.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)")).alias("syy"),
    )
    th = (
        (F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy") / F.col("n"))
        / (F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx") / F.col("n"))
    )
    theta = pooled.select(
        "n", "sx", "sy", "sxx", "sxy", "syy",
        th.alias("th"),
        ((F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy") / F.col("n")) / F.col("n")).alias("var_y"),
        (F.col("sx").cast("double") / F.col("n")).alias("mean_x"),
    )
    arms = per_cust.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_arm"),
        F.sum("x").alias("sx_a"),
        F.sum("y").alias("sy_a"),
    )
    adj = arms.crossJoin(F.broadcast(theta)).select(
        "arm", "n_arm",
        (F.col("sy_a").cast("double") / F.col("n_arm")).alias("mean_y_arm"),
        (
            (F.col("sy_a").cast("double")
             - F.col("th") * (F.col("sx_a") - F.col("n_arm") * F.col("mean_x")))
            / F.col("n_arm")
        ).alias("mean_cuped_arm"),
    )
    mean_resid = (
        F.col("sy").cast("double") / F.col("n")
        - F.col("th") * F.col("sx").cast("double") / F.col("n")
    )
    resid = theta.select(
        (
            (
                F.col("syy").cast("double")
                - 2 * F.col("th") * F.col("sxy").cast("double")
                + F.col("th") * F.col("th") * F.col("sxx").cast("double")
                - F.col("n") * mean_resid * mean_resid
            )
            / F.col("n")
        ).alias("var_cuped"),
        F.col("var_y").alias("vy2"),
        F.col("th").alias("th2"),
    )
    return (
        adj.groupBy()
        .pivot("arm", [0, 1])
        .agg(
            F.first("n_arm").alias("n"),
            F.first("mean_y_arm").alias("my"),
            F.first("mean_cuped_arm").alias("mc"),
        )
        .crossJoin(F.broadcast(resid))
        .select(
            F.col("1_n").cast("bigint").alias("n_treat"),
            F.col("0_n").cast("bigint").alias("n_ctrl"),
            F.round(F.col("th2"), 6).alias("theta"),
            F.round(F.col("1_my") - F.col("0_my"), 6).alias("diff_raw"),
            F.round(F.col("1_mc") - F.col("0_mc"), 6).alias("diff_cuped"),
            F.round(1.0 - F.col("var_cuped") / F.col("vy2"), 6).alias(
                "var_reduction"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q247 — deterministic Poisson-bootstrap confidence interval
# ---------------------------------------------------------------------------

_BOOT_B = 32
# Poisson(1) CDF scaled to 1e6: tick < t[k] -> weight k
_BOOT_THRESHOLDS = [367879, 735759, 919699, 981012, 996340, 999406,
                    999917, 999990, 999999, 1000000]


def _boot_weight_sql(tick: str) -> str:
    branches = "".join(
        f" WHEN {tick} < {t} THEN {k}"
        for k, t in enumerate(_BOOT_THRESHOLDS)
    )
    return f"CASE{branches} ELSE 10 END"


@register(
    "q247_bootstrap_ci",
    oracle=f"""
    WITH reps AS (
      SELECT b.b,
             {_boot_weight_sql(
                 "('0x' || substr(md5('boot' || (b.b // 4) || ':' || o.o_orderkey),"
                 " (b.b % 4) * 8 + 1, 8))::BIGINT % 1000000"
             )}
               AS w,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o CROSS JOIN UNNEST(range(0, {_BOOT_B})) b(b)
    ),
    means AS (
      SELECT b, CAST(sum(w * cents) AS BIGINT) * 1.0
                  / CAST(sum(w) AS BIGINT) AS m
      FROM reps GROUP BY b
    ),
    point AS (
      SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               * 1.0 / count(*) AS pm
      FROM orders
    )
    SELECT round((SELECT pm FROM point), 6) AS point_mean_cents,
           round(quantile_cont(m, 0.025), 6) AS ci_lo,
           round(quantile_cont(m, 0.975), 6) AS ci_hi,
           round(stddev_samp(m), 6) AS boot_se
    FROM means
    """,
)
def q247_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson bootstrap of the mean order value: 32
    replicates whose per-row weights come from md5-ticked inverse-CDF
    sampling of Poisson(1) — the bootstrap that works at scale
    because it needs NO resampling pass and no shared RNG state
    (each row computes its own weight for every replicate; Chamandy
    et al.'s "Estimating Uncertainty for Massive Data Streams",
    Google TR'12). Reports the 2.5/97.5 percentile CI and bootstrap
    SE around the exact point mean — the uncertainty layer the
    stats suite (q144/q148/q246) reads its significance off of.

    Determinism: weights are exact integer CDF-threshold lookups of
    an md5 tick; each replicate mean is an exact BIGINT pair
    (sum w*cents, sum w) divided once; percentiles interpolate over
    32 such doubles (percentile == quantile_cont, the q28-proven
    pairing); one round at the end.

    Scale shape (round-7 restated — the 10x-outlier fix): NO row
    fan-out at all. Each row stages 8 md5 digests (4 ticks of 8 hex
    chars per digest — the round-6 shape cross-joined the corpus 32x
    and hashed once per replicate, 4x the hashing and 32x the
    aggregate input), computes all 32 weights in one projection, and
    ONE single-row hash aggregate folds 64 (sum w*cents, sum w)
    pairs plus the point-mean pair — one scan, 66 longs of state,
    zero shuffled rows before the 32-element replicate explode. B
    scales the aggregate width, not rows.

    Codegen shape (round-11 — the 64 KB fix): the original 32x
    10-deep CASE chains over inline tick expressions blew janino's
    64 KB method limit in the aggregate stage, silently dropping it
    to interpreted execution. The ticks are now STAGED as their own
    projection and each weight is the FLAT sum of 10 comparisons
    (weight = #thresholds <= tick — arithmetically identical to the
    inverse-CDF CASE), which compiles at ~45 KB max method size;
    tests/test_round11_codegen.py pins compilability."""
    o = _t(spark, sf_dir, "orders")
    n_hash = (_BOOT_B + 3) // 4
    staged = o.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.array(
            *[
                F.md5(
                    F.concat(
                        F.lit(f"boot{g}:"),
                        F.col("o_orderkey").cast("string"),
                    )
                )
                for g in range(n_hash)
            ]
        ).alias("hs"),
    )
    ticked = staged.select(
        "cents",
        *[
            (
                F.conv(
                    F.substring(
                        F.element_at("hs", b // 4 + 1), (b % 4) * 8 + 1, 8
                    ),
                    16, 10,
                ).cast("long") % 1000000
            ).alias(f"t{b}")
            for b in range(_BOOT_B)
        ],
    )

    def _w(b):
        # weight k <=> exactly k thresholds are <= tick: the CASE
        # chain flattened into a branch-free comparison sum
        terms = [
            (F.col(f"t{b}") >= F.lit(t)).cast("int")
            for t in _BOOT_THRESHOLDS
        ]
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out

    one = ticked.select(
        "cents", *[_w(b).alias(f"w{b}") for b in range(_BOOT_B)]
    ).agg(
        F.sum("cents").cast("bigint").alias("pm_num"),
        F.count(F.lit(1)).alias("pm_den"),
        *[
            s
            for b in range(_BOOT_B)
            for s in (
                F.sum(F.col(f"w{b}") * F.col("cents"))
                .cast("bigint")
                .alias(f"swc{b}"),
                F.sum(f"w{b}").cast("bigint").alias(f"sw{b}"),
            )
        ],
    )
    means = one.select(
        (F.col("pm_num") * 1.0 / F.col("pm_den")).alias("pm"),
        F.explode(
            F.array(
                *[
                    F.col(f"swc{b}") * 1.0 / F.col(f"sw{b}")
                    for b in range(_BOOT_B)
                ]
            )
        ).alias("m"),
    )
    return means.agg(
        F.round(F.first("pm"), 6).alias("point_mean_cents"),
        F.round(F.expr("percentile(m, 0.025)"), 6).alias("ci_lo"),
        F.round(F.expr("percentile(m, 0.975)"), 6).alias("ci_hi"),
        F.round(F.stddev_samp("m"), 6).alias("boot_se"),
    )


# ---------------------------------------------------------------------------
# q248 — out-of-fold target encoding with prior smoothing
# ---------------------------------------------------------------------------

_TE_FOLDS = 5
_TE_ALPHA = 10


@register(
    "q248_target_encoding",
    oracle=f"""
    WITH base AS (
      SELECT c.c_custkey, c.c_mktsegment AS seg,
             ('0x' || substr(md5('fold:' || c.c_custkey), 1, 8))::BIGINT
               % {_TE_FOLDS} AS fold,
             CAST(coalesce(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)),
                           0) AS BIGINT) AS spend
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2, 3
    ),
    cell AS (
      SELECT seg, fold, CAST(count(*) AS BIGINT) AS n_cf,
             CAST(sum(spend) AS BIGINT) AS s_cf
      FROM base GROUP BY 1, 2
    ),
    seg_tot AS (
      SELECT seg, CAST(sum(n_cf) AS BIGINT) AS n_c,
             CAST(sum(s_cf) AS BIGINT) AS s_c
      FROM cell GROUP BY 1
    ),
    gtot AS (
      SELECT CAST(sum(n_cf) AS BIGINT) AS n_g,
             CAST(sum(s_cf) AS BIGINT) AS s_g
      FROM cell
    )
    SELECT c.seg, CAST(c.fold AS INTEGER) AS fold,
           c.n_cf AS n_in_fold,
           CAST(t.n_c - c.n_cf AS BIGINT) AS n_out_of_fold,
           round(((t.s_c - c.s_cf) * 1.0
                  + {_TE_ALPHA} * (CAST(g.s_g AS DOUBLE) / g.n_g))
                 / ((t.n_c - c.n_cf) + {_TE_ALPHA}), 6) AS encoding
    FROM cell c
    JOIN seg_tot t ON t.seg = c.seg
    CROSS JOIN gtot g
    """,
)
def q248_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free target encoding of customer market segment: each
    (segment, fold) cell's encoding is the mean customer spend of
    the SAME segment EXCLUDING that fold, blended toward the global
    mean with alpha=10 prior smoothing — the K-fold out-of-fold
    construction that keeps a categorical feature from memorizing
    its own target (the standard high-cardinality-categorical recipe
    for GBDT/linear feature pipelines). md5-deterministic folds, so
    train-time and serve-time encodings reproduce exactly.

    Determinism: the out-of-fold mean is a difference of exact
    BIGINT cell sums divided once; the global prior is one exact
    ratio; rounded once at the end.

    Scale shape: one customer-keyed aggregate over the orders join,
    then |segments| x K cells carry everything — the per-cell
    leave-fold-out arithmetic is pure subtraction on the cell
    relation (no per-fold re-aggregation of the corpus, the trap a
    naive K-pass implementation falls into: K corpus scans instead
    of 1)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    base = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(
            c.c_custkey,
            F.col("c_mktsegment").alias("seg"),
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit("fold:"), c.c_custkey.cast("string"))),
                        1, 8,
                    ), 16, 10,
                ).cast("long") % _TE_FOLDS
            ).alias("fold"),
        )
        .agg(
            F.coalesce(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")),
                F.lit(0),
            ).cast("bigint").alias("spend")
        )
    )
    cell = base.groupBy("seg", "fold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cf"),
        F.sum("spend").cast("bigint").alias("s_cf"),
    )
    seg_tot = cell.groupBy("seg").agg(
        F.sum("n_cf").cast("bigint").alias("n_c"),
        F.sum("s_cf").cast("bigint").alias("s_c"),
    )
    glob = cell.agg(
        F.sum("n_cf").cast("bigint").alias("n_g"),
        F.sum("s_cf").cast("bigint").alias("s_g"),
    )
    return (
        cell.join(F.broadcast(seg_tot), "seg")
        .crossJoin(F.broadcast(glob))
        .select(
            "seg",
            F.col("fold").cast("int").alias("fold"),
            F.col("n_cf").alias("n_in_fold"),
            (F.col("n_c") - F.col("n_cf")).cast("bigint").alias("n_out_of_fold"),
            F.round(
                (
                    (F.col("s_c") - F.col("s_cf")) * 1.0
                    + _TE_ALPHA * (F.col("s_g").cast("double") / F.col("n_g"))
                )
                / ((F.col("n_c") - F.col("n_cf")) + _TE_ALPHA),
                6,
            ).alias("encoding"),
        )
    )


# ---------------------------------------------------------------------------
# q249 — model AUC via exact midrank Mann-Whitney arithmetic
# ---------------------------------------------------------------------------

# same train/test time split as q238's calibration audit
# (plans/selection._CAL_SPLIT) so the two halves of model evaluation
# read the same model
_CAL_SPLIT = "1999-01-01"


@register(
    "q249_model_auc",
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
      SELECT m.p_hat_micro AS score, li.ret
      FROM li JOIN model m ON m.band = li.band
      WHERE li.is_train = 0
    ),
    per_score AS (
      SELECT score, CAST(count(*) AS BIGINT) AS c,
             CAST(sum(ret) AS BIGINT) AS pos
      FROM test GROUP BY score
    ),
    ranked AS (
      SELECT score, c, pos,
             CAST(coalesce(sum(c) OVER (ORDER BY score
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS cum
      FROM per_score
    ),
    agg AS (
      SELECT CAST(sum(pos) AS BIGINT) AS n1,
             CAST(sum(c - pos) AS BIGINT) AS n0,
             CAST(sum(pos * (2 * cum + c + 1)) AS BIGINT) AS two_ranksum
      FROM ranked
    )
    SELECT n1 AS n_pos, n0 AS n_neg,
           round((two_ranksum - n1 * (n1 + 1)) * 1.0 / (2 * n1 * n0), 6)
             AS auc,
           round((two_ranksum - n1 * (n1 + 1)) * 1.0 / (n1 * n0) - 1.0, 6)
             AS gini
    FROM agg
    """,
)
def q249_model_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-time AUC of the q238 discount-band return model — the
    DISCRIMINATION half of model evaluation beside q238's
    calibration half. AUC is computed as the midrank Mann-Whitney
    statistic in EXACT integers: grouping test rows by distinct
    score, the doubled positive rank-sum is
    sum(pos * (2*cum_below + c + 1)) — a BIGINT — so heavy ties
    (11 distinct band scores) are handled by construction and no
    float rank ever exists; the one division happens at the end.
    Gini = 2*AUC - 1 rides the same integers.

    Scale shape: one fact-join scan into the |bands|-row model
    (broadcast), one aggregate to |distinct scores| rows, and the
    rank arithmetic runs on THAT relation — the standard trick that
    makes AUC computable on 100 TB without a global sort of
    individual rows."""
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
            .alias("score")
        )
    )
    test = li.where(F.col("is_train") == 0).join(F.broadcast(model), "band")
    per_score = test.groupBy("score").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum("ret").cast("bigint").alias("pos"),
    )
    wq = W.orderBy("score").rowsBetween(W.unboundedPreceding, -1)
    ranked = per_score.select(
        "score", "c", "pos",
        F.coalesce(F.sum("c").over(wq), F.lit(0)).cast("bigint").alias("cum"),
    )
    agg = ranked.agg(
        F.sum("pos").cast("bigint").alias("n1"),
        F.sum(F.col("c") - F.col("pos")).cast("bigint").alias("n0"),
        F.sum(F.col("pos") * (2 * F.col("cum") + F.col("c") + 1))
        .cast("bigint")
        .alias("two_ranksum"),
    )
    return agg.select(
        F.col("n1").alias("n_pos"),
        F.col("n0").alias("n_neg"),
        F.round(
            (F.col("two_ranksum") - F.col("n1") * (F.col("n1") + 1)) * 1.0
            / (2 * F.col("n1") * F.col("n0")),
            6,
        ).alias("auc"),
        F.round(
            (F.col("two_ranksum") - F.col("n1") * (F.col("n1") + 1)) * 1.0
            / (F.col("n1") * F.col("n0"))
            - 1.0,
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# q250 — learning curve: model quality vs training-data fraction
# ---------------------------------------------------------------------------

_LC_FRACTIONS = [1, 2, 5, 10, 25, 50, 100]  # percent


@register(
    "q250_learning_curve",
    oracle=f"""
    WITH li AS (
      SELECT l.l_orderkey, l.l_linenumber,
             CAST(round(l.l_discount * 100) AS INTEGER) AS band,
             CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS ret,
             CASE WHEN o.o_orderdate < DATE '{_CAL_SPLIT}' THEN 1 ELSE 0 END
               AS is_train,
             ('0x' || substr(md5('lc:' || l.l_orderkey || ':'
                                  || l.l_linenumber), 1, 8))::BIGINT
               % 1000000 AS tick
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    fr AS (SELECT CAST(t.f AS INTEGER) AS pct
           FROM UNNEST([{", ".join(str(f) for f in _LC_FRACTIONS)}]) t(f)),
    models AS (
      SELECT fr.pct, li.band,
             CAST(count(*) AS BIGINT) AS n_train,
             CAST(round(sum(li.ret) * 1000000.0 / count(*)) AS BIGINT)
               AS p_hat_micro
      FROM li CROSS JOIN fr
      WHERE li.is_train = 1 AND li.tick < fr.pct * 10000
      GROUP BY 1, 2
    ),
    test AS (SELECT band, ret FROM li WHERE is_train = 0),
    scored AS (
      SELECT m.pct, m.p_hat_micro, t.ret
      FROM test t JOIN models m ON m.band = t.band
    ),
    agg AS (
      SELECT pct,
             CAST(count(*) AS BIGINT) AS n_scored,
             CAST(sum((p_hat_micro - ret * 1000000)
                      * (p_hat_micro - ret * 1000000))
                  AS DECIMAL(38,0)) AS sq_micro
      FROM scored GROUP BY pct
    ),
    tr AS (
      SELECT pct, CAST(sum(n_train) AS BIGINT) AS n_train_rows
      FROM models GROUP BY pct
    )
    SELECT a.pct,
           t.n_train_rows,
           a.n_scored,
           round(CAST(a.sq_micro AS DOUBLE) / a.n_scored
                 / 1000000.0 / 1000000.0, 6) AS brier
    FROM agg a JOIN tr t ON t.pct = a.pct
    """,
)
def q250_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learning curve of the discount-band return model: refit on
    md5-deterministic 1/2/5/10/25/50/100% subsets of the training
    period, score the SAME held-out period, and report the Brier
    score per fraction — THE budget question a training-data
    pipeline answers before paying for more data ("does quality
    still improve at 2x the corpus?"). Subsets are nested by
    construction (tick < threshold), exactly how a curation run
    scales down.

    Determinism: subset membership is an md5 tick threshold; each
    model cell is an exact integer micro-rate; the Brier numerator
    is an exact integer sum of squared micro-residuals (DECIMAL —
    1e12 per row overflows BIGINT at fact scale), divided once.

    Scale shape: the 7x fan-out happens AFTER the row is reduced to
    (band, ret, tick) — and collapses immediately into |fractions| x
    |bands| model cells map-side; test rows join the broadcast model
    grid once. One corpus scan total, not one per fraction — the
    trap a naive per-fraction loop falls into."""
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
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit("lc:"),
                                F.col("l_orderkey").cast("string"),
                                F.lit(":"),
                                F.col("l_linenumber").cast("string"),
                            )
                        ),
                        1, 8,
                    ), 16, 10,
                ).cast("long") % 1000000
            ).alias("tick"),
        )
    )
    # li feeds the per-fraction models AND the test scoring — persist
    # the reduced 4-column projection so the fact join runs once
    from pyspark import StorageLevel

    li = li.persist(StorageLevel.MEMORY_AND_DISK)
    fr = spark.createDataFrame(
        [(f,) for f in _LC_FRACTIONS], "pct int"
    )
    models = (
        li.where(F.col("is_train") == 1)
        .crossJoin(F.broadcast(fr))
        .where(F.col("tick") < F.col("pct") * 10000)
        .groupBy("pct", "band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_train"),
            F.round(F.sum("ret") * 1000000.0 / F.count(F.lit(1)))
            .cast("bigint")
            .alias("p_hat_micro"),
        )
    )
    test = li.where(F.col("is_train") == 0).select("band", "ret")
    scored = test.join(
        F.broadcast(models.select("pct", "band", "p_hat_micro")), "band"
    )
    resid = F.col("p_hat_micro") - F.col("ret") * 1000000
    agg = scored.groupBy("pct").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_scored"),
        F.sum((resid * resid).cast("decimal(38,0)")).alias("sq_micro"),
    )
    tr = models.groupBy("pct").agg(
        F.sum("n_train").cast("bigint").alias("n_train_rows")
    )
    return agg.join(F.broadcast(tr), "pct").select(
        "pct",
        "n_train_rows",
        "n_scored",
        F.round(
            F.col("sq_micro").cast("double")
            / F.col("n_scored")
            / 1000000.0
            / 1000000.0,
            6,
        ).alias("brier"),
    )


# ---------------------------------------------------------------------------
# q251 — Pareto frontier (skyline) of suppliers on cost vs latency
# ---------------------------------------------------------------------------

@register(
    "q251_pareto_frontier",
    oracle="""
    WITH sup AS (
      SELECT l.l_suppkey,
             CAST(round(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                        * 1.0 / sum(CAST(l.l_quantity AS BIGINT)))
                  AS BIGINT) AS unit_cost_micro,
             CAST(round(avg(date_diff('day', o.o_orderdate, l.l_shipdate))
                        * 1000000) AS BIGINT) AS latency_micro
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY 1
    )
    SELECT CAST(s.l_suppkey AS BIGINT) AS s_suppkey,
           s.unit_cost_micro, s.latency_micro
    FROM sup s
    WHERE NOT EXISTS (
      SELECT 1 FROM sup t
      WHERE t.unit_cost_micro <= s.unit_cost_micro
        AND t.latency_micro <= s.latency_micro
        AND (t.unit_cost_micro < s.unit_cost_micro
             OR t.latency_micro < s.latency_micro)
    )
    """,
)
def q251_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline) of suppliers on (unit cost, average
    ship latency) — keep every supplier no other supplier strictly
    dominates on both axes: the model-selection / vendor-selection
    primitive ("which options are worth considering at ANY
    cost-quality tradeoff"). Both metrics are exact integer micros
    (cents-per-unit and day-micros), so domination is integer
    comparison with no float boundary.

    Scale shape: the frontier runs on the AGGREGATED supplier
    relation (dim-sized), where the literal pairwise NOT-EXISTS —
    expressed as a broadcast anti-join — is |suppliers|^2 on a tiny
    input and mirrors the oracle exactly. The corpus contributes one
    map-side-combinable aggregate. (For a frontier over a
    corpus-sized relation, the sort + running-min formulation
    replaces the quadratic: order by cost, keep rows setting a new
    latency minimum.)"""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    sup = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
                * 1.0
                / F.sum(F.col("l_quantity").cast("bigint"))
            ).cast("bigint").alias("unit_cost_micro"),
            F.round(
                F.avg(F.datediff(F.col("l_shipdate"), F.col("o_orderdate")))
                * 1000000
            ).cast("bigint").alias("latency_micro"),
        )
    )
    dom = sup.select(
        F.col("unit_cost_micro").alias("tc"),
        F.col("latency_micro").alias("tl"),
    )
    frontier = sup.join(
        F.broadcast(dom),
        (F.col("tc") <= F.col("unit_cost_micro"))
        & (F.col("tl") <= F.col("latency_micro"))
        & (
            (F.col("tc") < F.col("unit_cost_micro"))
            | (F.col("tl") < F.col("latency_micro"))
        ),
        "left_anti",
    )
    return frontier.select(
        F.col("l_suppkey").cast("bigint").alias("s_suppkey"),
        "unit_cost_micro",
        "latency_micro",
    )


# ---------------------------------------------------------------------------
# q252 — CDC apply: ordered insert/update/delete log to final state
# ---------------------------------------------------------------------------

@register(
    "q252_cdc_apply",
    oracle="""
    WITH ops AS (
      SELECT o_orderkey AS k, o_orderdate AS ts, 1 AS seq, 'I' AS op,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
      UNION ALL
      SELECT o_orderkey, o_orderdate + INTERVAL 10 DAY, 2, 'U',
             CAST(round(o_totalprice * 110) AS BIGINT)
      FROM orders
      WHERE ('0x' || substr(md5('cdc_u:' || o_orderkey), 1, 8))::BIGINT
              % 100 < 30
      UNION ALL
      SELECT o_orderkey, o_orderdate + INTERVAL 20 DAY, 3, 'D',
             CAST(0 AS BIGINT)
      FROM orders
      WHERE ('0x' || substr(md5('cdc_d:' || o_orderkey), 1, 8))::BIGINT
              % 100 < 10
    ),
    last AS (
      SELECT k, op, cents FROM (
        SELECT k, op, cents,
               row_number() OVER (PARTITION BY k
                                  ORDER BY ts DESC, seq DESC) AS rn
        FROM ops
      ) WHERE rn = 1
    )
    SELECT CAST(sum(CASE WHEN op <> 'D' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_live,
           CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_deleted,
           CAST(sum(CASE WHEN op = 'U' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_updated_live,
           CAST(sum(CASE WHEN op <> 'D' THEN cents ELSE 0 END) AS BIGINT)
             AS live_cents
    FROM last
    """,
)
def q252_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CDC apply — the missing third of the mutation family
    beside SCD2 history (q108) and keyed upsert (fl_merge_upsert): an
    ordered insert/update/delete log (synthesized md5-
    deterministically from orders: every key inserts, ~30% later
    update with +10% price, ~10% later delete) collapses to final
    state by last-writer-wins per key on (ts, seq), with deletes
    REMOVING the row rather than writing a tombstone value. Reports
    the live/deleted/updated census and surviving revenue.

    Determinism: op membership is md5-ticked; ordering is total
    ((ts, seq) with seq breaking same-timestamp ties the way a CDC
    source's log-sequence-number does); money is integer cents.

    Scale shape: ONE window over the ops log keyed by the primary
    key — the same single-shuffle shape Delta/Iceberg MERGE
    executes; no join against the previous snapshot is needed when
    the log carries full rows (vs fl_merge_upsert's snapshot+delta
    join). At 100 TB the log is partitioned by ingest date and the
    window runs per key within AQE-coalesced partitions."""
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")

    def tick(tag):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(tag), F.col("o_orderkey").cast("string"))),
                    1, 8,
                ), 16, 10,
            ).cast("long") % 100
        )

    ins = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderdate").alias("ts"),
        F.lit(1).alias("seq"),
        F.lit("I").alias("op"),
        cents.alias("cents"),
    )
    upd = o.where(tick("cdc_u:") < 30).select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_orderdate") + F.expr("INTERVAL 10 DAY")).alias("ts"),
        F.lit(2).alias("seq"),
        F.lit("U").alias("op"),
        F.round(F.col("o_totalprice") * 110).cast("bigint").alias("cents"),
    )
    dels = o.where(tick("cdc_d:") < 10).select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_orderdate") + F.expr("INTERVAL 20 DAY")).alias("ts"),
        F.lit(3).alias("seq"),
        F.lit("D").alias("op"),
        F.lit(0).cast("bigint").alias("cents"),
    )
    ops = ins.unionAll(upd).unionAll(dels)
    wk = W.partitionBy("k").orderBy(F.col("ts").desc(), F.col("seq").desc())
    last = (
        ops.withColumn("rn", F.row_number().over(wk))
        .where(F.col("rn") == 1)
        .select("k", "op", "cents")
    )
    return last.agg(
        F.sum(F.when(F.col("op") != "D", 1).otherwise(0))
        .cast("bigint").alias("n_live"),
        F.sum(F.when(F.col("op") == "D", 1).otherwise(0))
        .cast("bigint").alias("n_deleted"),
        F.sum(F.when(F.col("op") == "U", 1).otherwise(0))
        .cast("bigint").alias("n_updated_live"),
        F.sum(F.when(F.col("op") != "D", F.col("cents")).otherwise(0))
        .cast("bigint").alias("live_cents"),
    )


# ---------------------------------------------------------------------------
# q258 — Benford first-digit audit on order amounts
# ---------------------------------------------------------------------------

_BENFORD_P = [
    0.3010299956639812, 0.17609125905568124, 0.12493873660829992,
    0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
    0.05799194697768673, 0.05115252244738129, 0.04575749056067514,
]


@register(
    "q258_benford_audit",
    oracle=f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS INTEGER) AS d
      FROM orders
      WHERE o_totalprice > 0
    ),
    expected(d, p) AS (VALUES {", ".join(f"({d + 1}, CAST({p!r} AS DOUBLE))" for d, p in enumerate(_BENFORD_P))}),
    obs AS (
      SELECT d, CAST(count(*) AS BIGINT) AS n_obs FROM digits GROUP BY d
    ),
    tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM obs)
    SELECT e.d AS first_digit,
           CAST(coalesce(o.n_obs, 0) AS BIGINT) AS n_obs,
           round(coalesce(o.n_obs, 0) * 1.0 / t.n, 6) AS obs_share,
           round(e.p, 6) AS benford_share,
           round((coalesce(o.n_obs, 0) - t.n * e.p)
                 * (coalesce(o.n_obs, 0) - t.n * e.p)
                 / (t.n * e.p), 6) AS chi2_contrib
    FROM expected e
    LEFT JOIN obs o ON o.d = e.d
    CROSS JOIN tot t
    """,
)
def q258_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order amounts — the
    classic anomaly/fraud screen: naturally-occurring multiplicative
    amounts put digit d first with probability log10(1 + 1/d), and a
    fabricated or range-capped amount column deviates measurably.
    Per digit: observed share vs the Benford share and the chi-
    square contribution (summing `chi2_contrib` IS the test
    statistic against 8 degrees of freedom). On THIS synthetic
    uniform-ish price column the audit correctly reports a large
    deviation — the point is the measurement, not a pass.

    Determinism: digits come from the integer-cents string; Benford
    shares are shared literal doubles; contributions divide exact
    integer counts by (n * p) identically on both engines.

    Scale shape: one scan to a 9-row digit histogram (map-side
    combine); everything after is on 9 rows."""
    o = _t(spark, sf_dir, "orders")
    digits = (
        o.where(F.col("o_totalprice") > 0)
        .select(
            F.substring(
                F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"),
                1, 1,
            ).cast("int").alias("d")
        )
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_obs"))
    )
    expected = spark.createDataFrame(
        [(d + 1, p) for d, p in enumerate(_BENFORD_P)], "d int, p double"
    )
    tot = digits.agg(F.sum("n_obs").cast("bigint").alias("n"))
    dev = (F.coalesce(F.col("n_obs"), F.lit(0)) - F.col("n") * F.col("p"))
    return (
        F.broadcast(expected)
        .join(digits, "d", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("d").alias("first_digit"),
            F.coalesce(F.col("n_obs"), F.lit(0)).cast("bigint").alias("n_obs"),
            F.round(
                F.coalesce(F.col("n_obs"), F.lit(0)) * 1.0 / F.col("n"), 6
            ).alias("obs_share"),
            F.round(F.col("p"), 6).alias("benford_share"),
            F.round(dev * dev / (F.col("n") * F.col("p")), 6).alias(
                "chi2_contrib"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q259 — Simpson's paradox detector on the discount -> return relationship
# ---------------------------------------------------------------------------

@register(
    "q259_simpson_audit",
    oracle="""
    WITH rows_j AS (
      SELECT n.n_name AS seg,
             CAST(round(l.l_discount * 100) AS BIGINT) AS x,
             CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    stats AS (
      SELECT seg, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM rows_j GROUP BY seg
      UNION ALL
      SELECT '__pooled__', CAST(count(*) AS BIGINT),
             CAST(sum(x) AS BIGINT), CAST(sum(y) AS BIGINT),
             CAST(sum(x * x) AS BIGINT), CAST(sum(x * y) AS BIGINT)
      FROM rows_j
    )
    SELECT seg, n,
           round((sxy * 1.0 - CAST(sx AS DOUBLE) * sy / n)
                 / (sxx * 1.0 - CAST(sx AS DOUBLE) * sx / n), 6) AS slope,
           CASE WHEN (sxy * 1.0 - CAST(sx AS DOUBLE) * sy / n) > 0
                THEN 1 ELSE -1 END AS slope_sign
    FROM stats
    """,
)
def q259_simpson_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox detector: the OLS slope of return-rate on
    discount, pooled AND within every customer nation — when
    per-segment signs disagree with the pooled sign, the pooled
    number is a composition artifact and any discount policy read
    off it is wrong. The aggregation-can-lie audit that belongs
    next to every pooled metric in the catalog (q144's lift, q238's
    bands).

    Determinism: slopes are ratios of exact BIGINT sufficient
    statistics (x is integer discount-percent, y is 0/1), divided
    once and rounded; the sign column avoids asserting on a
    near-zero rounded slope.

    Scale shape: one fact scan with broadcast dims to
    |segments|+1 sufficient-statistic rows; slopes are computed on
    that relation. The same shape extends to any (metric, driver,
    segment) triple."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    base = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("seg"),
            F.round(F.col("l_discount") * 100).cast("bigint").alias("x"),
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
        )
    )
    from pyspark import StorageLevel

    base = base.persist(StorageLevel.MEMORY_AND_DISK)

    def stats(df, seg_expr):
        return df.groupBy(seg_expr.alias("seg")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("x").cast("bigint").alias("sx"),
            F.sum("y").cast("bigint").alias("sy"),
            F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
            F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        )

    st = stats(base, F.col("seg")).unionAll(
        stats(base, F.lit("__pooled__"))
    )
    num = F.col("sxy") * 1.0 - F.col("sx").cast("double") * F.col("sy") / F.col("n")
    den = F.col("sxx") * 1.0 - F.col("sx").cast("double") * F.col("sx") / F.col("n")
    return st.select(
        "seg",
        "n",
        F.round(num / den, 6).alias("slope"),
        F.when(num > 0, 1).otherwise(-1).alias("slope_sign"),
    )


# ---------------------------------------------------------------------------
# q260 — revenue deciles via range-partitioned global rank
# ---------------------------------------------------------------------------

@register(
    "q260_revenue_deciles_ranged",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents DESC, o_custkey) AS rn,
             count(*) OVER () AS n
      FROM spend
    ),
    dec AS (
      SELECT CAST(floor((rn - 1) * 10.0 / n) AS INTEGER) + 1 AS decile,
             cents
      FROM ranked
    ),
    g AS (
      SELECT decile, count(*) AS n_customers, sum(cents) AS cents
      FROM dec GROUP BY decile
    )
    SELECT CAST(decile AS INTEGER) AS decile,
           CAST(n_customers AS BIGINT) AS n_customers,
           CAST(cents AS BIGINT) AS revenue_cents,
           round(cents * 1.0 / sum(cents) OVER (), 6) AS revenue_share,
           round(sum(cents) OVER (ORDER BY decile)
                 * 1.0 / sum(cents) OVER (), 6) AS cume_share,
           round(cents * 10.0 / sum(cents) OVER (), 6) AS lift
    FROM g
    """,
)
def q260_revenue_deciles_ranged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q218's decile lift table computed through the RANGE-PARTITIONED
    global rank (operators/ranking.global_row_number) instead of a
    single-partition Window.orderBy — the scale escape hatch q218's
    and q206's docstrings promise for extreme customer counts, here
    exercised end-to-end against the identical oracle (the two
    queries must agree row-for-row; the DuckDB SQL is byte-identical
    to q218's).

    Scale shape: the per-customer spend aggregate is map-side
    combinable; the rank is two-phase (range shuffle + per-partition
    local index + a #partitions-row offset broadcast — no task ever
    sees more than rows/partitions rows); N comes from a 1-row
    broadcast instead of q218's all-rows count window. Deciles and
    shares then run on 10 rows."""
    from citybikedatawarehouse_spark.operators.ranking import (
        global_row_number,
    )

    o = _t(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("bigint")
        ).alias("cents")
    )
    ranked = global_row_number(
        spend, [F.desc("cents"), F.asc("o_custkey")], out_col="rn"
    )
    n1 = spend.agg(F.count(F.lit(1)).alias("n"))
    dec = ranked.crossJoin(F.broadcast(n1)).select(
        (
            F.floor((F.col("rn") - 1) * 10.0 / F.col("n")).cast("int") + 1
        ).alias("decile"),
        "cents",
    )
    g = dec.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").alias("cents"),
    )
    wall = W.partitionBy()
    wcum = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    return g.select(
        F.col("decile").cast("int").alias("decile"),
        F.col("n_customers").cast("bigint").alias("n_customers"),
        F.col("cents").cast("bigint").alias("revenue_cents"),
        F.round(
            F.col("cents") * F.lit(1.0) / F.sum("cents").over(wall), 6
        ).alias("revenue_share"),
        F.round(
            F.sum("cents").over(wcum)
            * F.lit(1.0)
            / F.sum("cents").over(wall),
            6,
        ).alias("cume_share"),
        F.round(
            F.col("cents") * F.lit(10.0) / F.sum("cents").over(wall), 6
        ).alias("lift"),
    )


# ---------------------------------------------------------------------------
# q261 — mergeable histogram-sketch quantiles (two significant digits)
# ---------------------------------------------------------------------------

_HQ_QUANTILES = [("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)]


def _hq_bin_lo(v):
    """Two-significant-digit histogram bin lower bound: keep the
    first 2 decimal digits of the positive integer and zero the
    rest (rpad of the 2-char prefix back to the original length) —
    a pure string operation both engines share, no log/pow floats.
    Bin width is < 10% of the value, so any quantile estimated as
    its bin's lower bound is within 10% relative error by
    construction."""
    s = v.cast("string")
    return F.rpad(F.substring(s, 1, 2), F.length(s), "0").cast("long")


@register(
    "q261_histogram_quantiles",
    oracle=f"""
    WITH census AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
             CAST(count(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY 1
    ),
    bins AS (
      SELECT CAST(rpad(substr(CAST(v AS VARCHAR), 1, 2),
                       CAST(length(CAST(v AS VARCHAR)) AS INTEGER),
                       '0') AS BIGINT) AS lo,
             sum(cnt) AS cnt
      FROM census GROUP BY 1
    ),
    n AS (SELECT sum(cnt) AS n, count(*) AS n_distinct FROM census),
    bins_cum AS (
      SELECT lo, sum(cnt) OVER (ORDER BY lo) AS cum FROM bins
    ),
    census_cum AS (
      SELECT v, sum(cnt) OVER (ORDER BY v) AS cum FROM census
    ),
    est AS (
      SELECT {", ".join(
        f"min(CASE WHEN b.cum * {den} >= n.n * {num} THEN b.lo END)"
        f" AS est_{lab}" for lab, num, den in _HQ_QUANTILES)}
      FROM bins_cum b CROSS JOIN n
    ),
    exact AS (
      SELECT {", ".join(
        f"min(CASE WHEN c.cum * {den} >= n.n * {num} THEN c.v END)"
        f" AS exact_{lab}" for lab, num, den in _HQ_QUANTILES)}
      FROM census_cum c CROSS JOIN n
    )
    SELECT CAST(n.n AS BIGINT) AS n_values,
           CAST(n.n_distinct AS BIGINT) AS n_distinct,
           CAST((SELECT count(*) FROM bins) AS BIGINT) AS n_bins,
           {", ".join(
             f"CAST(est_{lab} AS BIGINT) AS est_{lab}, "
             f"CAST(exact_{lab} AS BIGINT) AS exact_{lab}, "
             f"round((exact_{lab} - est_{lab}) * 1.0 / exact_{lab}, 6)"
             f" AS err_{lab}" for lab, _, _ in _HQ_QUANTILES)}
    FROM n CROSS JOIN est CROSS JOIN exact
    """,
)
def q261_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-histogram quantile sketch — the QUANTILE member of
    the sketch quartet beside count-min (q243, frequency), HLL
    (q244, cardinality) and Bloom (q245, membership): bucket every
    lineitem price (integer cents) by its two-significant-digit bin
    (`_hq_bin_lo` — bin width < 10% of the value, the HDR-histogram
    idea in decimal), estimate p50/p90/p99 as the first bin whose
    cumulative count reaches ceil(q*N), and audit each estimate
    against the exact discrete quantile from the full value census.
    All rank arithmetic is integer (cum*den >= N*num == cum >=
    ceil(N*num/den)), so no float tie can flip a bin cross-engine,
    and `est <= exact < est*1.1` is a structural law the test
    asserts.

    Scale shape: the sketch is a SUM-monoid of (bin, count) pairs —
    at most ~90 bins per decimal magnitude regardless of row count,
    so per-epoch slices merge losslessly (streaming twin
    `streaming/incremental.hist_epoch_step`) and a 100 TB scan
    carries a few-hundred-counter map-side combine, the reason to
    keep this beside the stream instead of sorting. One corpus scan
    builds the value census; the census (distinct cents, orders of
    magnitude smaller than the corpus) is persisted and feeds both
    the sketch and the exact-audit leg; the cumulative windows run
    on census/bin cells, not corpus rows (q242's documented shape —
    at extreme distinct-value counts the exact leg is the piece
    you'd drop, keeping only the bounded sketch)."""
    from pyspark import StorageLevel

    l = _t(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("v")
    )
    census = (
        l.groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    bins = census.groupBy(_hq_bin_lo(F.col("v")).alias("lo")).agg(
        F.sum("cnt").alias("cnt")
    )
    n1 = census.agg(
        F.sum("cnt").alias("n"), F.count(F.lit(1)).alias("n_distinct")
    )
    wb = W.orderBy("lo").rowsBetween(W.unboundedPreceding, 0)
    wc = W.orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    bins_cum = bins.select("lo", F.sum("cnt").over(wb).alias("cum"))
    census_cum = census.select("v", F.sum("cnt").over(wc).alias("cum"))
    est = bins_cum.crossJoin(F.broadcast(n1)).agg(
        *[
            F.min(
                F.when(
                    F.col("cum") * den >= F.col("n") * num, F.col("lo")
                )
            ).alias(f"est_{lab}")
            for lab, num, den in _HQ_QUANTILES
        ]
    )
    exact = census_cum.crossJoin(F.broadcast(n1)).agg(
        *[
            F.min(
                F.when(F.col("cum") * den >= F.col("n") * num, F.col("v"))
            ).alias(f"exact_{lab}")
            for lab, num, den in _HQ_QUANTILES
        ]
    )
    n_bins = bins.agg(F.count(F.lit(1)).alias("n_bins"))
    out_cols = [
        F.col("n").cast("bigint").alias("n_values"),
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
        F.col("n_bins").cast("bigint").alias("n_bins"),
    ]
    for lab, _, _ in _HQ_QUANTILES:
        out_cols += [
            F.col(f"est_{lab}").cast("bigint").alias(f"est_{lab}"),
            F.col(f"exact_{lab}").cast("bigint").alias(f"exact_{lab}"),
            F.round(
                (F.col(f"exact_{lab}") - F.col(f"est_{lab}"))
                * F.lit(1.0)
                / F.col(f"exact_{lab}"),
                6,
            ).alias(f"err_{lab}"),
        ]
    return (
        n1.crossJoin(F.broadcast(n_bins))
        .crossJoin(F.broadcast(est))
        .crossJoin(F.broadcast(exact))
        .select(*out_cols)
    )


# ---------------------------------------------------------------------------
# q265 — per-group HLL distinct (mergeable sketch GROUP BY)
# ---------------------------------------------------------------------------


def _grouped_hll_oracle() -> str:
    from citybikedatawarehouse_spark.functions.keys import (
        HLL_RHO_MAX,
        hll_parts_sql,
    )

    parts = hll_parts_sql("o_custkey")
    return f"""
    WITH months AS (
      SELECT DISTINCT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month
      FROM orders
    ),
    regs AS (
      SELECT month, bucket, max(rho) AS reg FROM (
        SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
               {parts}
        FROM orders
      ) GROUP BY 1, 2
    ),
    grid AS (
      SELECT m.month, b.bucket, coalesce(r.reg, 0) AS reg
      FROM months m
      CROSS JOIN (SELECT CAST(t.b AS INTEGER) AS bucket
                  FROM UNNEST(range(0, 256)) t(b)) b
      LEFT JOIN regs r ON r.month = m.month AND r.bucket = b.bucket
    ),
    stats AS (
      SELECT month,
             CAST(sum(CAST(1::BIGINT << ({HLL_RHO_MAX} - reg)
                           AS DECIMAL(20,0))) AS DECIMAL(38,0)) AS sum_scaled,
             CAST(sum(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zeros
      FROM grid GROUP BY 1
    ),
    est AS (
      SELECT month,
             CAST(round(CASE WHEN raw <= 640.0 AND zeros > 0
                             THEN 256.0 * ln(256.0 / zeros)
                             ELSE raw END) AS BIGINT) AS hll_estimate
      FROM (
        SELECT month,
               CAST({_HLL_ALPHA} AS DOUBLE) * 256.0 * 256.0
                 * CAST(1::BIGINT << {HLL_RHO_MAX} AS DOUBLE)
                 / CAST(sum_scaled AS DOUBLE) AS raw,
               zeros
        FROM stats
      )
    ),
    exact AS (
      SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
             CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_distinct
      FROM orders GROUP BY 1
    )
    SELECT e.month, x.exact_distinct, e.hll_estimate,
           round((e.hll_estimate - x.exact_distinct) * 1.0
                 / x.exact_distinct, 6) AS rel_error
    FROM est e JOIN exact x ON x.month = e.month
    """


@register("q265_grouped_hll_distinct", oracle=_grouped_hll_oracle())
def q265_grouped_hll_distinct(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-GROUP HLL distinct count — monthly distinct customers from
    mergeable 256-register sketches, audited per group against the
    exact COUNT(DISTINCT). q244 proved the sketch globally; THIS is
    the shape a 100 TB pipeline actually stores: one register set
    per (group, partition/day), MAX-merged at query time, so "daily
    distinct users over any date range" needs no re-scan and no
    exact per-group distinct (whose hash table is O(group
    cardinality) per group). The sf-scale monthly groups all sit in
    the small-range regime, so every group exercises the
    linear-counting branch — the correction path q244 could only
    probe with one entity.

    Scale shape: ONE map-side-combinable aggregate (group, bucket)
    -> max(rho) collapses any cardinality to 256 rows per group;
    the register grid, estimates, and the exact audit all run on
    |groups|-sized relations. Same exact-integer harmonic sum as
    q244 (DECIMAL sum of 2^(57-reg)) so both engines agree to the
    last bit."""
    from citybikedatawarehouse_spark.functions.keys import (
        HLL_RHO_MAX,
        hll_parts,
    )

    o = _t(spark, sf_dir, "orders")
    month = F.date_format(F.to_date("o_orderdate"), "yyyy-MM")
    bucket, rho = hll_parts("o_custkey")
    regs = (
        o.select(month.alias("month"), bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("month", "bucket")
        .agg(F.max("rho").alias("reg"))
    )
    months = o.select(month.alias("month")).distinct()
    all_b = spark.range(256).select(F.col("id").cast("int").alias("bucket"))
    grid = (
        months.crossJoin(F.broadcast(all_b))
        .join(regs, ["month", "bucket"], "left")
        .select("month", F.coalesce(F.col("reg"), F.lit(0)).alias("reg"))
    )
    stats = grid.groupBy("month").agg(
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_RHO_MAX} - reg)").cast(
                "decimal(20,0)"
            )
        ).alias("sum_scaled"),
        F.sum(F.when(F.col("reg") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("zeros"),
    )
    raw = (
        F.lit(_HLL_ALPHA)
        * 256.0
        * 256.0
        * F.lit(float(1 << HLL_RHO_MAX))
        / F.col("sum_scaled").cast("double")
    )
    est = stats.select(
        "month",
        F.round(
            F.when(
                (raw <= 640.0) & (F.col("zeros") > 0),
                F.lit(256.0) * F.log(F.lit(256.0) / F.col("zeros")),
            ).otherwise(raw)
        )
        .cast("bigint")
        .alias("hll_estimate"),
    )
    exact = o.groupBy(month.alias("month")).agg(
        F.countDistinct("o_custkey").cast("bigint").alias("exact_distinct")
    )
    return est.join(exact, "month").select(
        "month",
        "exact_distinct",
        "hll_estimate",
        F.round(
            (F.col("hll_estimate") - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            6,
        ).alias("rel_error"),
    )


# ---------------------------------------------------------------------------
# q275 — KMV (theta-style) bottom-k sketch: distinct counts AND set
# intersection, the estimator HLL cannot provide
# ---------------------------------------------------------------------------

_KMV_K = 256
_KMV_DOM = float(1 << 60)  # hash domain: 60-bit md5 prefix
_KMV_B_PRICE = 150000


def _kmv_hash_sql(key: str) -> str:
    return f"('0x' || substr(md5('kmv:' || {key}), 1, 15))::BIGINT"


@register(
    "q275_kmv_overlap",
    oracle=f"""
    WITH a_keys AS (
      SELECT DISTINCT o_custkey AS key FROM orders
      WHERE o_orderpriority = '1-URGENT'
    ),
    b_keys AS (
      SELECT DISTINCT o_custkey AS key FROM orders
      WHERE o_totalprice > {_KMV_B_PRICE}
    ),
    a_bot AS (
      SELECT {_kmv_hash_sql('key')} AS h FROM a_keys
      ORDER BY h LIMIT {_KMV_K}
    ),
    b_bot AS (
      SELECT {_kmv_hash_sql('key')} AS h FROM b_keys
      ORDER BY h LIMIT {_KMV_K}
    ),
    stats AS (
      -- effective theta: an UNFILLED sketch holds its whole set, so
      -- its theta is the full domain (standard theta-sketch rule)
      SELECT CASE WHEN (SELECT count(*) FROM a_bot) < {_KMV_K}
                  THEN CAST({1 << 60} AS BIGINT)
                  ELSE (SELECT max(h) FROM a_bot) END AS th_a,
             CASE WHEN (SELECT count(*) FROM b_bot) < {_KMV_K}
                  THEN CAST({1 << 60} AS BIGINT)
                  ELSE (SELECT max(h) FROM b_bot) END AS th_b,
             (SELECT CAST(count(*) AS BIGINT) FROM a_bot) AS n_a,
             (SELECT CAST(count(*) AS BIGINT) FROM b_bot) AS n_b,
             (SELECT CAST(count(*) AS BIGINT) FROM a_keys) AS exact_a,
             (SELECT CAST(count(*) AS BIGINT) FROM b_keys) AS exact_b,
             (SELECT CAST(count(*) AS BIGINT)
              FROM a_keys JOIN b_keys USING (key)) AS exact_overlap
    ),
    inter AS (
      SELECT CAST(count(*) AS BIGINT) AS m
      FROM a_bot JOIN b_bot USING (h), stats
      WHERE h < least(th_a, th_b)
    )
    SELECT CAST({_KMV_K} AS BIGINT) AS k,
           exact_a,
           CASE WHEN n_a < {_KMV_K} THEN n_a
                ELSE CAST(round(({_KMV_K} - 1) * {_KMV_DOM} / th_a)
                          AS BIGINT) END AS est_a,
           exact_b,
           CASE WHEN n_b < {_KMV_K} THEN n_b
                ELSE CAST(round(({_KMV_K} - 1) * {_KMV_DOM} / th_b)
                          AS BIGINT) END AS est_b,
           exact_overlap,
           CAST(round(m * {_KMV_DOM} / least(th_a, th_b)) AS BIGINT)
             AS est_overlap,
           round((CAST(round(m * {_KMV_DOM} / least(th_a, th_b)) AS BIGINT)
                  - exact_overlap) * 1.0 / exact_overlap, 6)
             AS rel_error_overlap
    FROM stats, inter
    """,
)
def q275_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / theta-style bottom-k sketch — the fourth-and-a-half
    member of the sketch family (CMS q243, HLL q244/q265, Bloom
    q245, histogram q261): keep each set's 256 smallest 60-bit md5
    hash values; the k-th smallest (theta) estimates distinct count
    as (k-1)*DOMAIN/theta, and — the capability HLL fundamentally
    LACKS — two sketches INTERSECT: hashes below min(theta_a,
    theta_b) present in both bottom-k sets form an unbiased sample
    of the intersection, so overlap ~= |common below theta| * DOMAIN
    / theta (Beyer et al. 2007; the theta sketch of the DataSketches
    library). Audience-overlap ("how many URGENT-priority customers
    are also big-ticket customers?") is THE warehouse question this
    answers from two 256-row sketches instead of a corpus-scale
    join.

    Estimates vs exact are both emitted with realized relative
    error — the audit shape of q243/q244/q257/q262.

    Determinism: hash = integer 60-bit md5 prefix (no floats until
    the final single division, which both engines compute in IEEE
    double on identical integers and round identically).

    Scale shape: per set, one DISTINCT (map-side combinable) and one
    TakeOrderedAndProject(limit=256) — per-partition bottom-k heaps
    merged at k*P rows, no global sort, no single-task funnel.
    Everything after is k-row relations (1-row broadcast scalars,
    k-row hash-equi join). The exact legs (full distinct + key join)
    exist ONLY for the audit; at 100 TB you run the sketch legs
    alone — two bottom-k scans and a 256-row intersect.

    Reference basis: the reference has no estimators at all; this
    extends its COUNT(DISTINCT)-style audits (SURVEY §2.4) the same
    way q244 does, adding the intersection capability.
    """
    o = _t(spark, sf_dir, "orders")

    from citybikedatawarehouse_spark.functions.keys import kmv_hash

    a_keys = (
        o.where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("key"))
        .distinct()
    )
    b_keys = (
        o.where(F.col("o_totalprice") > _KMV_B_PRICE)
        .select(F.col("o_custkey").alias("key"))
        .distinct()
    )
    a_bot = a_keys.select(kmv_hash(F.col("key")).alias("h")).orderBy("h").limit(_KMV_K)
    b_bot = b_keys.select(kmv_hash(F.col("key")).alias("h")).orderBy("h").limit(_KMV_K)

    dom = F.lit(1 << 60).cast("bigint")
    # effective theta: an UNFILLED sketch holds its whole set, so its
    # theta is the full domain (standard theta-sketch rule) — keeps
    # the estimator exact at SFs where a segment is smaller than k
    th_a = a_bot.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_a"),
        F.max("h").alias("__mx_a"),
    ).select(
        "n_a",
        F.when(F.col("n_a") < _KMV_K, dom)
        .otherwise(F.col("__mx_a"))
        .alias("th_a"),
    )
    th_b = b_bot.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_b"),
        F.max("h").alias("__mx_b"),
    ).select(
        "n_b",
        F.when(F.col("n_b") < _KMV_K, dom)
        .otherwise(F.col("__mx_b"))
        .alias("th_b"),
    )
    exact_a = a_keys.agg(F.count(F.lit(1)).cast("bigint").alias("exact_a"))
    exact_b = b_keys.agg(F.count(F.lit(1)).cast("bigint").alias("exact_b"))
    exact_ov = (
        a_keys.join(b_keys, "key")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_overlap"))
    )
    # all 1-row scalars: broadcast cross-attach
    stats = (
        th_a.crossJoin(F.broadcast(th_b))
        .crossJoin(F.broadcast(exact_a))
        .crossJoin(F.broadcast(exact_b))
        .crossJoin(F.broadcast(exact_ov))
    )
    theta = F.least(F.col("th_a"), F.col("th_b"))
    m = (
        a_bot.join(b_bot, "h")
        .crossJoin(F.broadcast(th_a))
        .crossJoin(F.broadcast(th_b))
        .where(F.col("h") < F.least(F.col("th_a"), F.col("th_b")))
        .agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    )
    est = lambda num, den: F.round(num * F.lit(_KMV_DOM) / den).cast("bigint")
    return stats.crossJoin(F.broadcast(m)).select(
        F.lit(_KMV_K).cast("bigint").alias("k"),
        "exact_a",
        F.when(F.col("n_a") < _KMV_K, F.col("n_a"))
        .otherwise(est(F.lit(_KMV_K - 1), F.col("th_a")))
        .alias("est_a"),
        "exact_b",
        F.when(F.col("n_b") < _KMV_K, F.col("n_b"))
        .otherwise(est(F.lit(_KMV_K - 1), F.col("th_b")))
        .alias("est_b"),
        "exact_overlap",
        est(F.col("m"), theta).alias("est_overlap"),
        F.round(
            (est(F.col("m"), theta) - F.col("exact_overlap"))
            * 1.0
            / F.col("exact_overlap"),
            6,
        ).alias("rel_error_overlap"),
    )


# ---------------------------------------------------------------------------
# q276 — grouped KMV sketches: the pairwise audience-overlap MATRIX
# ---------------------------------------------------------------------------


@register(
    "q276_kmv_overlap_matrix",
    oracle=f"""
    WITH keys AS (
      SELECT DISTINCT o_orderpriority AS seg, o_custkey AS key FROM orders
    ),
    hashed AS (
      SELECT seg, key, {_kmv_hash_sql('key')} AS h FROM keys
    ),
    bot AS (
      SELECT seg, h FROM (
        SELECT seg, h,
               row_number() OVER (PARTITION BY seg ORDER BY h) AS rn
        FROM hashed
      ) WHERE rn <= {_KMV_K}
    ),
    thetas AS (
      SELECT seg,
             CASE WHEN count(*) < {_KMV_K}
                  THEN CAST({1 << 60} AS BIGINT)
                  ELSE max(h) END AS theta
      FROM bot GROUP BY seg
    ),
    pairs AS (
      SELECT a.seg AS seg_a, b.seg AS seg_b,
             CAST(count(*) AS BIGINT) AS m,
             least(ta.theta, tb.theta) AS pair_theta
      FROM bot a
      JOIN bot b ON b.h = a.h AND a.seg < b.seg
      JOIN thetas ta ON ta.seg = a.seg
      JOIN thetas tb ON tb.seg = b.seg
      WHERE a.h < least(ta.theta, tb.theta)
      GROUP BY 1, 2, least(ta.theta, tb.theta)
    ),
    exact AS (
      SELECT a.seg AS seg_a, b.seg AS seg_b,
             CAST(count(*) AS BIGINT) AS exact_overlap
      FROM keys a JOIN keys b ON b.key = a.key AND a.seg < b.seg
      GROUP BY 1, 2
    )
    SELECT e.seg_a, e.seg_b, e.exact_overlap,
           CAST(round(coalesce(p.m, 0) * {_KMV_DOM}
                      / coalesce(p.pair_theta, {_KMV_DOM})) AS BIGINT)
             AS est_overlap,
           round((CAST(round(coalesce(p.m, 0) * {_KMV_DOM}
                             / coalesce(p.pair_theta, {_KMV_DOM})) AS BIGINT)
                  - e.exact_overlap) * 1.0 / e.exact_overlap, 6)
             AS rel_error
    FROM exact e
    LEFT JOIN pairs p ON p.seg_a = e.seg_a AND p.seg_b = e.seg_b
    """,
)
def q276_kmv_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped KMV sketches composed into the pairwise audience-
    overlap MATRIX — the production shape of q275: ONE pass builds a
    256-row bottom-k sketch per behavioral cohort (customers having
    ordered at each priority level), then every C(5,2) pairwise
    overlap estimate comes from joining 5x256-row sketches — never
    from C(5,2) corpus-scale key joins. This is how audience-overlap
    dashboards stay sub-second over arbitrary segment counts: sketch
    once per segment at ingest, intersect k-row relations at query
    time (the exact legs here are the audit, as in q275).

    Scale shape: one DISTINCT over (segment, key) — map-side
    combinable — then the per-segment bottom-k as a window
    row_number over the segment partitioning (segments are
    low-cardinality; the per-group sort is external/spilling, and at
    extreme |segment| the two-phase salted bottom-k of
    operators/ranking.global_row_number applies). Everything
    downstream touches only |segments| * k rows. Unfilled sketches
    use the effective-theta-is-domain rule, so the matrix is exact
    wherever a cohort is smaller than k.
    """
    o = _t(spark, sf_dir, "orders")

    from citybikedatawarehouse_spark.functions.keys import kmv_hash

    keys = (
        o.select(
            F.col("o_orderpriority").alias("seg"),
            F.col("o_custkey").alias("key"),
        )
        .distinct()
    )
    hashed = keys.select("seg", kmv_hash(F.col("key")).alias("h"))
    wseg = W.partitionBy("seg").orderBy("h")
    bot = (
        hashed.withColumn("rn", F.row_number().over(wseg))
        .where(F.col("rn") <= _KMV_K)
        .select("seg", "h")
    )
    dom = F.lit(1 << 60).cast("bigint")
    thetas = bot.groupBy("seg").agg(
        F.when(F.count(F.lit(1)) < _KMV_K, dom)
        .otherwise(F.max("h"))
        .alias("theta")
    )
    a = bot.select(F.col("seg").alias("seg_a"), "h")
    b = bot.select(F.col("seg").alias("seg_b"), F.col("h").alias("h_b"))
    ta = thetas.select(F.col("seg").alias("seg_a"), F.col("theta").alias("th_a"))
    tb = thetas.select(F.col("seg").alias("seg_b"), F.col("theta").alias("th_b"))
    pairs = (
        a.join(b, (F.col("h") == F.col("h_b")) & (F.col("seg_a") < F.col("seg_b")))
        .join(F.broadcast(ta), "seg_a")
        .join(F.broadcast(tb), "seg_b")
        .where(F.col("h") < F.least(F.col("th_a"), F.col("th_b")))
        .groupBy("seg_a", "seg_b", F.least(F.col("th_a"), F.col("th_b")).alias("theta"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    )
    ka = keys.select(F.col("seg").alias("seg_a"), "key")
    kb = keys.select(F.col("seg").alias("seg_b"), F.col("key").alias("key_b"))
    exact = (
        ka.join(
            kb,
            (F.col("key") == F.col("key_b"))
            & (F.col("seg_a") < F.col("seg_b")),
        )
        .groupBy("seg_a", "seg_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_overlap"))
    )
    est = F.round(
        F.coalesce(F.col("m"), F.lit(0))
        * F.lit(_KMV_DOM)
        / F.coalesce(F.col("theta"), dom)
    ).cast("bigint")
    return exact.join(F.broadcast(pairs), ["seg_a", "seg_b"], "left").select(
        "seg_a",
        "seg_b",
        "exact_overlap",
        est.alias("est_overlap"),
        F.round(
            (est - F.col("exact_overlap")) * 1.0 / F.col("exact_overlap"), 6
        ).alias("rel_error"),
    )


# ---------------------------------------------------------------------------
# q277 — rolling-window distinct from daily HLL partials (sketch
# algebra over time windows)
# ---------------------------------------------------------------------------

_ROLL_DAYS = 7  # window = asof day + 6 preceding days


def _rolling_hll_oracle() -> str:
    from citybikedatawarehouse_spark.functions.keys import (
        HLL_RHO_MAX,
        hll_parts_sql,
    )

    parts = hll_parts_sql("o_custkey")
    w = _ROLL_DAYS - 1
    return f"""
    WITH days AS (
      SELECT DISTINCT datediff('day', DATE '1970-01-01',
                               CAST(o_orderdate AS DATE)) AS ad
      FROM orders
    ),
    daily AS (
      SELECT day, bucket, max(rho) AS reg FROM (
        SELECT datediff('day', DATE '1970-01-01',
                        CAST(o_orderdate AS DATE)) AS day,
               {parts}
        FROM orders
      ) GROUP BY 1, 2
    ),
    fan AS (
      SELECT ad, bucket, max(reg) AS reg FROM (
        SELECT unnest(generate_series(day, day + {w})) AS ad,
               bucket, reg
        FROM daily
      ) GROUP BY 1, 2
    ),
    grid AS (
      SELECT d.ad, b.bucket, coalesce(f.reg, 0) AS reg
      FROM days d
      CROSS JOIN (SELECT CAST(t.b AS INTEGER) AS bucket
                  FROM UNNEST(range(0, 256)) t(b)) b
      LEFT JOIN fan f ON f.ad = d.ad AND f.bucket = b.bucket
    ),
    stats AS (
      SELECT ad,
             CAST(sum(CAST(1::BIGINT << ({HLL_RHO_MAX} - reg)
                           AS DECIMAL(20,0))) AS DECIMAL(38,0)) AS sum_scaled,
             CAST(sum(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zeros
      FROM grid GROUP BY 1
    ),
    est AS (
      SELECT ad,
             CAST(round(CASE WHEN raw <= 640.0 AND zeros > 0
                             THEN 256.0 * ln(256.0 / zeros)
                             ELSE raw END) AS BIGINT) AS hll_estimate
      FROM (
        SELECT ad,
               CAST({_HLL_ALPHA} AS DOUBLE) * 256.0 * 256.0
                 * CAST(1::BIGINT << {HLL_RHO_MAX} AS DOUBLE)
                 / CAST(sum_scaled AS DOUBLE) AS raw,
               zeros
        FROM stats
      )
    ),
    exact AS (
      SELECT ad, CAST(count(DISTINCT o_custkey) AS BIGINT)
                     AS exact_distinct
      FROM (
        SELECT unnest(generate_series(day, day + {w})) AS ad, o_custkey
        FROM (
          SELECT datediff('day', DATE '1970-01-01',
                          CAST(o_orderdate AS DATE)) AS day, o_custkey
          FROM orders
        )
      ) GROUP BY 1
    )
    SELECT CAST(e.ad AS INTEGER) AS asof_day,
           x.exact_distinct, e.hll_estimate,
           round((e.hll_estimate - x.exact_distinct) * 1.0
                 / x.exact_distinct, 6) AS rel_error
    FROM est e JOIN exact x ON x.ad = e.ad
    """


@register("q277_rolling_hll_distinct", oracle=_rolling_hll_oracle())
def q277_rolling_hll_distinct(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rolling 7-day distinct customers from DAILY HLL partials —
    sketch algebra over time windows, the third leg of the HLL suite
    (q244 global, q265 per-group, THIS per-sliding-window). The
    pattern a 100 TB pipeline actually deploys: registers are
    computed ONCE per (day, bucket) at ingest — 256 small rows per
    day — and any window [d-6, d] is answered by MAX-merging the
    partials, never re-scanning the fact. The merge is expressed as
    a map-side explode of each day's registers to the <=7 window-end
    days it serves (sequence+explode, no range join, no window
    function over raw rows), then the same max-monoid aggregate.
    The exact rolling COUNT(DISTINCT) — which no engine can compute
    from partials, precisely the problem sketches solve — is carried
    alongside as the audit; at scale you keep only the sketch path.

    Scale shape: daily partials fold map-side to 256 rows/day; the
    fan-out is x7 of THAT (not of the fact); the estimate runs on
    |days| x 256 rows. The exact audit's x7 fan-out of the fact is
    test-scale-only scaffolding. The ~40-customer daily cardinality
    at sf keeps every window in the linear-counting branch; q244
    covers the raw-estimate branch.

    Cites: plans/analytics.py q244/q265 (register construction,
    estimate constants); functions/keys.py hll_parts/hll_parts_sql.
    """
    from citybikedatawarehouse_spark.functions.keys import (
        HLL_RHO_MAX,
        hll_parts,
    )

    o = _t(spark, sf_dir, "orders")
    day = F.datediff(
        F.to_date("o_orderdate"), F.to_date(F.lit("1970-01-01"))
    )
    bucket, rho = hll_parts("o_custkey")
    daily = (
        o.select(day.alias("day"), bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("day", "bucket")
        .agg(F.max("rho").alias("reg"))
    )
    w = _ROLL_DAYS - 1
    fan = (
        daily.select(
            F.explode(
                F.sequence(F.col("day"), F.col("day") + F.lit(w))
            ).alias("asof"),
            "bucket",
            "reg",
        )
        .groupBy("asof", "bucket")
        .agg(F.max("reg").alias("reg"))
    )
    days = o.select(day.alias("asof")).distinct()
    all_b = spark.range(256).select(F.col("id").cast("int").alias("bucket"))
    grid = (
        days.crossJoin(F.broadcast(all_b))
        .join(fan, ["asof", "bucket"], "left")
        .select("asof", F.coalesce(F.col("reg"), F.lit(0)).alias("reg"))
    )
    stats = grid.groupBy("asof").agg(
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_RHO_MAX} - reg)").cast(
                "decimal(20,0)"
            )
        ).alias("sum_scaled"),
        F.sum(F.when(F.col("reg") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("zeros"),
    )
    raw = (
        F.lit(_HLL_ALPHA)
        * 256.0
        * 256.0
        * F.lit(float(1 << HLL_RHO_MAX))
        / F.col("sum_scaled").cast("double")
    )
    est = stats.select(
        "asof",
        F.round(
            F.when(
                (raw <= 640.0) & (F.col("zeros") > 0),
                F.lit(256.0) * F.log(F.lit(256.0) / F.col("zeros")),
            ).otherwise(raw)
        )
        .cast("bigint")
        .alias("hll_estimate"),
    )
    exact = (
        o.select(
            F.explode(F.sequence(day, day + F.lit(w))).alias("asof"),
            "o_custkey",
        )
        .groupBy("asof")
        .agg(
            F.countDistinct("o_custkey").cast("bigint").alias("exact_distinct")
        )
    )
    return est.join(exact, "asof").select(
        F.col("asof").cast("int").alias("asof_day"),
        "exact_distinct",
        "hll_estimate",
        F.round(
            (F.col("hll_estimate") - F.col("exact_distinct"))
            * F.lit(1.0)
            / F.col("exact_distinct"),
            6,
        ).alias("rel_error"),
    )


# ---------------------------------------------------------------------------
# q282 — sampled aggregation with CLT error bars (online-agg /
# BlinkDB style: answer from a 5% sample, quantify the error)
# ---------------------------------------------------------------------------

_SAMP_MOD = 1000
_SAMP_KEEP = 50  # 5%
_SAMP_Z = 1.96   # 95% CI


def _sampled_agg_oracle() -> str:
    return f"""
    WITH s AS (
      SELECT o_orderpriority, o_totalprice
      FROM orders
      WHERE ('0x' || substr(md5('olap:' || CAST(o_orderkey AS VARCHAR)),
                            1, 8))::BIGINT % {_SAMP_MOD} < {_SAMP_KEEP}
    ),
    est AS (
      SELECT o_orderpriority,
             CAST(count(*) AS BIGINT) AS n_sample,
             round(avg(o_totalprice), 6) AS est_avg,
             round({_SAMP_Z} * stddev_samp(o_totalprice)
                   / sqrt(count(*)), 6) AS ci_half
      FROM s GROUP BY 1
    ),
    exact AS (
      SELECT o_orderpriority, round(avg(o_totalprice), 6) AS exact_avg
      FROM orders GROUP BY 1
    )
    SELECT e.o_orderpriority, e.n_sample, e.est_avg, e.ci_half,
           x.exact_avg,
           round(abs(e.est_avg - x.exact_avg), 6) <= e.ci_half
             AS within_ci
    FROM est e JOIN exact x USING (o_orderpriority)
    """


@register("q282_sampled_aggregate", oracle=_sampled_agg_oracle())
def q282_sampled_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregation with error bars (online aggregation /
    BlinkDB): answer a per-priority average from a DETERMINISTIC 5%
    hash sample of orders and attach the CLT 95% half-width
    (z * s / sqrt(n)) — then audit against the exact answer, which
    at 100 TB you would not compute (the whole point: a 5% scan with
    a quantified error beats a full scan when the dashboard needs
    seconds, and the CI column tells the user whether the estimate
    is fit for their decision). The sample is md5(tag || orderkey) —
    membership is a pure function of the key, so the estimate is
    reproducible across engines and reruns, and the same sample can
    be PRE-MATERIALIZED and shared by every query in the BlinkDB
    manner.

    Determinism across engines: est/CI/exact are rounded to 6
    decimals BEFORE the within_ci comparison on both sides (double
    summation order differs; the CI boundary sits orders of
    magnitude above the rounding grain).

    Scale shape: the sample predicate is a per-row md5 in codegen —
    at rest you'd store the sample as its own table and scan 5%;
    both aggregates are one map-side-combinable hash-agg each, and
    the join is |priorities|-sized."""
    from citybikedatawarehouse_spark.plans.curation import _md5_tick

    o = _t(spark, sf_dir, "orders")
    s = o.where(_md5_tick("olap:", "o_orderkey", _SAMP_MOD) < _SAMP_KEEP)
    est = s.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sample"),
        F.round(F.avg("o_totalprice"), 6).alias("est_avg"),
        F.round(
            F.lit(_SAMP_Z)
            * F.stddev_samp("o_totalprice")
            / F.sqrt(F.count(F.lit(1))),
            6,
        ).alias("ci_half"),
    )
    exact = o.groupBy("o_orderpriority").agg(
        F.round(F.avg("o_totalprice"), 6).alias("exact_avg")
    )
    return est.join(exact, "o_orderpriority").select(
        "o_orderpriority",
        "n_sample",
        "est_avg",
        "ci_half",
        "exact_avg",
        (
            F.round(F.abs(F.col("est_avg") - F.col("exact_avg")), 6)
            <= F.col("ci_half")
        ).alias("within_ci"),
    )
