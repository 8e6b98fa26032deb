"""E-commerce customer analytics: RFM segmentation and cohort retention —
the two classic marketing queries the reference's KPI tables feed in
practice, expressed engine-native with full oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import register
from ..sources.testdata import load_table

# --------------------------------------------------------------------------
# RFM segmentation: score each customer 1-5 on Recency/Frequency/Monetary
# --------------------------------------------------------------------------

_RFM_SQL = """
WITH per_cust AS (
    SELECT o_custkey AS customer_id,
           MAX(o_orderdate) AS last_order,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
    FROM orders GROUP BY 1
),
ranked AS (
    SELECT *,
           PERCENT_RANK() OVER (ORDER BY last_order, customer_id) AS r_pct,
           PERCENT_RANK() OVER (ORDER BY n_orders, customer_id) AS f_pct,
           PERCENT_RANK() OVER (ORDER BY monetary, customer_id) AS m_pct
    FROM per_cust
)
SELECT customer_id, n_orders, monetary,
       CAST(1 + FLOOR(r_pct * 4.99) AS BIGINT) AS r_score,
       CAST(1 + FLOOR(f_pct * 4.99) AS BIGINT) AS f_score,
       CAST(1 + FLOOR(m_pct * 4.99) AS BIGINT) AS m_score,
       CAST((1 + FLOOR(r_pct * 4.99)) * 100
            + (1 + FLOOR(f_pct * 4.99)) * 10
            + (1 + FLOOR(m_pct * 4.99)) AS BIGINT) AS rfm
FROM ranked
"""


@register("rfm_segmentation", _RFM_SQL)
def q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency/Frequency/Monetary 1-5 scores per customer: one combinable
    per-customer agg, then three TWO-PHASE global ranks over it
    (``functions.prefix`` — a bare ``PERCENT_RANK() OVER (ORDER BY …)``
    would drag every customer through one task at 10^8-customer scale;
    ties are impossible because customer_id closes each ordering, so
    percent_rank ≡ (row_number − 1)/(n − 1), which the two-phase rank
    reproduces bit-identically as the same integer-to-double division).
    ``FLOOR(pct * 4.99)`` buckets ranks into quintiles with the top rank
    (pct=1.0) landing in 5, not a phantom 6th bucket; both factors are
    IEEE double ops, identical across engines."""
    from ..functions.prefix import two_phase_cumsum

    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy(F.col("o_custkey").alias("customer_id")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
        .alias("monetary"),
    )
    n_total = per_cust.agg(F.count(F.lit(1)).alias("_n"))

    def score_col(order_col: str, numeric: F.Column, out: str) -> DataFrame:
        ranked = two_phase_cumsum(
            per_cust.select("customer_id", F.col(order_col)),
            numeric,
            {"_rnk": F.lit(1)},
            order_cols=[order_col, "customer_id"],
        )
        pct = F.when(F.col("_n") == 1, F.lit(0.0)).otherwise(
            (F.col("_rnk") - 1).cast("double") / (F.col("_n") - 1).cast("double")
        )
        return ranked.crossJoin(F.broadcast(n_total)).select(
            "customer_id",
            (F.lit(1) + F.floor(pct * F.lit(4.99))).cast("bigint").alias(out),
        )

    scored = (
        per_cust.select("customer_id", "n_orders", "monetary")
        .join(
            score_col(
                "last_order",
                F.unix_date(F.to_date(F.col("last_order"))),
                "r_score",
            ),
            "customer_id",
        )
        .join(score_col("n_orders", F.col("n_orders"), "f_score"), "customer_id")
        .join(score_col("monetary", F.col("monetary"), "m_score"), "customer_id")
    )
    return scored.withColumn(
        "rfm",
        (
            F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")
        ).cast("bigint"),
    )


# --------------------------------------------------------------------------
# Cohort retention: customers acquired in month M still ordering k months on
# --------------------------------------------------------------------------

_COHORT_SQL = """
WITH first_order AS (
    SELECT o_custkey, date_trunc('month', MIN(o_orderdate)) AS cohort_month
    FROM orders GROUP BY 1
),
activity AS (
    SELECT DISTINCT o.o_custkey, f.cohort_month,
           (EXTRACT(YEAR FROM o.o_orderdate) - EXTRACT(YEAR FROM f.cohort_month)) * 12
             + (EXTRACT(MONTH FROM o.o_orderdate) - EXTRACT(MONTH FROM f.cohort_month))
               AS months_since
    FROM orders o JOIN first_order f ON f.o_custkey = o.o_custkey
)
SELECT strftime(cohort_month, '%Y-%m') AS cohort,
       CAST(months_since AS BIGINT) AS months_since,
       CAST(COUNT(*) AS BIGINT) AS active_customers
FROM activity
GROUP BY 1, 2
"""


@register("cohort_retention", _COHORT_SQL)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: acquisition month × months-since →
    distinct active customers. Two combinable aggs + one join on the
    customer key (the first-order side is one row per customer —
    broadcastable for dimension-sized customer bases, shuffled equi-join
    beyond); month arithmetic is exact integers."""
    o = load_table(spark, sf_dir, "orders")
    first_order = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort_month")
    )
    months_since = (
        (F.year("o_orderdate") - F.year("cohort_month")) * 12
        + (F.month("o_orderdate") - F.month("cohort_month"))
    ).cast("bigint")
    activity = (
        o.join(first_order, "o_custkey")
        .select("o_custkey", "cohort_month", months_since.alias("months_since"))
        .distinct()
    )
    return activity.groupBy(
        F.date_format("cohort_month", "yyyy-MM").alias("cohort"),
        "months_since",
    ).agg(F.count(F.lit(1)).alias("active_customers"))


_FORECAST_SQL = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS d,
           SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
    FROM orders
    GROUP BY 1
)
SELECT CAST(isodow(d) AS BIGINT) AS dow_iso,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(CAST(SUM(rev) AS VARCHAR) AS DOUBLE) / COUNT(*) AS forecast_daily_revenue
FROM daily
GROUP BY 1
"""


@register("forecast_naive_seasonal", _FORECAST_SQL)
def q_forecast_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive daily-revenue forecast: project each weekday as the
    exact-decimal mean of that weekday's history — the baseline every
    forecasting system must beat, and the shape (calendar-key partial
    aggregates) that a real model's feature pipeline starts from. Two
    hash aggregations, map-side combinable, one division per weekday."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    return daily.groupBy(
        (F.weekday("d") + 1).cast("bigint").alias("dow_iso")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        (F.sum("rev").cast("double") / F.count(F.lit(1))).alias(
            "forecast_daily_revenue"
        ),
    )


_BASKET_SQL = """
WITH pairs AS (
    SELECT DISTINCT a.l_orderkey, a.l_partkey AS part_a, b.l_partkey AS part_b
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
pair_cnt AS (
    SELECT part_a, part_b, CAST(COUNT(*) AS BIGINT) AS n_both
    FROM pairs GROUP BY part_a, part_b
),
item_cnt AS (
    SELECT l_partkey, CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
    FROM lineitem GROUP BY l_partkey
)
SELECT p.part_a, p.part_b, p.n_both,
       CAST(p.n_both AS DOUBLE) / CAST(a.n_orders AS DOUBLE) AS conf_a_to_b,
       CAST(p.n_both AS DOUBLE) / CAST(b.n_orders AS DOUBLE) AS conf_b_to_a
FROM pair_cnt p
JOIN item_cnt a ON p.part_a = a.l_partkey
JOIN item_cnt b ON p.part_b = b.l_partkey
WHERE p.n_both >= 3
"""


@register("basket_pair_affinity", _BASKET_SQL)
def q_basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining (A-priori level 2): co-purchase support
    and both directional confidences for part pairs appearing in ≥ 3
    orders (DISTINCT items per basket — a part twice in one order is one
    basket membership).

    Spark path avoids the quadratic self-join: per-order sorted item
    arrays expand to their C(k,2) pairs INLINE (map-only — baskets are
    small, pairs/order is bounded by basket size, not corpus), then one
    count aggregation; the item-support join is a second small agg. The
    oracle states the same semantics as the classic self-join.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # round 11 (guide §1.2): ONE corpus groupBy builds the distinct-item
    # baskets; the pair expansion filters to size ≥ 2 and the per-item
    # order support is the explode of the SAME frame (count of baskets
    # containing the part ≡ the old countDistinct(l_orderkey) second
    # corpus pass), which also fed two join sides — cut once.
    b0 = (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("items"))
        .localCheckpoint(eager=False)
    )
    baskets = b0.filter(F.size("items") >= 2)  # single-item baskets yield no pairs
    # outer index stops at size-2 (sequence() runs DESCENDING when
    # start > stop — the i = size-1 inner sequence would wrap)
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(0, size(items) - 2), i ->"
                " transform(sequence(i + 1, size(items) - 1), j ->"
                " named_struct('part_a', items[i], 'part_b', items[j]))))"
            )
        ).alias("p")
    ).select("p.part_a", "p.part_b")
    pair_cnt = pairs.groupBy("part_a", "part_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_both")
    ).filter(F.col("n_both") >= 3)
    item_cnt = (
        b0.select(F.explode("items").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    )
    a = item_cnt.select(F.col("l_partkey").alias("_ka"), F.col("n_orders").alias("_na"))
    b = item_cnt.select(F.col("l_partkey").alias("_kb"), F.col("n_orders").alias("_nb"))
    return (
        pair_cnt.join(a, F.col("part_a") == F.col("_ka"))
        .join(b, F.col("part_b") == F.col("_kb"))
        .select(
            "part_a",
            "part_b",
            "n_both",
            (F.col("n_both").cast("double") / F.col("_na").cast("double")).alias(
                "conf_a_to_b"
            ),
            (F.col("n_both").cast("double") / F.col("_nb").cast("double")).alias(
                "conf_b_to_a"
            ),
        )
    )


_TRANSITION_SQL = """
WITH seq AS (
    SELECT user_id, event_type,
           LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS next_type
    FROM events
)
SELECT event_type AS from_type, next_type AS to_type,
       CAST(COUNT(*) AS BIGINT) AS n_transitions,
       CAST(COUNT(*) AS DOUBLE) / CAST(SUM(COUNT(*)) OVER (PARTITION BY event_type) AS DOUBLE)
           AS p_transition
FROM seq WHERE next_type IS NOT NULL
GROUP BY 1, 2
"""


@register("events_transition_matrix", _TRANSITION_SQL)
def q_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts + probabilities between
    event types per user journey (lag/lead window, deterministic
    (ts, event_id) ordering; row-normalized by a window over the count
    aggregate — no second pass over events)."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id", "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    counts = seq.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_transitions"))
    w_row = W.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n_transitions",
        (
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(w_row).cast("double")
        ).alias("p_transition"),
    )


def _bin_by_edges(li, edges_df):
    """Shared binning tail of both equi-depth variants: bin = number of
    edges strictly below the price (edge-order-independent), then
    per-bin count/min/max. ``edges_df`` is a 1-row frame with an array
    column ``e``."""
    v = F.col("l_extendedprice").cast("double")
    return (
        li.crossJoin(F.broadcast(edges_df))
        .select(
            F.aggregate(
                "e", F.lit(0), lambda acc, x: acc + F.when(v > x, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("bin"),
            v.alias("price"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("price").alias("lo"),
            F.max("price").alias("hi"),
        )
    )


_EQUIDEPTH_SQL = """
WITH edges AS (
    SELECT quantile_cont(l_extendedprice, [0.05,0.1,0.15,0.2,0.25,0.3,0.35,0.4,0.45,0.5,
                                           0.55,0.6,0.65,0.7,0.75,0.8,0.85,0.9,0.95]) AS e
    FROM lineitem
),
binned AS (
    SELECT CAST(len(list_filter(edges.e, x -> l.l_extendedprice > x)) AS BIGINT) AS bin,
           l.l_extendedprice AS price
    FROM lineitem l, edges
)
SELECT bin,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(price) AS DOUBLE) AS lo,
       CAST(MAX(price) AS DOUBLE) AS hi
FROM binned GROUP BY bin
"""


@register("histogram_equidepth_price", _EQUIDEPTH_SQL)
def q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile-edged) price histogram — the optimizer-stats
    companion to the equi-width ``price_histogram``: one exact-percentile
    aggregation broadcast as bin edges, map-only bin assignment, one
    count aggregation. ~N/20 rows per bin by construction.

    Scale note: ``F.percentile`` buffers every value in one aggregation
    buffer — exact but O(distinct values) memory and a single-threaded
    merge (~4.5 s at sf0.1). The 100 TB shape is order statistics over a
    value-count histogram (groupBy value → cumulative positions → the
    two straddling values per quantile, interpolated with the same
    (n−1)·q rule); kept as-is here because the exact agg IS the oracle
    semantics and the input is price-valued (bounded distinct cents)."""
    li = load_table(spark, sf_dir, "lineitem")
    qs_ = [i / 20 for i in range(1, 20)]
    v = F.col("l_extendedprice").cast("double")
    edges = li.agg(
        F.percentile(v, F.array(*[F.lit(q) for q in qs_])).alias("e")
    )
    return _bin_by_edges(li, edges)


_SHARE_SQL = """
WITH rev AS (
    SELECT n.n_name AS nation, r.r_name AS region,
           SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY 1, 2
)
SELECT region, nation,
       CAST(CAST(rev AS VARCHAR) AS DOUBLE) AS revenue,
       CAST(CAST(rev AS VARCHAR) AS DOUBLE)
           / CAST(CAST(SUM(rev) OVER (PARTITION BY region) AS VARCHAR) AS DOUBLE)
           AS share_of_region,
       CAST(CAST(rev AS VARCHAR) AS DOUBLE)
           / CAST(CAST(SUM(rev) OVER () AS VARCHAR) AS DOUBLE) AS share_of_total
FROM rev
"""


@register("revenue_share_of_parent", _SHARE_SQL)
def q_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report at two hierarchy levels: each nation's revenue as
    a share of its region and of the grand total — window sums over the
    (tiny) aggregate, never a second scan. Decimal sums keep the window
    totals exact; shares are single divisions."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(n.n_name.alias("nation"), r.r_name.alias("region"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    )
    return rev.select(
        "region",
        "nation",
        F.col("rev").cast("double").alias("revenue"),
        (
            F.col("rev").cast("double")
            / F.sum("rev").over(W.partitionBy("region")).cast("double")
        ).alias("share_of_region"),
        (
            F.col("rev").cast("double")
            / F.sum("rev").over(
                W.partitionBy()
            ).cast("double")
        ).alias("share_of_total"),
    )


_MOM_SQL = """
WITH monthly AS (
    SELECT strftime(date_trunc('month', CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month,
           SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
    FROM orders GROUP BY 1
)
SELECT month,
       CAST(CAST(rev AS VARCHAR) AS DOUBLE) AS revenue,
       CAST(CAST(LAG(rev) OVER (ORDER BY month) AS VARCHAR) AS DOUBLE) AS prev_revenue,
       (CAST(CAST(rev AS VARCHAR) AS DOUBLE)
          - CAST(CAST(LAG(rev) OVER (ORDER BY month) AS VARCHAR) AS DOUBLE))
         / CAST(CAST(LAG(rev) OVER (ORDER BY month) AS VARCHAR) AS DOUBLE)
         AS mom_growth
FROM monthly
"""


@register("revenue_mom_growth", _MOM_SQL)
def q_revenue_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth: monthly decimal totals + one lag
    window; growth is (cur − prev)/prev with NULL for the first month.
    The period-over-period pattern every reporting layer ships."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_format(F.date_trunc("month", F.to_date("o_orderdate")), "yyyy-MM-dd")
        .alias("month")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    w = W.orderBy("month")
    prev = F.lag("rev").over(w)
    return monthly.select(
        "month",
        F.col("rev").cast("double").alias("revenue"),
        prev.cast("double").alias("prev_revenue"),
        (
            (F.col("rev").cast("double") - prev.cast("double"))
            / prev.cast("double")
        ).alias("mom_growth"),
    )


_TIME_ROLLUP_SQL = """
WITH base AS (
    SELECT CAST(EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
           CAST(EXTRACT(quarter FROM CAST(o_orderdate AS DATE)) AS BIGINT) AS qtr,
           CAST(EXTRACT(month FROM CAST(o_orderdate AS DATE)) AS BIGINT) AS mth,
           CAST(o_totalprice AS DECIMAL(18,2)) AS rev
    FROM orders
)
SELECT yr, qtr, mth,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(CAST(SUM(rev) AS VARCHAR) AS DOUBLE) AS revenue,
       CAST(GROUPING(yr) * 4 + GROUPING(qtr) * 2 + GROUPING(mth) AS BIGINT) AS grouping_level
FROM base
GROUP BY ROLLUP (yr, qtr, mth)
"""


@register("revenue_time_rollup", _TIME_ROLLUP_SQL)
def q_revenue_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-hierarchy rollup (year → quarter → month + grand total)
    in ONE aggregation — Spark expands the rollup grouping sets inside a
    single hash-agg pass instead of four scans; GROUPING() bits
    disambiguate NULL-as-total from NULL-as-value."""
    o = load_table(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    base = o.select(
        F.year(d).cast("bigint").alias("yr"),
        F.quarter(d).cast("bigint").alias("qtr"),
        F.month(d).cast("bigint").alias("mth"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("rev"),
    )
    return base.rollup("yr", "qtr", "mth").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("rev").cast("double").alias("revenue"),
        (
            F.grouping("yr") * 4 + F.grouping("qtr") * 2 + F.grouping("mth")
        ).cast("bigint").alias("grouping_level"),
    )


_GAP_SQL = """
WITH seq AS (
    SELECT o_custkey,
           CAST(o_orderdate AS DATE) AS d,
           LAG(CAST(o_orderdate AS DATE)) OVER (
               PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey
           ) AS prev_d
    FROM orders
),
gaps AS (
    SELECT o_custkey, CAST(d - prev_d AS BIGINT) AS gap_days
    FROM seq WHERE prev_d IS NOT NULL
)
SELECT o_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_gaps,
       CAST(SUM(gap_days) AS BIGINT) AS sum_gap_days,
       CAST(SUM(gap_days) AS DOUBLE) / COUNT(*) AS avg_gap_days,
       CAST(MIN(gap_days) AS BIGINT) AS min_gap_days,
       CAST(MAX(gap_days) AS BIGINT) AS max_gap_days
FROM gaps
GROUP BY o_custkey
"""


@register("repeat_purchase_gaps", _GAP_SQL)
def q_repeat_purchase_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase interval stats per customer (lag over the order
    sequence, integer day gaps, exact aggregates) — the retention
    metric behind churn windows and re-engagement triggers."""
    o = load_table(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    w = W.partitionBy("o_custkey").orderBy(d, F.col("o_orderkey"))
    seq = o.select(
        "o_custkey",
        d.alias("d"),
        F.lag(d).over(w).alias("prev_d"),
    ).filter(F.col("prev_d").isNotNull())
    gaps = seq.select(
        "o_custkey", F.datediff("d", "prev_d").cast("bigint").alias("gap_days")
    )
    return gaps.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.sum("gap_days").cast("bigint").alias("sum_gap_days"),
        (F.sum("gap_days").cast("double") / F.count(F.lit(1))).alias("avg_gap_days"),
        F.min("gap_days").cast("bigint").alias("min_gap_days"),
        F.max("gap_days").cast("bigint").alias("max_gap_days"),
    )


@register("histogram_equidepth_scalable", _EQUIDEPTH_SQL)
def q_equidepth_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-path twin of ``histogram_equidepth_price`` — SAME
    oracle, different physical shape: instead of ``F.percentile``'s
    single O(distinct-values) aggregation buffer, quantile edges come
    from order statistics over a value-count histogram:

    1. groupBy(value) → (value, count): the only corpus-sized shuffle,
       map-side combinable;
    2. cumulative positions over distinct values via the classic
       TWO-PHASE prefix sum (``functions.prefix.two_phase_cumsum`` —
       equal-width value buckets, per-bucket local window, broadcast
       bucket offsets; no Sort over an Exchange SinglePartition,
       ``tests/test_plans.py`` gates this);
    3. each quantile's two straddling values found by position, then
       interpolated with the same ``lo + (hi − lo)·frac`` rule
       ``quantile_cont`` uses — bit-identical edges;
    4. the binning scan is shared with the percentile variant.
    """
    from ..functions.prefix import two_phase_cumsum

    li = load_table(spark, sf_dir, "lineitem")
    v = F.col("l_extendedprice").cast("double")
    # round 11 (guide §2.4): the value-count histogram feeds the prefix
    # sum AND the grand total — cut it once instead of re-running the
    # corpus aggregation per consumer
    vals = (
        li.groupBy(v.alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    cum = (
        # two_phase_cumsum cuts its binned rows even though vals is
        # already lineage-cut one line upstream: skipping that cut
        # MEASURED WORSE (r12 profile_split: exec 1.99 s/13 jobs ->
        # 2.77 s/15 jobs) — the binned checkpoint also dedupes the
        # broadcast-stats subtree and the bucket projection feeding two
        # exchanges.
        two_phase_cumsum(vals, "v", {"hi": "c"})
        .withColumn("lo", F.col("hi") - F.col("c"))
        .select("v", "c", "lo", "hi")
    )
    total = vals.agg(F.sum("c").cast("bigint").alias("n"))
    qdf = spark.range(1, 20).select(
        F.col("id").alias("qi"), (F.col("id") / 20.0).alias("q")
    )
    pos = (F.col("n") - 1).cast("double") * F.col("q")
    boundaries = (
        qdf.crossJoin(F.broadcast(total))
        .select("qi", "q", pos.alias("pos"))
        .withColumn("fl", F.floor("pos").cast("bigint"))
        .withColumn("ce", F.ceil("pos").cast("bigint"))
        .withColumn("frac", F.col("pos") - F.col("fl").cast("double"))
    )
    straddle = cum.crossJoin(F.broadcast(boundaries)).filter(
        ((F.col("fl") >= F.col("lo")) & (F.col("fl") < F.col("hi")))
        | ((F.col("ce") >= F.col("lo")) & (F.col("ce") < F.col("hi")))
    )
    edges = (
        straddle.groupBy("qi", "frac")
        .agg(
            F.min(
                F.when(
                    (F.col("fl") >= F.col("lo")) & (F.col("fl") < F.col("hi")),
                    F.col("v"),
                )
            ).alias("vfl"),
            F.min(
                F.when(
                    (F.col("ce") >= F.col("lo")) & (F.col("ce") < F.col("hi")),
                    F.col("v"),
                )
            ).alias("vce"),
        )
        .select(
            "qi",
            (
                F.col("vfl") + (F.col("vce") - F.col("vfl")) * F.col("frac")
            ).alias("edge"),
        )
    )
    edge_arr = edges.agg(F.collect_list("edge").alias("e"))
    return _bin_by_edges(li, edge_arr)


# --- revenue concentration (Pareto / whale analysis) -----------------------

_PARETO_SQL = """
WITH cr AS (
    SELECT o_custkey,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS cents
    FROM orders GROUP BY o_custkey
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cust,
             CAST(SUM(cents) AS BIGINT) AS total_cents FROM cr),
rk AS (
    SELECT o_custkey, cents,
           CAST(ROW_NUMBER() OVER (ORDER BY cents DESC, o_custkey) AS BIGINT)
               AS rnk
    FROM cr
)
SELECT CAST((rnk - 1) * 10 // n.n_cust AS BIGINT) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(CAST(SUM(cents) AS BIGINT) AS DOUBLE) / 100.0 AS revenue,
       CAST(CAST(SUM(cents) AS BIGINT) AS DOUBLE)
           / CAST(ANY_VALUE(n.total_cents) AS DOUBLE) AS revenue_share
FROM rk, n
GROUP BY 1
"""


@register("revenue_pareto_deciles", _PARETO_SQL)
def q_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration: customers ranked by lifetime revenue and
    bucketed into deciles (decile 0 = top 10 % of customers); each
    decile's exact revenue and share of total — the whale-curve /
    Pareto report.

    Scale shape: ranks come from the shared TWO-PHASE prefix sum
    (``functions.prefix``) over the per-customer revenue aggregate —
    customers-sized, and still no single-task global window; money is
    BIGINT cents end-to-end, so shares are exact divisions."""
    from ..functions.prefix import two_phase_cumsum

    orders = load_table(spark, sf_dir, "orders")
    cr = orders.groupBy("o_custkey").agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
        )
        .cast("bigint")
        .alias("cents")
    )
    totals = cr.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cust"),
        F.sum("cents").cast("bigint").alias("total_cents"),
    )
    # rank by revenue DESC with custkey tiebreak: the two-phase helper
    # orders ascending, so rank on negated cents
    ranked = two_phase_cumsum(
        cr.withColumn("_negrev", -F.col("cents")),
        "_negrev",
        {"rnk": F.lit(1)},
        order_cols=["_negrev", "o_custkey"],
    ).withColumn("rnk", F.col("rnk").cast("bigint"))
    return (
        ranked.crossJoin(F.broadcast(totals))
        .withColumn(
            "decile",
            F.expr("(rnk - 1) * 10 div n_cust").cast("bigint"),
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            (F.sum("cents").cast("bigint").cast("double") / 100.0).alias("revenue"),
            (
                F.sum("cents").cast("bigint").cast("double")
                / F.first("total_cents").cast("double")
            ).alias("revenue_share"),
        )
    )


# --- 2D skyline (Pareto-optimal frontier) ----------------------------------

_SKYLINE_SQL = """
WITH pp AS (
    SELECT p_partkey,
           CAST(p_retailprice AS DOUBLE) AS price,
           CAST(p_size AS BIGINT) AS size
    FROM part
)
SELECT b.p_partkey, b.price, b.size
FROM pp b
WHERE NOT EXISTS (
    SELECT 1 FROM pp a
    WHERE a.price <= b.price AND a.size >= b.size
      AND (a.price < b.price OR a.size > b.size)
)
"""


@register("parts_skyline_price_size", _SKYLINE_SQL)
def q_parts_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2D skyline / Pareto frontier: parts not dominated on (cheaper
    price, larger size) — the multi-objective shortlist query (best
    price-for-size tradeoffs).

    Engine plan is the classic linear sweep, SHUFFLE-SAFE: reduce to
    one row per distinct price (hash agg, pmax = best size at that
    price), take the EXCLUSIVE running max of pmax in price order via
    the two-phase idiom (``two_phase_cummax_excl`` — per-bucket window
    + broadcast bucket offsets, no global ordered window), then a row
    survives iff it ties its price group's best size AND beats every
    strictly-cheaper price's best (prev_max NULL or size > prev_max).
    The oracle is the textbook O(n²) NOT EXISTS dominance predicate —
    obviously correct, and exactly what the sweep must reproduce.

    Ties: equal (price, size) rows dominate neither direction, so ALL
    of them survive — both formulations agree."""
    from ..functions.prefix import two_phase_cummax_excl

    part = load_table(spark, sf_dir, "part")
    pp = part.select(
        "p_partkey",
        F.col("p_retailprice").cast("double").alias("price"),
        F.col("p_size").cast("bigint").alias("size"),
    )
    per_price = pp.groupBy("price").agg(F.max("size").alias("pmax"))
    swept = two_phase_cummax_excl(
        per_price, "price", "pmax", out_col="prev_max"
    )
    return (
        pp.join(swept, "price")
        .filter(
            (F.col("size") == F.col("pmax"))
            & (F.col("prev_max").isNull() | (F.col("size") > F.col("prev_max")))
        )
        .select("p_partkey", "price", "size")
    )


# --- forecast backtest (seasonal-naive vs held-out tail) -------------------

_BT_TEST_DAYS = 28

_BT_SQL = f"""
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS d,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
               AS BIGINT) AS cents
    FROM orders GROUP BY 1
),
mx AS (SELECT MAX(d) AS dmax FROM daily),
train AS (
    SELECT * FROM daily
    WHERE d <= (SELECT dmax FROM mx) - {_BT_TEST_DAYS}
),
test AS (
    SELECT * FROM daily
    WHERE d > (SELECT dmax FROM mx) - {_BT_TEST_DAYS}
),
fc AS (
    SELECT CAST(isodow(d) AS BIGINT) AS dow_iso,
           CAST(COUNT(*) AS BIGINT) AS n_train_days,
           CAST(SUM(cents) AS BIGINT) AS train_cents
    FROM train GROUP BY 1
),
scored AS (
    SELECT f.dow_iso, f.n_train_days,
           CAST(f.train_cents AS DOUBLE) / f.n_train_days AS fcast,
           CAST(t.cents AS DOUBLE) AS actual
    FROM test t JOIN fc f ON CAST(isodow(t.d) AS BIGINT) = f.dow_iso
),
quant AS (
    SELECT dow_iso, n_train_days, fcast,
           CAST(FLOOR(CASE WHEN fcast + actual > 0.0
                           THEN 2.0 * ABS(fcast - actual) / (fcast + actual)
                           ELSE 0.0 END * 1048576.0) AS BIGINT) AS rq
    FROM scored
)
SELECT dow_iso,
       CAST(ANY_VALUE(n_train_days) AS BIGINT) AS n_train_days,
       CAST(COUNT(*) AS BIGINT) AS n_test_days,
       ANY_VALUE(fcast) / 100.0 AS forecast_daily_revenue,
       (CAST(CAST(SUM(rq) AS BIGINT) AS DOUBLE) / 1048576.0) / COUNT(*)
           AS smape
FROM quant
GROUP BY dow_iso
"""


@register("forecast_backtest_smape", _BT_SQL)
def q_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the seasonal-naive forecaster: hold out the last 28
    days, forecast each weekday as the train-window mean of that
    weekday's daily revenue, and score sMAPE per weekday against the
    held-out actuals — the evaluation loop ``forecast_naive_seasonal``
    feeds (a forecast without a backtest is a guess).

    Determinism: daily revenue is exact BIGINT cents; each test day's
    sMAPE term 2|f−a|/(f+a) is a fixed sequence of double ops on
    identical integer-derived inputs, quantized FLOOR(r·2^20) BIGINT
    before the distributed sum so partitioning can't reorder a float
    accumulation.

    Scale shape: one corpus-sized hash agg to daily totals; everything
    after runs on |days| rows (7-row forecast table broadcast into the
    28-row test join); the cutoff is a 1-row broadcast max."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
        )
        .cast("bigint")
        .alias("cents")
    )
    mx = daily.agg(F.max("d").alias("dmax"))
    daily_b = daily.crossJoin(F.broadcast(mx))
    train = daily_b.filter(
        F.col("d") <= F.date_sub(F.col("dmax"), _BT_TEST_DAYS)
    )
    test = daily_b.filter(
        F.col("d") > F.date_sub(F.col("dmax"), _BT_TEST_DAYS)
    )
    fc = train.groupBy(
        (F.weekday("d") + 1).cast("bigint").alias("dow_iso")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_train_days"),
        F.sum("cents").cast("bigint").alias("train_cents"),
    )
    scored = test.select(
        (F.weekday("d") + 1).cast("bigint").alias("dow_iso"),
        F.col("cents").cast("double").alias("actual"),
    ).join(F.broadcast(fc), "dow_iso")
    fcast = F.col("train_cents").cast("double") / F.col("n_train_days")
    r = F.when(
        fcast + F.col("actual") > 0.0,
        2.0 * F.abs(fcast - F.col("actual")) / (fcast + F.col("actual")),
    ).otherwise(0.0)
    quant = scored.select(
        "dow_iso",
        "n_train_days",
        fcast.alias("fcast"),
        F.floor(r * 1048576.0).cast("bigint").alias("rq"),
    )
    return quant.groupBy("dow_iso").agg(
        F.first("n_train_days").cast("bigint").alias("n_train_days"),
        F.count(F.lit(1)).cast("bigint").alias("n_test_days"),
        (F.first("fcast") / 100.0).alias("forecast_daily_revenue"),
        (
            (F.sum("rq").cast("bigint").cast("double") / 1048576.0)
            / F.count(F.lit(1))
        ).alias("smape"),
    )


# --- revenue inequality (Gini) per nation -----------------------------------

_GINI_SQL = """
WITH cr AS (
    SELECT o_custkey,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS cents
    FROM orders GROUP BY o_custkey
),
cn AS (
    SELECT n.n_name AS nation, cr.o_custkey, cr.cents
    FROM cr
    JOIN customer c ON c.c_custkey = cr.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
),
rk AS (
    SELECT nation, cents,
           CAST(ROW_NUMBER() OVER (PARTITION BY nation
                ORDER BY cents, o_custkey) AS BIGINT) AS rnk
    FROM cn
),
s AS (
    SELECT nation,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           SUM(CAST(cents AS DECIMAL(38,0))) AS sx,
           SUM(CAST(rnk AS DECIMAL(38,0)) * CAST(cents AS DECIMAL(38,0)))
               AS srx
    FROM rk GROUP BY nation
)
SELECT nation, n_customers,
       CAST(CAST(sx AS VARCHAR) AS DOUBLE) / 100.0 AS total_revenue,
       2.0 * CAST(CAST(srx AS VARCHAR) AS DOUBLE)
           / (CAST(n_customers AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
           - (CAST(n_customers AS DOUBLE) + 1.0) / CAST(n_customers AS DOUBLE)
           AS gini
FROM s
"""


@register("revenue_gini_by_nation", _GINI_SQL)
def q_revenue_gini_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Gini coefficient of customer lifetime revenue — the
    inequality companion to ``revenue_pareto_deciles`` (a whale curve
    says WHERE revenue concentrates; Gini gives one comparable number
    per market): G = 2·Σ(rank·x) / (n·Σx) − (n+1)/n over ascending
    per-customer revenue.

    Scale shape: facts collapse to per-customer cents FIRST (one
    combinable agg), then join the customer dimension on the shared
    custkey (both customers-sized; nation broadcasts), and the rank
    window partitions by nation — per-group sort over customers-sized
    data, never the order rows. Rank·cents products sum in
    DECIMAL(38,0), exact at any scale; the Gini formula is a fixed
    double-op sequence on those exact sums (VARCHAR-roundtrip cast on
    the oracle side, per the repo's decimal→double contract)."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    cr = orders.groupBy("o_custkey").agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
        )
        .cast("bigint")
        .alias("cents")
    )
    cn = (
        cr.join(
            customer.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(F.col("n_name").alias("nation"), "o_custkey", "cents")
    )
    w = Window.partitionBy("nation").orderBy("cents", "o_custkey")
    rk = cn.select(
        "nation",
        "cents",
        F.row_number().over(w).cast("bigint").alias("rnk"),
    )
    s = rk.groupBy("nation").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("sx"),
        F.sum(
            F.col("rnk").cast("decimal(38,0)")
            * F.col("cents").cast("decimal(38,0)")
        ).alias("srx"),
    )
    nd = F.col("n_customers").cast("double")
    sxd = F.col("sx").cast("double")
    srxd = F.col("srx").cast("double")
    return s.select(
        "nation",
        "n_customers",
        (sxd / 100.0).alias("total_revenue"),
        (2.0 * srxd / (nd * sxd) - (nd + 1.0) / nd).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Co-occurrence recommender evaluation (round 8)
# ---------------------------------------------------------------------------
# The dataset side of a recommender: leave-LAST-order-out per customer,
# build the item co-occurrence matrix from the train orders only, score
# candidates by summed co-occurrence with the customer's train items,
# and measure hit-rate@k against the held-out basket — the offline eval
# every retrieval/reco pipeline runs before shipping a model.

_RECO_K = 10
_RECO_NEIGH = 10

_RECO_SQL = f"""
WITH lastord AS (
    SELECT o_orderkey, o_custkey,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC) AS rk
    FROM orders
),
train_items AS (
    SELECT DISTINCT lo.o_custkey AS custkey, l.l_partkey AS item
    FROM lastord lo JOIN lineitem l ON l.l_orderkey = lo.o_orderkey
    WHERE lo.rk > 1
),
test_items AS (
    SELECT DISTINCT lo.o_custkey AS custkey, l.l_partkey AS item
    FROM lastord lo JOIN lineitem l ON l.l_orderkey = lo.o_orderkey
    WHERE lo.rk = 1
),
train_baskets AS (
    SELECT DISTINCT lo.o_orderkey AS ok, l.l_partkey AS item
    FROM lastord lo JOIN lineitem l ON l.l_orderkey = lo.o_orderkey
    WHERE lo.rk > 1
),
cooc AS (
    SELECT a.item AS ia, b.item AS ib, CAST(COUNT(*) AS BIGINT) AS n
    FROM train_baskets a JOIN train_baskets b
      ON b.ok = a.ok AND b.item <> a.item
    GROUP BY 1, 2
),
neigh AS (
    SELECT ia, ib, n FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY ia ORDER BY n DESC, ib) AS rk
        FROM cooc
    ) WHERE rk <= {_RECO_NEIGH}
),
cand AS (
    SELECT t.custkey, g.ib AS item, CAST(SUM(g.n) AS BIGINT) AS score
    FROM train_items t JOIN neigh g ON g.ia = t.item
    LEFT JOIN train_items own
      ON own.custkey = t.custkey AND own.item = g.ib
    WHERE own.item IS NULL
    GROUP BY 1, 2
),
recs AS (
    SELECT custkey, item FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY custkey ORDER BY score DESC, item) AS rk
        FROM cand
    ) WHERE rk <= {_RECO_K}
),
evald AS (
    SELECT tt.custkey,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(COUNT(r.item) AS BIGINT) AS n_hits
    FROM test_items tt
    LEFT JOIN recs r ON r.custkey = tt.custkey AND r.item = tt.item
    WHERE tt.custkey IN (SELECT custkey FROM train_items)
    GROUP BY tt.custkey
)
SELECT custkey, n_test, n_hits,
       CAST(n_hits AS DOUBLE) / LEAST(n_test, {_RECO_K}) AS hit_rate
FROM evald
"""


@register("reco_cooccur_hitrate", _RECO_SQL)
def q_reco_cooccur_hitrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline recommender eval, leave-last-order-out: co-occurrence
    neighbors (top-10 per item by train-basket pair counts, capped like
    ``basket_pair_affinity``) score candidates per customer; hit-rate@10
    against the held-out final basket, per customer.  All ranking keys
    are integer counts with lexicographic ties — the eval is exactly
    reproducible, which offline reco evals in practice rarely are.
    Scale: co-occurrence is the Σ basket² stage SCALING already prices;
    everything downstream joins bounded top-N/ per-customer frames."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    w = W.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    lastord = o.select(
        "o_orderkey", "o_custkey", F.row_number().over(w).alias("rk")
    )
    joined = lastord.join(
        li.select("l_orderkey", "l_partkey"),
        lastord["o_orderkey"] == li["l_orderkey"],
    )
    train_items = (
        joined.filter(F.col("rk") > 1)
        .select(F.col("o_custkey").alias("custkey"), F.col("l_partkey").alias("item"))
        .distinct()
    )
    test_items = (
        joined.filter(F.col("rk") == 1)
        .select(F.col("o_custkey").alias("custkey"), F.col("l_partkey").alias("item"))
        .distinct()
    )
    train_baskets = (
        joined.filter(F.col("rk") > 1)
        .select(F.col("o_orderkey").alias("ok"), F.col("l_partkey").alias("item"))
        .distinct()
    )
    a = train_baskets.select("ok", F.col("item").alias("ia"))
    b = train_baskets.select("ok", F.col("item").alias("ib"))
    cooc = (
        a.join(b, "ok")
        .filter(F.col("ia") != F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    wn = W.partitionBy("ia").orderBy(F.desc("n"), F.asc("ib"))
    neigh = cooc.withColumn("rk", F.row_number().over(wn)).filter(
        F.col("rk") <= _RECO_NEIGH
    ).select("ia", "ib", "n")
    cand = (
        train_items.join(neigh, train_items["item"] == neigh["ia"])
        .join(
            train_items.select(
                F.col("custkey").alias("ck2"), F.col("item").alias("own")
            ),
            (F.col("custkey") == F.col("ck2")) & (F.col("ib") == F.col("own")),
            "left_anti",
        )
        .groupBy("custkey", F.col("ib").alias("item"))
        .agg(F.sum("n").cast("bigint").alias("score"))
    )
    wr = W.partitionBy("custkey").orderBy(F.desc("score"), F.asc("item"))
    recs = cand.withColumn("rk", F.row_number().over(wr)).filter(
        F.col("rk") <= _RECO_K
    ).select("custkey", "item")
    evald = (
        test_items.join(
            train_items.select("custkey").distinct(), "custkey", "left_semi"
        )
        .join(
            recs.withColumnRenamed("item", "ritem"),
            (test_items["custkey"] == recs["custkey"])
            & (test_items["item"] == F.col("ritem")),
            "left",
        )
        .groupBy(test_items["custkey"].alias("custkey"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.count("ritem").cast("bigint").alias("n_hits"),
        )
    )
    return evald.select(
        "custkey",
        "n_test",
        "n_hits",
        (
            F.col("n_hits").cast("double")
            / F.least(F.col("n_test"), F.lit(_RECO_K)).cast("double")
        ).alias("hit_rate"),
    )
