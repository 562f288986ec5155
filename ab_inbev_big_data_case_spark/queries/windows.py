"""Window-function operators (SURVEY.md §2.2 "Window functions").

Every ORDER BY inside a window is a total order (tie-broken by a key
column) — without that, ranking and running aggregates are nondeterministic
and can't be oracle-checked. Window aggregation shuffles once on the
partition keys; the sort is per-partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ab_inbev_big_data_case_spark.functions.money import money_sum, money_sum_sql
from ab_inbev_big_data_case_spark.registry import register
from ab_inbev_big_data_case_spark.sources.readers import table


@register(
    "window_topk_group",
    oracle="""
    SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price_r, rn
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY l_orderkey
            ORDER BY l_extendedprice DESC NULLS LAST, l_linenumber
        ) AS rn
        FROM lineitem
    ) WHERE rn <= 3
    """,
)
def window_topk_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via row_number — the scalable top-k (no global sort;
    one shuffle on the group key)."""
    li = table(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_orderkey").orderBy(
        F.col("l_extendedprice").desc(), F.col("l_linenumber")
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round("l_extendedprice", 2).alias("price_r"),
            "rn",
        )
    )


@register(
    "window_lag_lead",
    oracle="""
    SELECT event_id, user_id,
           round(value - lag(value) OVER w, 2) AS value_delta,
           lead(event_type) OVER w AS next_type,
           lag(event_type, 2, 'NONE') OVER w AS prev2_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
    """,
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead analytics along each user's event timeline."""
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        F.round(F.col("value") - F.lag("value").over(w), 2).alias("value_delta"),
        F.lead("event_type").over(w).alias("next_type"),
        F.lag("event_type", 2, "NONE").over(w).alias("prev2_type"),
    )


@register(
    "window_running",
    oracle="""
    SELECT o_orderkey, o_custkey,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate NULLS FIRST, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
           round(avg(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate NULLS FIRST, o_orderkey
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS moving_avg3,
           count(*) OVER (PARTITION BY o_custkey) AS n_cust_orders
    FROM orders
    """,
)
def window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Framed running/moving aggregates (ROWS frames)."""
    o = table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.round(
            F.sum("o_totalprice").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)), 2
        ).alias("running_total"),
        F.round(F.avg("o_totalprice").over(w.rowsBetween(-2, W.currentRow)), 4).alias(
            "moving_avg3"
        ),
        F.count("*").over(W.partitionBy("o_custkey")).alias("n_cust_orders"),
    )


@register(
    "window_rank",
    oracle="""
    SELECT c_custkey, c_nationkey,
           rank()       OVER w AS bal_rank,
           dense_rank() OVER w AS bal_dense_rank
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC NULLS LAST)
    """,
)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank (tie-tolerant: equal inputs get equal ranks, so no
    tiebreak column is needed for determinism)."""
    c = table(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc())
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.rank().over(w).alias("bal_rank"),
        F.dense_rank().over(w).alias("bal_dense_rank"),
    )


@register(
    "window_ntile",
    oracle="""
    SELECT c_custkey,
           ntile(4) OVER (ORDER BY c_acctbal DESC NULLS LAST, c_custkey) AS bal_quartile
    FROM customer
    """,
)
def window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile quartiles over a total order. Single-partition window — fine on
    a dim table; for fact-scale quantiles use percentile_approx instead."""
    c = table(spark, sf_dir, "customer")
    w = W.orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return c.select("c_custkey", F.ntile(4).over(w).alias("bal_quartile"))


@register(
    "window_range_frame",
    oracle="""
    SELECT o_orderkey, o_custkey,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate NULLS FIRST
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cume_by_date
    FROM orders
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame: peers (same orderdate) aggregate together, which keeps
    the result deterministic even though orderdate alone isn't a total order."""
    o = table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate")
        .rangeBetween(W.unboundedPreceding, W.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("cume_by_date"),
    )


@register(
    "window_first_last",
    oracle="""
    SELECT c_custkey, c_nationkey,
           first_value(c_name) OVER w AS richest_in_nation,
           last_value(c_name)  OVER w AS poorest_in_nation
    FROM customer
    WINDOW w AS (
        PARTITION BY c_nationkey
        ORDER BY c_acctbal DESC NULLS LAST, c_custkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last over the full-partition frame (explicit frame: the default
    frame would make last_value = current row)."""
    c = table(spark, sf_dir, "customer")
    w = (
        W.partitionBy("c_nationkey")
        .orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.first("c_name").over(w).alias("richest_in_nation"),
        F.last("c_name").over(w).alias("poorest_in_nation"),
    )


@register(
    "window_percent_rank",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           round(percent_rank() OVER w, 6) AS bal_pct_rank,
           round(cume_dist()    OVER w, 6) AS bal_cume_dist
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal NULLS FIRST, c_custkey)
    """,
)
def window_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.percent_rank().over(w), 6).alias("bal_pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("bal_cume_dist"),
    )


@register(
    "event_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (
                   PARTITION BY user_id
                   ORDER BY ts NULLS FIRST, event_id NULLS FIRST
               ) AS next_type
        FROM events
    )
    SELECT event_type, next_type, count(*)::BIGINT AS n,
           round(count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY event_type),
                 4) AS p_next
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey transition matrix (Markov bigram mining): per user,
    order events by time and pair each with its successor (one lead()
    window — a single shuffle on user_id), then count transitions and the
    per-source next-step distribution. The windowed sequence pass is the
    clickstream/session-mining workhorse: at 100 TB it shuffles once on
    the user key and every downstream aggregate is a bounded
    #event_types² table."""
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_first(), F.col("event_id").asc_nulls_first()
    )
    seq = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    wt = W.partitionBy("event_type")
    return (
        seq.groupBy("event_type", "next_type")
        .agg(F.count("*").alias("n"))
        .select(
            "event_type",
            "next_type",
            "n",
            F.round(F.col("n") * 1.0 / F.sum("n").over(wt), 4).alias("p_next"),
        )
    )


# Trailing EWMA over the last K observations (finite-window form used in
# monitoring: weights beta^i over present lags, renormalized at the series
# head). Shared weight literals keep both engines on the identical IEEE
# expression tree (left-assoc sums, same literal doubles).
_EWMA_K, _EWMA_BETA = 10, 0.8
_EWMA_W = [round(_EWMA_BETA**i, 12) for i in range(_EWMA_K)]

_EWMA_NUM = " + ".join(
    f"coalesce(v{i}, 0) * {w!r}" for i, w in enumerate(_EWMA_W)
)
_EWMA_DEN = " + ".join(
    f"(CASE WHEN v{i} IS NULL THEN 0 ELSE {w!r} END)" for i, w in enumerate(_EWMA_W)
)
_EWMA_LAGS = ",\n           ".join(
    f"lag(value, {i}) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, "
    f"event_id NULLS FIRST) AS v{i}"
    for i in range(_EWMA_K)
)

_EWMA_SQL = f"""
    WITH s AS (
        SELECT user_id, event_id, value,
           {_EWMA_LAGS}
        FROM events
    ),
    e AS (
        SELECT user_id, event_id, value,
               round(({_EWMA_NUM}) / ({_EWMA_DEN}), 4) AS ewma
        FROM s
    )
    SELECT user_id, event_id, value, ewma,
           round(value - ewma, 4) AS deviation
    FROM e
"""


@register("ewma_anomaly", oracle=_EWMA_SQL)
def ewma_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window EWMA per user (beta=0.8 over the last 10
    observations, head-renormalized) plus the residual against it — the
    streaming-metrics anomaly primitive. All 10 lags share ONE window
    (single shuffle on user_id, one sort); the weighted sum is a codegen'd
    scalar expression, so the whole query is shuffle+project at any scale.
    v0 is the current row, so the denominator is always ≥ 1 — no
    divide-by-zero path."""
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_first(), F.col("event_id").asc_nulls_first()
    )
    lagged = e.select(
        "user_id",
        "event_id",
        "value",
        *[F.lag("value", i).over(w).alias(f"v{i}") for i in range(_EWMA_K)],
    )
    num = F.lit(0.0)
    den = F.lit(0.0)
    for i, wt in enumerate(_EWMA_W):
        num = num + F.coalesce(F.col(f"v{i}"), F.lit(0.0)) * F.lit(wt)
        den = den + F.when(F.col(f"v{i}").isNull(), 0.0).otherwise(wt)
    scored = lagged.select(
        "user_id", "event_id", "value", F.round(num / den, 4).alias("ewma")
    )
    return scored.select(
        "user_id",
        "event_id",
        "value",
        "ewma",
        F.round(F.col("value") - F.col("ewma"), 4).alias("deviation"),
    )


@register(
    "mom_revenue_growth",
    oracle=f"""
    WITH m AS (
        SELECT date_trunc('month', o_orderdate)::TIMESTAMP AS month,
               {money_sum_sql('o_totalprice')}::DOUBLE
                   AS revenue
        FROM orders GROUP BY 1
    )
    SELECT month, revenue,
           round(revenue - lag(revenue) OVER (ORDER BY month), 2) AS delta,
           round((revenue - lag(revenue) OVER (ORDER BY month)) * 100.0
                 / lag(revenue) OVER (ORDER BY month), 4) AS pct_growth
    FROM m
    """,
)
def mom_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth: monthly rollup (decimal-exact money
    sums) + one lag() window over the tiny month spine — the standard
    reporting shape where the window runs on the AGGREGATE (dozens of
    rows), never the fact table."""
    o = table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("month")
    ).agg(
        money_sum(F.col("o_totalprice"))
        .cast("double")
        .alias("revenue")
    )
    w = W.orderBy("month")
    prev = F.lag("revenue").over(w)
    return m.select(
        "month",
        "revenue",
        F.round(F.col("revenue") - prev, 2).alias("delta"),
        F.round((F.col("revenue") - prev) * 100.0 / prev, 4).alias("pct_growth"),
    )
