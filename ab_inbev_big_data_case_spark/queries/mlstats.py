"""Statistical / ML-adjacent analytics operators (SURVEY.md §2.2 round-4
widening): closed-form regression, hypothesis testing, correlation
matrices, RFM segmentation, Pareto frontiers, winsorization, sweep-line
interval concurrency, and marketing attribution.

These are the aggregate-shaped ML primitives a warehouse team runs beside
the reference's load→clean→publish pipeline (generalizing
``glue/etl_api.py:42-45``'s groupBy aggregate into the statistical aggs a
real deployment needs). Everything is a one-or-two-shuffle plan built from
JVM-side aggregates — no MLlib, no driver-side math: the closed forms
(normal equations, Welch statistic, percentile boundaries) are themselves
expressed as Catalyst aggregates so they scale like any other groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ab_inbev_big_data_case_spark.functions.money import (
    cents,
    cents_sql,
    money,
    money_sql,
    money_sum,
    money_sum_sql,
)
from ab_inbev_big_data_case_spark.functions.text import (
    token_hash64,
    token_hash64_sql,
    token_hash_mod_sql,
)
from ab_inbev_big_data_case_spark.operators.relational import prefix_sums
from ab_inbev_big_data_case_spark.registry import register
from ab_inbev_big_data_case_spark.sources.readers import const_df, load_tables, table
from ab_inbev_big_data_case_spark.operators.graph import (
    basket_pairs,
    basket_pairs_sql,
    degrees,
    triangle_support,
    triangles,
    triangles_sql,
)
from ab_inbev_big_data_case_spark.operators.lineage import cut


def _sql(spark: SparkSession, sf_dir: str, tables: tuple[str, ...], sql: str) -> DataFrame:
    load_tables(spark, sf_dir, tables)
    return spark.sql(sql)


# ------------------------------------------------------------- regression

# Closed-form simple OLS per group via the SQL-standard regr_* aggregates
# (Spark ≥3.4 and DuckDB implement the same definitions). At 100 TB this is
# one partial+final aggregate pass — the normal-equation moments
# (Σx, Σy, Σxy, Σx²) combine associatively, so there is exactly one shuffle
# keyed on the (low-cardinality) group column.
_OLS_SQL = """
    SELECT l_returnflag,
           count(*) AS n,
           round(regr_slope(l_extendedprice, l_quantity), 4) AS slope_r,
           round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept_r,
           round(regr_r2(l_extendedprice, l_quantity), 6) AS r2_r
    FROM lineitem
    GROUP BY l_returnflag
"""


@register("ols_regression", oracle=_OLS_SQL)
def ols_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group simple linear regression (extendedprice ~ quantity) via
    the associative regr_* moment aggregates — one shuffle, no MLlib."""
    return _sql(spark, sf_dir, ("lineitem",), _OLS_SQL)


# ------------------------------------------------------- Welch A/B t-test

# Two-sample Welch t-test between event cohorts, entirely as one filtered
# aggregate: means/variances/counts for both arms come out of a single
# events scan (FILTER-ed aggs share the pass), the t statistic and
# Welch–Satterthwaite df are scalar arithmetic on the one-row result.
_WELCH_SQL = """
    WITH s AS (
        SELECT avg(value)      FILTER (WHERE event_type = 'click')    AS ma,
               var_samp(value) FILTER (WHERE event_type = 'click')    AS va,
               count(*)        FILTER (WHERE event_type = 'click')    AS na,
               avg(value)      FILTER (WHERE event_type = 'purchase') AS mb,
               var_samp(value) FILTER (WHERE event_type = 'purchase') AS vb,
               count(*)        FILTER (WHERE event_type = 'purchase') AS nb
        FROM events
    )
    SELECT na, nb,
           round(ma, 4) AS mean_a_r,
           round(mb, 4) AS mean_b_r,
           round((ma - mb) / sqrt(va / na + vb / nb), 4) AS t_stat_r,
           round(pow(va / na + vb / nb, 2) /
                 (pow(va / na, 2) / (na - 1) + pow(vb / nb, 2) / (nb - 1)),
                 2) AS df_welch_r
    FROM s
"""


@register("welch_ab_test", oracle=_WELCH_SQL)
def welch_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t-test (click vs purchase event values): both arms'
    moments from ONE scan via FILTER-ed aggregates, statistic as scalar
    arithmetic on the single-row aggregate."""
    return _sql(spark, sf_dir, ("events",), _WELCH_SQL)


# ------------------------------------------------------ correlation matrix

_CORR_PAIRS = [
    ("qty_price", "l_quantity", "l_extendedprice"),
    ("qty_disc", "l_quantity", "l_discount"),
    ("qty_tax", "l_quantity", "l_tax"),
    ("price_disc", "l_extendedprice", "l_discount"),
    ("price_tax", "l_extendedprice", "l_tax"),
    ("disc_tax", "l_discount", "l_tax"),
]

_CORR_SQL = (
    "WITH c AS (SELECT "
    + ", ".join(f"corr({x}, {y}) AS c_{p}" for p, x, y in _CORR_PAIRS)
    + " FROM lineitem) "
    + " UNION ALL ".join(
        f"SELECT '{p}' AS pair, round(c_{p}, 6) AS corr_r FROM c"
        for p, _, _ in _CORR_PAIRS
    )
)


@register("corr_matrix", oracle=_CORR_SQL)
def corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix (upper triangle) of four
    lineitem measures: all six corr() co-moments accumulate in ONE
    aggregate over one scan, then melt to (pair, corr) rows in-row —
    no per-pair scans, no shuffle beyond the single global aggregate."""
    li = table(spark, sf_dir, "lineitem")
    wide = li.agg(
        *[F.corr(x, y).alias(f"c_{p}") for p, x, y in _CORR_PAIRS]
    )
    melted = wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(p).alias("pair"),
                        F.round(F.col(f"c_{p}"), 6).alias("corr_r"),
                    )
                    for p, _, _ in _CORR_PAIRS
                ]
            )
        ).alias("kv")
    )
    return melted.select("kv.pair", "kv.corr_r")


# ------------------------------------------------------- RFM segmentation

# Recency/Frequency/Monetary customer segmentation. The scale-critical
# choice: quartile BOUNDARIES via percentile aggregates (one tiny one-row
# result, broadcast back), NOT ntile() over a global window — ntile needs a
# single-partition total sort, boundaries keep every pass parallel. The
# bucketed metrics are integers (days / counts / cents) so the int-vs-
# boundary comparisons are engine-exact.
_RFM_DUCK = """
    WITH rfm AS (
        SELECT o_custkey,
               datediff('day', max(o_orderdate),
                        (SELECT max(o_orderdate) FROM orders)) AS rec_days,
               count(*) AS freq,
               CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS mon_cents
        FROM orders GROUP BY o_custkey
    ),
    b AS (
        SELECT quantile_cont(rec_days, 0.25) AS r1, quantile_cont(rec_days, 0.5) AS r2,
               quantile_cont(rec_days, 0.75) AS r3,
               quantile_cont(freq, 0.25) AS f1, quantile_cont(freq, 0.5) AS f2,
               quantile_cont(freq, 0.75) AS f3,
               quantile_cont(mon_cents, 0.25) AS m1, quantile_cont(mon_cents, 0.5) AS m2,
               quantile_cont(mon_cents, 0.75) AS m3
        FROM rfm
    )
    SELECT concat('R', 1 + (rec_days > r1)::INT + (rec_days > r2)::INT + (rec_days > r3)::INT,
                  'F', 1 + (freq > f1)::INT + (freq > f2)::INT + (freq > f3)::INT,
                  'M', 1 + (mon_cents > m1)::INT + (mon_cents > m2)::INT + (mon_cents > m3)::INT)
               AS segment,
           count(*) AS n_customers,
           CAST(round(avg(mon_cents)) AS BIGINT) AS avg_monetary_cents
    FROM rfm CROSS JOIN b
    GROUP BY 1
"""


@register("rfm_segmentation", oracle=_RFM_DUCK)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per-customer integer metrics (one
    shuffle), quartile boundaries as a broadcast one-row aggregate, bucket
    codes as codegen'd CASE arithmetic — deliberately avoids ntile()'s
    single-partition global sort, so the plan survives 100 TB."""
    o = table(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("freq"),
        F.round(F.sum("o_totalprice") * 100).cast("bigint").alias("mon_cents"),
    )
    anchor = o.agg(F.max("o_orderdate").alias("anchor"))
    rfm = rfm.crossJoin(F.broadcast(anchor)).select(
        F.datediff("anchor", "last_order").alias("rec_days"), "freq", "mon_cents"
    )
    b = rfm.agg(
        *[
            F.percentile(c, q).alias(f"{c[0]}{i}")
            for c in ("rec_days", "freq", "mon_cents")
            for i, q in ((1, 0.25), (2, 0.5), (3, 0.75))
        ]
    )

    def bucket(col: str, pfx: str):
        v = F.col(col)
        return (
            F.lit(1)
            + (v > F.col(f"{pfx}1")).cast("int")
            + (v > F.col(f"{pfx}2")).cast("int")
            + (v > F.col(f"{pfx}3")).cast("int")
        )

    seg = rfm.crossJoin(F.broadcast(b)).select(
        F.concat(
            F.lit("R"), bucket("rec_days", "r"),
            F.lit("F"), bucket("freq", "f"),
            F.lit("M"), bucket("mon_cents", "m"),
        ).alias("segment"),
        "mon_cents",
    )
    return seg.groupBy("segment").agg(
        F.count("*").alias("n_customers"),
        F.round(F.avg("mon_cents")).cast("bigint").alias("avg_monetary_cents"),
    )


# --------------------------------------------------------- 2-D skyline

# Pareto frontier (maximize price AND size). Scale shape: the classic
# distributed skyline — a LOCAL skyline per (arbitrary hash) partition
# first, which can only discard globally-dominated points, then the exact
# global pass over the few survivors. The heavy input never feeds a global
# sort; only the pruned candidate set crosses a single partition.
_SKYLINE_DUCK = """
    WITH pts AS (
        SELECT DISTINCT round(p_retailprice, 2) AS price_r, p_size FROM part
    )
    SELECT price_r, p_size
    FROM pts a
    WHERE NOT EXISTS (
        SELECT 1 FROM pts b
        WHERE b.price_r >= a.price_r AND b.p_size >= a.p_size
          AND (b.price_r > a.price_r OR b.p_size > a.p_size)
    )
"""


def _skyline_pass(df: DataFrame, part_cols: list) -> DataFrame:
    """One dominance-prune pass: within each partition group, sorted by
    (price desc, size desc), a point survives iff no earlier point has
    size ≥ its own (earlier ⇒ price ≥; cummax(size) ≥ ⇒ dominated,
    with equal-pair duplicates already removed upstream)."""
    w = (
        Window.partitionBy(*part_cols)
        .orderBy(F.col("price_r").desc(), F.col("p_size").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        df.withColumn("cm", F.max("p_size").over(w))
        .filter(F.col("cm").isNull() | (F.col("p_size") > F.col("cm")))
        .drop("cm")
    )


@register("skyline_2d", oracle=_SKYLINE_DUCK)
def skyline_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto skyline of parts (maximize retail price and size):
    hash-partitioned local skylines prune in parallel, then one exact
    global pass over the survivors. Oracle states the same frontier as a
    NOT EXISTS dominance test."""
    p = table(spark, sf_dir, "part")
    pts = p.select(
        F.round("p_retailprice", 2).alias("price_r"), "p_size"
    ).distinct()
    local = _skyline_pass(
        pts.withColumn("bkt", F.pmod(F.xxhash64("price_r", "p_size"), F.lit(32))),
        ["bkt"],
    ).drop("bkt")
    return _skyline_pass(local, [])


# -------------------------------------------------------- winsorization

_WINSOR_DUCK = """
    WITH b AS (
        SELECT quantile_cont(o_totalprice, 0.01) AS p01,
               quantile_cont(o_totalprice, 0.99) AS p99
        FROM orders
    )
    SELECT count(*) AS n,
           round(min(b.p01), 4) AS p01_r,
           round(min(b.p99), 4) AS p99_r,
           round(avg(o_totalprice), 4) AS mean_raw_r,
           round(avg(least(greatest(o_totalprice, b.p01), b.p99)), 4) AS mean_wins_r
    FROM orders CROSS JOIN b
"""


@register("winsorize_stats", oracle=_WINSOR_DUCK)
def winsorize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean (clamp at p01/p99): boundary percentiles as a
    broadcast one-row aggregate joined back, clamp is codegen'd
    least/greatest — two scans, no sort, no window."""
    o = table(spark, sf_dir, "orders")
    b = o.agg(
        F.percentile("o_totalprice", 0.01).alias("p01"),
        F.percentile("o_totalprice", 0.99).alias("p99"),
    )
    return (
        o.crossJoin(F.broadcast(b))
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("p01"), 4).alias("p01_r"),
            F.round(F.min("p99"), 4).alias("p99_r"),
            F.round(F.avg("o_totalprice"), 4).alias("mean_raw_r"),
            F.round(
                F.avg(F.least(F.greatest(F.col("o_totalprice"), F.col("p01")), F.col("p99"))),
                4,
            ).alias("mean_wins_r"),
        )
    )


# ------------------------------------------- sweep-line interval concurrency

# Max concurrent 30-minute sessions per hour via the sweep-line trick:
# each interval contributes a +1/−1 edge, concurrency is the running sum.
# The scale-critical decomposition: a SINGLE global running sum would need
# a one-partition window, so instead the cumsum splits into (a) a
# per-hour-bucket cumsum — windows partitioned by bucket, fully parallel —
# plus (b) a carry-in of whole-bucket totals, a window over only the tiny
# bucket spine. Identical result, no single-partition pass over the data.
_SWEEP_DUCK = """
    WITH edges AS (
        SELECT ts AS t, 1 AS delta, event_id FROM events
        UNION ALL
        SELECT ts + INTERVAL 30 MINUTE AS t, -1 AS delta, event_id FROM events
    ),
    cum AS (
        SELECT date_trunc('hour', t) AS bucket_hour,
               sum(delta) OVER (PARTITION BY date_trunc('hour', t)
                                ORDER BY t, delta, event_id
                                ROWS UNBOUNDED PRECEDING) AS in_bucket
        FROM edges
    ),
    bucket_max AS (
        SELECT bucket_hour, max(in_bucket) AS mx
        FROM cum GROUP BY bucket_hour
    ),
    totals AS (
        SELECT date_trunc('hour', t) AS bucket_hour, sum(delta) AS tot
        FROM edges GROUP BY 1
    ),
    carried AS (
        SELECT bucket_hour,
               coalesce(sum(tot) OVER (ORDER BY bucket_hour
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS carry
        FROM totals
    )
    SELECT m.bucket_hour, CAST(c.carry + m.mx AS BIGINT) AS max_concurrent
    FROM bucket_max m JOIN carried c USING (bucket_hour)
"""


@register("concurrent_sessions", oracle=_SWEEP_DUCK)
def concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent 30-min sessions per hour, sweep-line style: ±1
    edges, per-bucket parallel cumsum + whole-bucket carry-in (the tiny
    bucket spine is the only partitionless window) — the two-level prefix
    sum that keeps a running total scalable."""
    e = table(spark, sf_dir, "events")
    edges = e.select(
        F.explode(
            F.array(
                F.struct(F.col("ts").alias("t"), F.lit(1).alias("delta")),
                F.struct(
                    (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("t"),
                    F.lit(-1).alias("delta"),
                ),
            )
        ).alias("ed"),
        "event_id",
    ).select(F.col("ed.t").alias("t"), F.col("ed.delta").alias("delta"), "event_id")
    edges = edges.withColumn("bucket_hour", F.date_trunc("hour", "t"))

    wb = (
        Window.partitionBy("bucket_hour")
        .orderBy("t", "delta", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bucket_max = (
        edges.withColumn("in_bucket", F.sum("delta").over(wb))
        .groupBy("bucket_hour")
        .agg(F.max("in_bucket").alias("mx"))
    )
    totals = edges.groupBy("bucket_hour").agg(F.sum("delta").alias("tot"))
    wc = Window.orderBy("bucket_hour").rowsBetween(Window.unboundedPreceding, -1)
    carried = totals.select(
        "bucket_hour", F.coalesce(F.sum("tot").over(wc), F.lit(0)).alias("carry")
    )
    return bucket_max.join(carried, "bucket_hour").select(
        "bucket_hour", (F.col("carry") + F.col("mx")).cast("bigint").alias("max_concurrent")
    )


# ---------------------------------------------------- last-touch attribution

_ATTR_DUCK = """
    WITH ev AS (
        SELECT event_id, ts, user_id, event_type, value FROM events
        WHERE event_type IN ('click', 'purchase')
    ),
    w AS (
        SELECT event_type, value, ts,
               last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_ts
        FROM ev
    )
    SELECT (click_ts IS NOT NULL) AS attributed,
           count(*) AS n_purchases,
           round(sum(value), 2) AS total_value_r,
           round(avg(epoch(ts) - epoch(click_ts)), 1) AS avg_latency_s_r
    FROM w
    WHERE event_type = 'purchase'
    GROUP BY 1
"""


@register("attribution_last_touch", oracle=_ATTR_DUCK)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase credits the user's
    most recent prior click via one per-user window (last ignorenulls over
    the filtered click/purchase stream) — the as-of-join shape without a
    join, one shuffle keyed on user_id."""
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scored = e.withColumn(
        "click_ts",
        F.last(
            F.when(F.col("event_type") == "click", F.col("ts")), ignorenulls=True
        ).over(w),
    ).filter(F.col("event_type") == "purchase")
    return scored.groupBy(
        F.col("click_ts").isNotNull().alias("attributed")
    ).agg(
        F.count("*").alias("n_purchases"),
        F.round(F.sum("value"), 2).alias("total_value_r"),
        F.round(
            F.avg(F.unix_timestamp("ts") - F.unix_timestamp("click_ts")), 1
        ).alias("avg_latency_s_r"),
    )


@register(
    "market_basket_pairs",
    oracle=f"""
    WITH {basket_pairs_sql()},
    tot AS (SELECT count(DISTINCT l_orderkey) AS n_ord FROM lineitem),
    pairs AS (
        SELECT u AS p1, v AS p2, count(*) AS n_co FROM basket_pairs GROUP BY 1, 2
    )
    SELECT p1, p2, n_co, round(n_co * 1.0 / t.n_ord, 6) AS support_r
    FROM pairs CROSS JOIN tot t
    ORDER BY n_co DESC, p1, p2
    LIMIT 20
    """,
)
def market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket 2-itemset mining: top co-occurring part pairs across
    orders with their support — the candidate-generation step of
    Apriori/FP-growth expressed as one basket-pair build + count.

    Scale shape: the pair build fans out per BASKET (order), not per
    corpus: k items in a basket emit k(k-1)/2 pairs, and TPC-H baskets
    are ≤7 lines, so fan-out is bounded per key by the data model (a
    general-baskets deployment caps or samples mega-baskets first — the
    ``basket_pairs`` ``max_basket`` guard). The pair count
    is a partial+final aggregate on (p1, p2), the order total is a
    broadcast 1-row aggregate, and the top-20 is TakeOrderedAndProject."""
    li = table(spark, sf_dir, "lineitem")
    tot = li.agg(F.countDistinct("l_orderkey").cast("double").alias("n_ord"))
    return (
        basket_pairs(li, "l_orderkey", "l_partkey")
        .groupBy(F.col("u").alias("p1"), F.col("v").alias("p2"))
        .agg(F.count("*").alias("n_co"))
        .crossJoin(F.broadcast(tot))
        .select(
            "p1",
            "p2",
            "n_co",
            F.round(F.col("n_co") / F.col("n_ord"), 6).alias("support_r"),
        )
        .orderBy(F.col("n_co").desc(), "p1", "p2")
        .limit(20)
    )


@register(
    "triangle_count",
    oracle=f"""
    WITH {basket_pairs_sql()},
    edges AS (
        SELECT u, v FROM basket_pairs GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    {triangles_sql("edges")}
    SELECT (SELECT count(*) FROM edges_tri) AS n_triangles,
           (SELECT count(*) FROM edges) AS n_edges,
           (SELECT count(DISTINCT u) + count(DISTINCT v)
              FROM edges) AS deg_endpoints
    """,
)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the co-purchase graph (parts bought together
    in ≥2 orders), each triangle once.

    Scale shape: the support-≥2 threshold is the edge-sparsifier (the
    co-purchase graph below it is boilerplate-dense); ``triangles``
    enumerates by degree order, which bounds the wedge join by m^1.5 on
    power-law graphs."""
    edges = (
        basket_pairs(table(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey")
        .groupBy("u", "v")
        .agg(F.count("*").alias("n_co"))
        .filter(F.col("n_co") >= 2)
        .select("u", "v")
    )
    tri = triangles(edges).agg(F.count("*").alias("n_triangles"))
    stats = edges.agg(
        F.count("*").alias("n_edges"),
        (F.countDistinct("u") + F.countDistinct("v")).alias("deg_endpoints"),
    )
    return tri.crossJoin(F.broadcast(stats)).select(
        "n_triangles", "n_edges", "deg_endpoints"
    )


_KHOP_SQL = f"""
    WITH {basket_pairs_sql()},
    e AS (
        SELECT u, v FROM basket_pairs GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
    seed AS (SELECT min(u) AS s FROM e),
    h1 AS (SELECT DISTINCT sym.v FROM sym JOIN seed ON sym.u = seed.s),
    h2 AS (
        SELECT DISTINCT sym.v FROM sym JOIN h1 ON sym.u = h1.v
        UNION SELECT v FROM h1
    ),
    h3 AS (
        SELECT DISTINCT sym.v FROM sym JOIN h2 ON sym.u = h2.v
        UNION SELECT v FROM h2
    )
    SELECT 1::BIGINT AS hop, count(*) AS n_reachable FROM h1
    UNION ALL SELECT 2::BIGINT, count(*) FROM h2
    UNION ALL SELECT 3::BIGINT, count(*) FROM h3
"""


@register("khop_reachability", oracle=_KHOP_SQL)
def khop_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-hop reachability (k ≤ 3) from the smallest vertex of the
    co-purchase graph (same support-≥2 edge set as ``triangle_count``,
    symmetrized): cumulative distinct vertices within 1, 2, and 3 hops —
    the BFS frontier-expansion primitive behind ego-network features and
    blast-radius queries.

    Scale shape: the UNROLLED fixed-k Pregel pattern (``operators/
    graph.py``) — each hop is one equi-join frontier × edges plus a
    distinct, so the plan is k joins deep with NO driver-side iteration
    or collect; the frontier stays a DataFrame throughout. The seed is a
    broadcast 1-row aggregate. Distincts bound each frontier by |V|, the
    monotone-cumulative union makes the count non-decreasing in k (pinned
    by pytest)."""
    e = (
        basket_pairs(table(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey")
        .groupBy("u", "v")
        .agg(F.count("*").alias("n_co"))
        .filter(F.col("n_co") >= 2)
        .select("u", "v")
    )
    sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    seed = e.agg(F.min("u").alias("s"))
    h1 = (
        sym.join(F.broadcast(seed), sym.u == F.col("s"))
        .select("v")
        .distinct()
    )
    h2 = (
        sym.join(h1.select(F.col("v").alias("f")), sym.u == F.col("f"))
        .select("v")
        .union(h1)
        .distinct()
    )
    h3 = (
        sym.join(h2.select(F.col("v").alias("f")), sym.u == F.col("f"))
        .select("v")
        .union(h2)
        .distinct()
    )
    counts = [
        h.agg(F.count("*").alias("n_reachable")).select(
            F.lit(k).cast("long").alias("hop"), "n_reachable"
        )
        for k, h in ((1, h1), (2, h2), (3, h3))
    ]
    return counts[0].unionAll(counts[1]).unionAll(counts[2])


_MI_SQL = """
    WITH j AS (
        SELECT l_returnflag AS x, l_linestatus AS y, count(*) AS n
        FROM lineitem GROUP BY 1, 2
    ),
    t AS (SELECT sum(n)::BIGINT AS nn FROM j),
    m AS (
        SELECT x, y, n,
               sum(n) OVER (PARTITION BY x)::BIGINT AS nx,
               sum(n) OVER (PARTITION BY y)::BIGINT AS ny
        FROM j
    ),
    mi AS (
        SELECT round(sum((m.n * 1.0 / t.nn) *
                     ln((m.n * 1.0 * t.nn) / (m.nx * 1.0 * m.ny))), 6) AS mi_r
        FROM m CROSS JOIN t
    ),
    hx AS (
        SELECT round(-sum((nx * 1.0 / t.nn) * ln(nx * 1.0 / t.nn)), 6) AS hx_r
        FROM (SELECT DISTINCT x, nx FROM m) CROSS JOIN t
    ),
    hy AS (
        SELECT round(-sum((ny * 1.0 / t.nn) * ln(ny * 1.0 / t.nn)), 6) AS hy_r
        FROM (SELECT DISTINCT y, ny FROM m) CROSS JOIN t
    )
    SELECT mi.mi_r, hx.hx_r, hy.hy_r, t.nn AS n_rows
    FROM mi CROSS JOIN hx CROSS JOIN hy CROSS JOIN t
"""


@register("mutual_information", oracle=_MI_SQL)
def mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(X;Y) between return flag and line status, with
    both marginal entropies — the dependence screen a feature-selection
    pass runs between candidate categorical columns (MI=0 ⇔ independent;
    MI/min(H) near 1 ⇔ redundant feature).

    Scale shape: ONE grouped count collapses the fact table to the
    |X|·|Y| contingency spine (map-side combined — the only full-data
    pass); marginals are windows over that bounded spine, the total is a
    broadcast 1-row aggregate, and every probability term is exact
    integer counts cast at the last moment."""
    li = table(spark, sf_dir, "lineitem")
    from pyspark.sql import Window

    j = li.groupBy(
        F.col("l_returnflag").alias("x"), F.col("l_linestatus").alias("y")
    ).agg(F.count("*").alias("n"))
    t = j.agg(F.sum("n").cast("long").alias("nn"))
    m = (
        j.withColumn("nx", F.sum("n").over(Window.partitionBy("x")).cast("long"))
        .withColumn("ny", F.sum("n").over(Window.partitionBy("y")).cast("long"))
        .crossJoin(F.broadcast(t))
    )
    mi = m.agg(
        F.round(
            F.sum(
                (F.col("n") / F.col("nn"))
                * F.log((F.col("n") * F.col("nn")) / (F.col("nx") * F.col("ny")))
            ),
            6,
        ).alias("mi_r")
    )
    hx = (
        m.select("x", "nx", "nn")
        .distinct()
        .agg(
            F.round(
                -F.sum((F.col("nx") / F.col("nn")) * F.log(F.col("nx") / F.col("nn"))),
                6,
            ).alias("hx_r")
        )
    )
    hy = (
        m.select("y", "ny", "nn")
        .distinct()
        .agg(
            F.round(
                -F.sum((F.col("ny") / F.col("nn")) * F.log(F.col("ny") / F.col("nn"))),
                6,
            ).alias("hy_r")
        )
    )
    return (
        mi.crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .crossJoin(F.broadcast(t))
        .select("mi_r", "hx_r", "hy_r", F.col("nn").alias("n_rows"))
    )


_CHI2_SQL = """
    WITH j AS (
        SELECT l_returnflag AS x, l_linestatus AS y, count(*) AS n
        FROM lineitem GROUP BY 1, 2
    ),
    t AS (SELECT sum(n)::BIGINT AS nn FROM j),
    xs AS (SELECT x, sum(n)::BIGINT AS nx FROM j GROUP BY 1),
    ys AS (SELECT y, sum(n)::BIGINT AS ny FROM j GROUP BY 1),
    grid AS (
        SELECT xs.x, ys.y, xs.nx, ys.ny, coalesce(j.n, 0) AS n
        FROM xs CROSS JOIN ys
        LEFT JOIN j ON j.x = xs.x AND j.y = ys.y
    )
    SELECT round(sum(pow(g.n - (g.nx * 1.0 * g.ny / t.nn), 2)
                     / (g.nx * 1.0 * g.ny / t.nn)), 4) AS chi2_r,
           ((SELECT count(*) FROM xs) - 1)
               * ((SELECT count(*) FROM ys) - 1) AS dof,
           t.nn AS n_rows
    FROM grid g CROSS JOIN t
    GROUP BY t.nn
"""


@register("chi2_independence", oracle=_CHI2_SQL)
def chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence test between return flag and line
    status: observed joint counts vs the independence expectation
    nx·ny/N over the FULL level grid (zero-count cells re-enter via the
    cross-join — dropping them understates the statistic).

    Same contingency-spine shape as ``mutual_information``: one full-data
    grouped count, then all arithmetic on the |X|·|Y| grid built from a
    cross join of the two marginal tables (both bounded by level
    cardinality, broadcast by AQE)."""
    li = table(spark, sf_dir, "lineitem")
    j = li.groupBy(
        F.col("l_returnflag").alias("x"), F.col("l_linestatus").alias("y")
    ).agg(F.count("*").alias("n"))
    t = j.agg(F.sum("n").cast("long").alias("nn"))
    xs = j.groupBy("x").agg(F.sum("n").cast("long").alias("nx"))
    ys = j.groupBy("y").agg(F.sum("n").cast("long").alias("ny"))
    grid = (
        xs.crossJoin(ys)
        .join(j, ["x", "y"], "left")
        .withColumn("n", F.coalesce("n", F.lit(0)))
        .crossJoin(F.broadcast(t))
    )
    e = F.col("nx") * F.col("ny") / F.col("nn")
    stat = grid.groupBy("nn").agg(
        F.round(F.sum(F.pow(F.col("n") - e, 2) / e), 4).alias("chi2_r")
    )
    dof = (
        xs.agg(F.count("*").alias("cx"))
        .crossJoin(ys.agg(F.count("*").alias("cy")))
        .select(((F.col("cx") - 1) * (F.col("cy") - 1)).alias("dof"))
    )
    return stat.crossJoin(F.broadcast(dof)).select(
        "chi2_r", "dof", F.col("nn").alias("n_rows")
    )


_PSI_BIN_W, _PSI_BINS = 50_000, 10

_PSI_SQL = f"""
    WITH ref AS (
        SELECT least({_PSI_BINS - 1},
                     floor(o_totalprice / {_PSI_BIN_W}))::BIGINT AS bin
        FROM orders WHERE year(o_orderdate) = 1995
    ),
    cur AS (
        SELECT least({_PSI_BINS - 1},
                     floor(o_totalprice / {_PSI_BIN_W}))::BIGINT AS bin
        FROM orders WHERE year(o_orderdate) = 1996
    ),
    bins AS (SELECT unnest(range(0, {_PSI_BINS})) AS bin),
    rc AS (SELECT bin, count(*) AS n FROM ref GROUP BY 1),
    cc AS (SELECT bin, count(*) AS n FROM cur GROUP BY 1),
    tot AS (SELECT (SELECT count(*) FROM ref) AS nr,
                   (SELECT count(*) FROM cur) AS nc),
    g AS (
        SELECT b.bin,
               coalesce(rc.n, 0) AS n_ref,
               coalesce(cc.n, 0) AS n_cur,
               (coalesce(rc.n, 0) + 1.0) / (t.nr + {_PSI_BINS}) AS p,
               (coalesce(cc.n, 0) + 1.0) / (t.nc + {_PSI_BINS}) AS q
        FROM bins b
        LEFT JOIN rc ON rc.bin = b.bin
        LEFT JOIN cc ON cc.bin = b.bin
        CROSS JOIN tot t
    )
    SELECT bin, n_ref, n_cur,
           round(p, 6) AS p_r, round(q, 6) AS q_r,
           round((q - p) * ln(q / p), 6) AS psi_contrib_r
    FROM g
"""


@register("psi_drift", oracle=_PSI_SQL)
def psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the 1995 (reference) and 1996
    (current) order-price distributions over fixed 50k-wide bins — the
    drift monitor every deployed model/score runs per release (PSI < 0.1
    stable, > 0.25 drifted; per-bin contributions localize WHERE the
    distribution moved).

    Scale shape: two filtered grouped counts (one scan each, map-side
    combined) onto a FIXED 10-bin spine — bin edges are integer
    arithmetic, not learned quantiles, so there is no global sort and no
    cross-engine interpolation hazard; add-1 smoothing keeps empty bins
    finite and the full bin spine re-enters via the literal range."""
    o = table(spark, sf_dir, "orders")

    def binned(year: int) -> DataFrame:
        return (
            o.filter(F.year("o_orderdate") == year)
            .select(
                F.least(
                    F.lit(_PSI_BINS - 1),
                    F.floor(F.col("o_totalprice") / _PSI_BIN_W),
                )
                .cast("long")
                .alias("bin")
            )
            .groupBy("bin")
            .agg(F.count("*").alias("n"))
        )

    rc, cc = binned(1995), binned(1996)
    bins = spark.range(_PSI_BINS).select(F.col("id").alias("bin"))
    tot = (
        rc.agg(F.sum("n").alias("nr"))
        .crossJoin(cc.agg(F.sum("n").alias("nc")))
    )
    g = (
        bins.join(rc.withColumnRenamed("n", "n_ref"), "bin", "left")
        .join(cc.withColumnRenamed("n", "n_cur"), "bin", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bin",
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
            (
                (F.coalesce("n_ref", F.lit(0)) + 1.0)
                / (F.col("nr") + _PSI_BINS)
            ).alias("p"),
            (
                (F.coalesce("n_cur", F.lit(0)) + 1.0)
                / (F.col("nc") + _PSI_BINS)
            ).alias("q"),
        )
    )
    return g.select(
        "bin",
        "n_ref",
        "n_cur",
        F.round("p", 6).alias("p_r"),
        F.round("q", 6).alias("q_r"),
        F.round((F.col("q") - F.col("p")) * F.log(F.col("q") / F.col("p")), 6).alias(
            "psi_contrib_r"
        ),
    )


# ---------------------------------------------- Kaplan-Meier survival

_KM_SQL = """
    WITH su AS (
        SELECT user_id, min(epoch_us(ts)) AS s_us
        FROM events WHERE event_type = 'signup' GROUP BY 1
    ),
    pu AS (
        SELECT e.user_id, min(epoch_us(e.ts)) AS p_us
        FROM events e JOIN su ON su.user_id = e.user_id
                            AND epoch_us(e.ts) > su.s_us
        WHERE e.event_type = 'purchase'
        GROUP BY 1
    ),
    obs AS (SELECT max(epoch_us(ts)) AS end_us FROM events),
    durs AS (
        SELECT CASE WHEN pu.p_us IS NOT NULL
                    THEN (pu.p_us - su.s_us) // 86400000000
                    ELSE (o.end_us - su.s_us) // 86400000000
               END AS t_day,
               CASE WHEN pu.p_us IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM su LEFT JOIN pu ON pu.user_id = su.user_id
        CROSS JOIN obs o
    ),
    g AS (SELECT t_day, sum(ev) AS d, count(*) AS c FROM durs GROUP BY 1),
    sp AS (
        SELECT t_day, d,
               sum(c) OVER (ORDER BY t_day DESC
                            ROWS UNBOUNDED PRECEDING) AS n_risk
        FROM g
    ),
    km AS (
        SELECT t_day, d, n_risk,
               min(CASE WHEN d = n_risk THEN 0 ELSE 1 END)
                   OVER (ORDER BY t_day ROWS UNBOUNDED PRECEDING) AS nz,
               sum(ln(CASE WHEN d = n_risk THEN 1.0
                           ELSE 1.0 - d * 1.0 / n_risk END))
                   OVER (ORDER BY t_day ROWS UNBOUNDED PRECEDING) AS ln_s
        FROM sp WHERE d > 0
    )
    SELECT t_day, d::BIGINT AS n_events, n_risk::BIGINT AS n_risk,
           CASE WHEN nz = 0 THEN 0.0 ELSE round(exp(ln_s), 6) END AS surv_r
    FROM km
"""


@register("kaplan_meier_survival", oracle=_KM_SQL)
def kaplan_meier_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for signup -> first-purchase conversion
    with right-censoring: users who never purchase are censored at the
    observation end instead of being dropped (dropping them is THE classic
    conversion-rate bias), S(t) = prod_{t_i <= t} (1 - d_i / n_i).

    Scale shape: per-user first-signup / first-purchase reductions are
    grouped aggs keyed on user; durations then collapse onto the DAY
    spine, which is calendar-bounded (O(observation days), ~30 here,
    independent of user count) — the at-risk counts (descending cumsum),
    the zero-factor guard (running min), and the log-survival running sum
    are all windows over that bounded spine (the documented bounded-spine
    exception). The product is computed as exp(sum ln(factor)) with the
    summation order fixed by the day ordering, so both engines accumulate
    identical FP; a d_i = n_i terminal factor is handled exactly (surv 0)
    rather than through ln(0), whose result differs across engines."""
    e = table(spark, sf_dir, "events")
    su = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("s_us"))
    )
    pu = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id", F.unix_micros("ts").alias("p_raw"))
        .join(su, "user_id")
        .filter(F.col("p_raw") > F.col("s_us"))
        .groupBy("user_id")
        .agg(F.min("p_raw").alias("p_us"))
    )
    obs = e.agg(F.max(F.unix_micros("ts")).alias("end_us"))
    day_us = F.lit(86_400_000_000)
    durs = (
        su.join(pu, "user_id", "left")
        .crossJoin(F.broadcast(obs))
        .select(
            F.when(
                F.col("p_us").isNotNull(),
                F.expr("(p_us - s_us) div 86400000000"),
            )
            .otherwise(F.expr("(end_us - s_us) div 86400000000"))
            .alias("t_day"),
            F.when(F.col("p_us").isNotNull(), 1).otherwise(0).alias("ev"),
        )
    )
    g = durs.groupBy("t_day").agg(
        F.sum("ev").alias("d"), F.count("*").alias("c")
    )
    # bounded day spine (O(observation days)) — see docstring
    w_desc = Window.orderBy(F.col("t_day").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sp = g.select(
        "t_day", "d", F.sum("c").over(w_desc).alias("n_risk")
    ).filter(F.col("d") > 0)
    w_asc = Window.orderBy("t_day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    factor = F.when(F.col("d") == F.col("n_risk"), F.lit(1.0)).otherwise(
        1.0 - F.col("d") / F.col("n_risk")
    )
    km = sp.select(
        "t_day",
        "d",
        "n_risk",
        F.min(F.when(F.col("d") == F.col("n_risk"), 0).otherwise(1))
        .over(w_asc)
        .alias("nz"),
        F.sum(F.log(factor)).over(w_asc).alias("ln_s"),
    )
    return km.select(
        "t_day",
        F.col("d").alias("n_events"),
        "n_risk",
        F.when(F.col("nz") == 0, F.lit(0.0))
        .otherwise(F.round(F.exp("ln_s"), 6))
        .alias("surv_r"),
    )


# ------------------------------------------- Wilson interval proportions

_WILSON_Z = 1.959963984540054  # two-sided 95%

_WILSON_SQL = f"""
    WITH j AS (
        SELECT p.p_brand,
               count(*) AS n_lines,
               sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT
                   AS n_returned
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1
    )
    SELECT p_brand, n_lines, n_returned,
           round(n_returned * 1.0 / n_lines, 6) AS rate_r,
           round((n_returned * 1.0 / n_lines
                  + {_WILSON_Z} * {_WILSON_Z} / (2 * n_lines)
                  - {_WILSON_Z} * sqrt(
                        (n_returned * 1.0 / n_lines)
                        * (1 - n_returned * 1.0 / n_lines) / n_lines
                        + {_WILSON_Z} * {_WILSON_Z}
                          / (4.0 * n_lines * n_lines)))
                 / (1 + {_WILSON_Z} * {_WILSON_Z} / n_lines), 6) AS lo_r,
           round((n_returned * 1.0 / n_lines
                  + {_WILSON_Z} * {_WILSON_Z} / (2 * n_lines)
                  + {_WILSON_Z} * sqrt(
                        (n_returned * 1.0 / n_lines)
                        * (1 - n_returned * 1.0 / n_lines) / n_lines
                        + {_WILSON_Z} * {_WILSON_Z}
                          / (4.0 * n_lines * n_lines)))
                 / (1 + {_WILSON_Z} * {_WILSON_Z} / n_lines), 6) AS hi_r
    FROM j
"""


@register("return_rate_wilson_ci", oracle=_WILSON_SQL)
def return_rate_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand return rate with a Wilson-score 95% interval: the
    interval estimate that stays inside [0,1] and behaves at small n —
    what the naive ±z√(p̂q̂/n) Wald interval gets wrong for rare events.
    Interval estimation beside ``welch_ab_test``'s hypothesis testing.

    Scale shape: ONE fact-dim join (part dim joins on the part key) and
    one grouped conditional count; the interval is pure scalar
    arithmetic on the aggregate row, codegen'd. The z constant is
    spelled to full double precision so both engines evaluate the
    identical expression tree on exact integer counts."""
    li = table(spark, sf_dir, "lineitem")
    p = load_tables(spark, sf_dir, ("part",))["part"]
    j = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            )
            .cast("long")
            .alias("n_returned"),
        )
    )
    z = _WILSON_Z
    phat = F.col("n_returned") / F.col("n_lines")
    n = F.col("n_lines")
    center = phat + z * z / (2 * n)
    margin = z * F.sqrt(phat * (1 - phat) / n + z * z / (4.0 * n * n))
    denom = 1 + z * z / n
    return j.select(
        "p_brand",
        "n_lines",
        "n_returned",
        F.round(phat, 6).alias("rate_r"),
        F.round((center - margin) / denom, 6).alias("lo_r"),
        F.round((center + margin) / denom, 6).alias("hi_r"),
    )


# ------------------------------------------------ Poisson bootstrap CI

_BOOT_B = 20
#: cumulative Poisson(1) PMF boundaries, spelled to full double precision
#: so both engines run the identical inverse-CDF CASE chain
_POIS_CDF = [
    0.36787944117144233,
    0.7357588823428847,
    0.919698602928606,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
]

_BOOT_CASE = " ".join(
    f"WHEN u < {c} THEN {k}" for k, c in enumerate(_POIS_CDF)
)

_BOOT_SQL = f"""
    WITH reps AS (
        SELECT o_orderkey, o_totalprice, t.b,
               {token_hash_mod_sql("'boot:' || o_orderkey || ':' || t.b")} / 1000000007.0
                   AS u
        FROM orders CROSS JOIN range({_BOOT_B}) t(b)
    ),
    weighted AS (
        SELECT b, o_totalprice,
               CASE {_BOOT_CASE} ELSE 6 END AS w
        FROM reps
    ),
    rmeans AS (
        SELECT b,
               round({money_sum_sql('w * o_totalprice')}
                     / sum(w), 4) AS rmean
        FROM weighted GROUP BY b
    ),
    full_mean AS (
        SELECT round({money_sum_sql('o_totalprice')}
                     / count(*), 4) AS est
        FROM orders
    )
    SELECT count(*) AS n_replicates,
           f.est AS point_est_r,
           round(quantile_cont(rmean, 0.025), 4) AS boot_lo_r,
           round(quantile_cont(rmean, 0.975), 4) AS boot_hi_r,
           round(stddev_samp(rmean), 4) AS boot_se_r
    FROM rmeans CROSS JOIN full_mean f
    GROUP BY f.est
"""


@register("poisson_bootstrap_ci", oracle=_BOOT_SQL)
def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap (Chamandy et al. 2012) confidence interval for
    the mean order value: each of 20 replicates reweights every row by a
    DETERMINISTIC Poisson(1) draw (inverse CDF over a portable-hash
    uniform), so the 'resample' is a single pass with no sampling state
    — THE way to bootstrap at 100 TB, where classic resample-n-rows
    needs global coordination. Deterministic draws double as
    reproducibility: the same CI on every run and every engine.

    Scale shape: the replicate fan-out is a bounded 20× in-row explode
    (a cheap constant, not data-dependent); each replicate mean is one
    grouped decimal-exact weighted sum; the quantile/stddev pass runs
    over the 20-row replicate spine. Weighted sums (integer weights ×
    money) are money sums, so replicate means are bit-identical across
    engines before the final double arithmetic."""
    o = table(spark, sf_dir, "orders")
    reps = o.select(
        "o_orderkey",
        "o_totalprice",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
    ).withColumn(
        "u",
        (
            token_hash64(
                F.concat(
                    F.lit("boot:"),
                    F.col("o_orderkey").cast("string"),
                    F.lit(":"),
                    F.col("b").cast("string"),
                )
            )
            % 1000000007
        )
        / 1000000007.0,
    )
    w_expr = F.lit(6)
    for k in reversed(range(len(_POIS_CDF))):
        w_expr = F.when(F.col("u") < _POIS_CDF[k], k).otherwise(w_expr)
    weighted = reps.select("b", "o_totalprice", w_expr.alias("w"))
    rmeans = weighted.groupBy("b").agg(
        F.round(
            money_sum(F.col("w") * F.col("o_totalprice"))
            / F.sum("w"),
            4,
        )
        .cast("double")
        .alias("rmean")
    )
    full_mean = o.agg(
        F.round(
            money_sum(F.col("o_totalprice"))
            / F.count("*"),
            4,
        )
        .cast("double")
        .alias("est")
    )
    return (
        rmeans.crossJoin(F.broadcast(full_mean))
        .groupBy("est")
        .agg(
            F.count("*").alias("n_replicates"),
            F.round(F.percentile("rmean", F.lit(0.025)), 4).alias("boot_lo_r"),
            F.round(F.percentile("rmean", F.lit(0.975)), 4).alias("boot_hi_r"),
            F.round(F.stddev_samp("rmean"), 4).alias("boot_se_r"),
        )
        .select(
            "n_replicates",
            F.col("est").alias("point_est_r"),
            "boot_lo_r",
            "boot_hi_r",
            "boot_se_r",
        )
    )


# ------------------------------------------------ CUPED variance reduction

_CUPED_SQL = f"""
    WITH spend AS (
        SELECT o_custkey AS cid,
               CAST(round(sum(CASE WHEN year(o_orderdate) = 1996
                     THEN {money_sql('o_totalprice')} ELSE 0 END), 2)
                     * 100 AS BIGINT) AS y_c,
               CAST(round(sum(CASE WHEN year(o_orderdate) = 1995
                     THEN {money_sql('o_totalprice')} ELSE 0 END), 2)
                     * 100 AS BIGINT) AS x_c
        FROM orders GROUP BY 1
    ),
    armed AS (
        SELECT cid, y_c, x_c,
               CASE WHEN ({token_hash64_sql("'exp:' || cid")}
                          % 100) < 50 THEN 'treatment' ELSE 'control' END AS arm
        FROM spend
    ),
    pooled AS (
        SELECT count(*) AS n,
               sum(CAST(x_c AS DECIMAL(38,0))) AS sx,
               sum(CAST(y_c AS DECIMAL(38,0))) AS sy,
               sum(CAST(x_c AS DECIMAL(38,0)) * CAST(y_c AS DECIMAL(38,0)))
                   AS sxy,
               sum(CAST(x_c AS DECIMAL(38,0)) * CAST(x_c AS DECIMAL(38,0)))
                   AS sxx
        FROM armed
    ),
    theta AS (
        SELECT (sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE / n)
               / (sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / n) AS th,
               sx::DOUBLE / n AS xbar
        FROM pooled
    ),
    arms AS (
        SELECT arm, count(*) AS n,
               sum(CAST(x_c AS DECIMAL(38,0))) AS sx,
               sum(CAST(y_c AS DECIMAL(38,0))) AS sy,
               sum(CAST(x_c AS DECIMAL(38,0)) * CAST(y_c AS DECIMAL(38,0)))
                   AS sxy,
               sum(CAST(x_c AS DECIMAL(38,0)) * CAST(x_c AS DECIMAL(38,0)))
                   AS sxx,
               sum(CAST(y_c AS DECIMAL(38,0)) * CAST(y_c AS DECIMAL(38,0)))
                   AS syy
        FROM armed GROUP BY 1
    )
    SELECT a.arm, a.n,
           round(a.sy::DOUBLE / a.n / 100, 2) AS mean_y_r,
           round((a.syy::DOUBLE - a.sy::DOUBLE * a.sy::DOUBLE / a.n)
                 / (a.n - 1) / 10000, 2) AS var_y_r,
           round(((a.syy::DOUBLE - a.sy::DOUBLE * a.sy::DOUBLE / a.n)
                  - 2 * t.th * (a.sxy::DOUBLE
                                - a.sx::DOUBLE * a.sy::DOUBLE / a.n)
                  + t.th * t.th * (a.sxx::DOUBLE
                                   - a.sx::DOUBLE * a.sx::DOUBLE / a.n))
                 / (a.n - 1) / 10000, 2) AS var_adj_r,
           round(1.0
                 - ((a.syy::DOUBLE - a.sy::DOUBLE * a.sy::DOUBLE / a.n)
                    - 2 * t.th * (a.sxy::DOUBLE
                                  - a.sx::DOUBLE * a.sy::DOUBLE / a.n)
                    + t.th * t.th * (a.sxx::DOUBLE
                                     - a.sx::DOUBLE * a.sx::DOUBLE / a.n))
                   / (a.syy::DOUBLE - a.sy::DOUBLE * a.sy::DOUBLE / a.n),
                 4) + 0.0 AS reduction_r
    FROM arms a CROSS JOIN theta t
"""


@register("cuped_adjustment", oracle=_CUPED_SQL)
def cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013): per-arm variance of
    the 1996 spend metric before and after subtracting θ·(pre-period
    1995 spend − mean), θ = cov(x,y)/var(x) pooled — the standard
    experimentation-platform trick that shrinks A/B confidence
    intervals for free. Completes the experimentation family:
    ``welch_ab_test`` tests, ``poisson_bootstrap_ci`` intervals, CUPED
    tightens.

    Scale shape: per-unit metric/covariate are one grouped conditional
    aggregate in exact cents; ALL second moments (Σxy, Σx², Σy²)
    accumulate in DECIMAL(38,0) — cents products overflow int64/double
    exactness at warehouse row counts, decimal partials stay exact and
    mergeable — and only the final closed-form ratios run in double on
    identical expression trees. Arms are the deterministic hash split;
    variances use the algebraic CUPED identity var(y*) = var(y) −
    2θcov + θ²var(x), so no per-row double sum exists anywhere."""
    o = table(spark, sf_dir, "orders")
    year_cents = lambda yr: (
        F.round(
            F.sum(
                F.when(
                    F.year("o_orderdate") == yr,
                    money(F.col("o_totalprice")),
                ).otherwise(money(F.lit(0)))
            ),
            2,
        )
        * 100
    ).cast("long")
    spend = o.groupBy(F.col("o_custkey").alias("cid")).agg(
        year_cents(1996).alias("y_c"), year_cents(1995).alias("x_c")
    )
    h = token_hash64(F.concat(F.lit("exp:"), F.col("cid").cast("string"))) % 100
    armed = spend.withColumn(
        "arm", F.when(h < 50, "treatment").otherwise("control")
    )
    dx = F.col("x_c").cast("decimal(38,0)")
    dy = F.col("y_c").cast("decimal(38,0)")
    moments = [
        F.count("*").alias("n"),
        F.sum(dx).alias("sx"),
        F.sum(dy).alias("sy"),
        F.sum(dx * dy).alias("sxy"),
        F.sum(dx * dx).alias("sxx"),
        F.sum(dy * dy).alias("syy"),
    ]
    pooled = armed.agg(*moments[:5])
    th = (
        F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double") / F.col("n")
    ) / (
        F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double") / F.col("n")
    )
    theta = pooled.select(th.alias("th"))
    arms = armed.groupBy("arm").agg(*moments)
    j = arms.crossJoin(F.broadcast(theta))
    ssy = F.col("syy").cast("double") - F.col("sy").cast("double") * F.col(
        "sy"
    ).cast("double") / F.col("n")
    scov = F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double") / F.col("n")
    ssx = F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double") / F.col("n")
    adj = ssy - 2 * F.col("th") * scov + F.col("th") * F.col("th") * ssx
    return j.select(
        "arm",
        "n",
        F.round(F.col("sy").cast("double") / F.col("n") / 100, 2).alias(
            "mean_y_r"
        ),
        F.round(ssy / (F.col("n") - 1) / 10000, 2).alias("var_y_r"),
        F.round(adj / (F.col("n") - 1) / 10000, 2).alias("var_adj_r"),
        # + 0.0 canonicalizes IEEE -0.0 (a tiny negative reduction rounds
        # to signed zero in one engine only — the community_modularity fix)
        (F.round(1.0 - adj / ssy, 4) + 0.0).alias("reduction_r"),
    )


# ------------------------------------------------ smoothed target encoding

_TENC_M = 50.0  # Bayesian prior weight (pseudo-observations at the global mean)

_TENC_SQL = f"""
    WITH base AS (
        SELECT p.p_brand,
               CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    g AS (SELECT sum(y) * 1.0 / count(*) AS mu FROM base),
    enc AS (
        SELECT p_brand, count(*) AS n, sum(y)::BIGINT AS n_pos
        FROM base GROUP BY 1
    )
    SELECT e.p_brand, e.n, e.n_pos,
           round(e.n_pos * 1.0 / e.n, 6) AS raw_rate_r,
           round((e.n_pos + {_TENC_M} * g.mu) / (e.n + {_TENC_M}), 6)
               AS encoded_r
    FROM enc e CROSS JOIN g
"""


@register("target_encoding_smoothed", oracle=_TENC_SQL)
def target_encoding_smoothed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target encoding (Micci-Barreca 2001): per-brand return
    rate shrunk toward the global mean with m=50 pseudo-observations —
    the leakage-resistant categorical featurizer (raw per-category means
    memorize rare categories; the prior pulls them back). The
    feature-engineering sibling of ``return_rate_wilson_ci``'s interval.

    Scale shape: one fact-dim join + one grouped conditional count per
    category + a broadcast 1-row global mean; the encode is codegen'd
    scalar arithmetic on exact integer counts."""
    li = table(spark, sf_dir, "lineitem")
    p = load_tables(spark, sf_dir, ("part",))["part"]
    base = li.join(p, li["l_partkey"] == p["p_partkey"]).select(
        "p_brand",
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    g = base.agg((F.sum("y") / F.count("*")).alias("mu"))
    enc = base.groupBy("p_brand").agg(
        F.count("*").alias("n"), F.sum("y").cast("long").alias("n_pos")
    )
    return enc.crossJoin(F.broadcast(g)).select(
        "p_brand",
        "n",
        "n_pos",
        F.round(F.col("n_pos") / F.col("n"), 6).alias("raw_rate_r"),
        F.round(
            (F.col("n_pos") + _TENC_M * F.col("mu")) / (F.col("n") + _TENC_M),
            6,
        ).alias("encoded_r"),
    )


# ------------------------------------------------ quantile treatment effect

_QTE_SQL = f"""
    WITH spend AS (
        SELECT o_custkey AS cid,
               CAST({money_sum_sql('o_totalprice')} * 100
                    AS BIGINT) AS y_c
        FROM orders GROUP BY 1
    ),
    armed AS (
        SELECT y_c,
               CASE WHEN ({token_hash64_sql("'exp:' || cid")}
                          % 100) < 50 THEN 'treatment' ELSE 'control' END AS arm
        FROM spend
    ),
    qs AS (
        SELECT arm,
               quantile_cont(y_c, 0.25) AS q25,
               quantile_cont(y_c, 0.50) AS q50,
               quantile_cont(y_c, 0.75) AS q75
        FROM armed GROUP BY 1
    )
    SELECT t.q::DOUBLE AS quantile_r,
           round(t.tv / 100, 2) AS treatment_r,
           round(t.cv / 100, 2) AS control_r,
           round((t.tv - t.cv) / 100, 2) AS qte_r
    FROM (
        SELECT 0.25 AS q, a.q25 AS tv, b.q25 AS cv
        FROM qs a, qs b WHERE a.arm = 'treatment' AND b.arm = 'control'
        UNION ALL
        SELECT 0.50, a.q50, b.q50
        FROM qs a, qs b WHERE a.arm = 'treatment' AND b.arm = 'control'
        UNION ALL
        SELECT 0.75, a.q75, b.q75
        FROM qs a, qs b WHERE a.arm = 'treatment' AND b.arm = 'control'
    ) t
"""


@register("quantile_treatment_effect", oracle=_QTE_SQL)
def quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects at p25/p50/p75: the per-quantile arm
    difference that shows WHERE in the distribution an effect lives
    (a mean shift from whales vs a broad lift look identical to
    ``welch_ab_test``; QTE separates them). Same deterministic hash
    split as ``cuped_adjustment``.

    Scale shape: per-unit metric in exact integer cents (one grouped
    agg), then ONE exact percentile aggregate per arm (mergeable
    partial state) over the unit table; the 3-row quantile spine
    assembles from the 2-row arm table. Cents-grid quantile
    interpolation per the ``rolling_median`` discipline."""
    o = table(spark, sf_dir, "orders")
    spend = o.groupBy(F.col("o_custkey").alias("cid")).agg(
        (
            money_sum(F.col("o_totalprice"))
            * 100
        )
        .cast("long")
        .alias("y_c")
    )
    h = token_hash64(F.concat(F.lit("exp:"), F.col("cid").cast("string"))) % 100
    armed = spend.select(
        "y_c", F.when(h < 50, "treatment").otherwise("control").alias("arm")
    )
    qs = armed.groupBy("arm").agg(
        *[
            F.percentile("y_c", F.lit(q)).alias(name)
            for q, name in ((0.25, "q25"), (0.50, "q50"), (0.75, "q75"))
        ]
    )
    t = qs.filter(F.col("arm") == "treatment")
    c = qs.filter(F.col("arm") == "control").select(
        F.col("q25").alias("c25"),
        F.col("q50").alias("c50"),
        F.col("q75").alias("c75"),
    )
    j = t.crossJoin(F.broadcast(c))
    rows = [
        j.select(
            F.lit(q).alias("quantile_r"),
            F.round(F.col(tv) / 100, 2).alias("treatment_r"),
            F.round(F.col(cv) / 100, 2).alias("control_r"),
            F.round((F.col(tv) - F.col(cv)) / 100, 2).alias("qte_r"),
        )
        for q, tv, cv in (
            (0.25, "q25", "c25"),
            (0.50, "q50", "c50"),
            (0.75, "q75", "c75"),
        )
    ]
    out = rows[0]
    for rdf in rows[1:]:
        out = out.unionAll(rdf)
    return out


# ------------------------------------- group-sequential A/B monitor

_GSM_SQL = f"""
    WITH base AS (
        SELECT date_trunc('week', o_orderdate)::TIMESTAMP AS wk,
               CASE WHEN ({token_hash64_sql("'exp:' || o_custkey")} % 100) < 50
                    THEN 't' ELSE 'c' END AS arm,
               {cents_sql('o_totalprice')} AS y_c
        FROM orders WHERE year(o_orderdate) = 1996
    ),
    wkagg AS (
        SELECT wk, arm, count(*) AS n,
               sum(CAST(y_c AS DECIMAL(38,0))) AS sy,
               sum(CAST(y_c AS DECIMAL(38,0)) * CAST(y_c AS DECIMAL(38,0)))
                   AS syy
        FROM base GROUP BY 1, 2
    ),
    cum AS (
        SELECT wk, arm,
               sum(n) OVER w AS n,
               sum(sy) OVER w AS sy,
               sum(syy) OVER w AS syy
        FROM wkagg
        WINDOW w AS (PARTITION BY arm ORDER BY wk ROWS UNBOUNDED PRECEDING)
    ),
    looks AS (
        SELECT t.wk,
               t.n AS nt, c.n AS nc,
               t.sy::DOUBLE / t.n AS mt, c.sy::DOUBLE / c.n AS mc,
               (t.syy::DOUBLE - t.sy::DOUBLE * t.sy::DOUBLE / t.n)
                   / (t.n - 1) AS vt,
               (c.syy::DOUBLE - c.sy::DOUBLE * c.sy::DOUBLE / c.n)
                   / (c.n - 1) AS vc
        FROM cum t JOIN cum c ON c.wk = t.wk
        WHERE t.arm = 't' AND c.arm = 'c' AND t.n > 1 AND c.n > 1
    ),
    fin AS (SELECT max(nt + nc) AS n_final FROM looks)
    SELECT l.wk,
           round((l.nt + l.nc) * 1.0 / f.n_final, 4) AS info_frac_r,
           round((l.mt - l.mc) / sqrt(l.vt / l.nt + l.vc / l.nc), 4)
               AS z_r,
           round(1.96 / sqrt((l.nt + l.nc) * 1.0 / f.n_final), 4)
               AS bound_r,
           CASE WHEN abs((l.mt - l.mc) / sqrt(l.vt / l.nt + l.vc / l.nc))
                     > 1.96 / sqrt((l.nt + l.nc) * 1.0 / f.n_final)
                THEN 1 ELSE 0 END AS crossed
    FROM looks l CROSS JOIN fin f
"""


@register("group_sequential_ab_monitor", oracle=_GSM_SQL)
def group_sequential_ab_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential A/B monitor: weekly interim looks at the 1996
    spend experiment, each comparing the cumulative Welch z against an
    O'Brien-Fleming-SHAPED boundary b(f) = z_final/√f (f = information
    fraction) — early looks demand overwhelming evidence, the final
    look costs ~nothing, which is what makes weekly peeking legitimate.
    The z_final = 1.96 constant is the illustrative fixed-final-level
    variant; a production deployment substitutes its Lan-DeMets
    alpha-spending calibration — the PLAN is identical.

    Scale shape: one grouped pass collapses orders to (week, arm)
    moment partials (cents and DECIMAL(38,0) squares — exact and
    mergeable); cumulative looks are windows over the bounded week
    spine PARTITIONED by arm; every z computes from exact cumulative
    moments on identical double trees."""
    o = table(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 1996)
    h = token_hash64(F.concat(F.lit("exp:"), F.col("o_custkey").cast("string"))) % 100
    base = o.select(
        F.date_trunc("week", "o_orderdate").alias("wk"),
        F.when(h < 50, "t").otherwise("c").alias("arm"),
        cents(F.col("o_totalprice")).alias("y_c"),
    )
    yd = F.col("y_c").cast("decimal(38,0)")
    wkagg = base.groupBy("wk", "arm").agg(
        F.count("*").alias("n"),
        F.sum(yd).alias("sy"),
        F.sum(yd * yd).alias("syy"),
    )
    w = (
        Window.partitionBy("arm")
        .orderBy("wk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = wkagg.select(
        "wk",
        "arm",
        F.sum("n").over(w).alias("n"),
        F.sum("sy").over(w).alias("sy"),
        F.sum("syy").over(w).alias("syy"),
    )
    t = cum.filter((F.col("arm") == "t") & (F.col("n") > 1)).select(
        "wk",
        F.col("n").alias("nt"),
        F.col("sy").alias("tsy"),
        F.col("syy").alias("tsyy"),
    )
    c = cum.filter((F.col("arm") == "c") & (F.col("n") > 1)).select(
        "wk",
        F.col("n").alias("nc"),
        F.col("sy").alias("csy"),
        F.col("syy").alias("csyy"),
    )
    looks = t.join(c, "wk").select(
        "wk",
        "nt",
        "nc",
        (F.col("tsy").cast("double") / F.col("nt")).alias("mt"),
        (F.col("csy").cast("double") / F.col("nc")).alias("mc"),
        (
            (
                F.col("tsyy").cast("double")
                - F.col("tsy").cast("double")
                * F.col("tsy").cast("double")
                / F.col("nt")
            )
            / (F.col("nt") - 1)
        ).alias("vt"),
        (
            (
                F.col("csyy").cast("double")
                - F.col("csy").cast("double")
                * F.col("csy").cast("double")
                / F.col("nc")
            )
            / (F.col("nc") - 1)
        ).alias("vc"),
    )
    fin = looks.agg(F.max(F.col("nt") + F.col("nc")).alias("n_final"))
    j = looks.crossJoin(F.broadcast(fin))
    z = (F.col("mt") - F.col("mc")) / F.sqrt(
        F.col("vt") / F.col("nt") + F.col("vc") / F.col("nc")
    )
    f_frac = (F.col("nt") + F.col("nc")) / F.col("n_final")
    bound = 1.96 / F.sqrt(f_frac)
    return j.select(
        "wk",
        F.round(f_frac, 4).alias("info_frac_r"),
        F.round(z, 4).alias("z_r"),
        F.round(bound, 4).alias("bound_r"),
        F.when(F.abs(z) > bound, 1).otherwise(0).alias("crossed"),
    )


# ------------------------------------- global clustering coefficient

_CLUSTCOEF_SQL = f"""
    WITH {basket_pairs_sql()},
    e AS (
        SELECT u, v FROM basket_pairs GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    {triangles_sql("e")},
    tri AS (SELECT count(*) AS n_tri FROM e_tri),
    deg AS (
        SELECT u AS node, count(*) AS d FROM (
            SELECT u, v FROM e UNION ALL SELECT v, u FROM e
        ) GROUP BY 1
    ),
    w AS (SELECT sum(d * (d - 1) / 2)::BIGINT AS n_wedges FROM deg)
    SELECT t.n_tri::BIGINT AS n_triangles, w.n_wedges,
           round(3.0 * t.n_tri / w.n_wedges, 6) AS clustering_coef_r
    FROM tri t CROSS JOIN w
"""


@register("clustering_coefficient", oracle=_CLUSTCOEF_SQL)
def clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient C = 3·triangles / wedges of the
    co-purchase graph — how much more triangle-closed the graph is than
    its degree sequence requires; read beside ``graph_assortativity``
    and ``triangle_count`` (whose closed-wedge count this normalizes).

    Scale shape: triangles from ``triangles`` (the ``triangle_count``
    plan); wedge count needs NO join at all — Σd(d−1)/2 over the
    ``degrees`` table the triangle order already derives, a 1-row
    aggregate of exact integers."""
    e = (
        basket_pairs(table(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey")
        .groupBy("u", "v")
        .agg(F.count("*").alias("n_co"))
        .filter(F.col("n_co") >= 2)
        .select("u", "v")
    )
    tri = triangles(e).agg(F.count("*").alias("n_tri"))
    w = degrees(e).agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("n_wedges")
    )
    return tri.crossJoin(F.broadcast(w)).select(
        F.col("n_tri").cast("long").alias("n_triangles"),
        "n_wedges",
        F.round(3.0 * F.col("n_tri") / F.col("n_wedges"), 6).alias(
            "clustering_coef_r"
        ),
    )


# ------------------------------------------------ Hill tail index

_HILL_K = 200

_HILL_SQL = f"""
    WITH spend AS (
        SELECT CAST({money_sum_sql('o_totalprice')} * 100
                    AS BIGINT) AS y_c
        FROM orders GROUP BY o_custkey
    ),
    topk AS (
        SELECT y_c, row_number() OVER (ORDER BY y_c DESC) AS rn
        FROM spend
        ORDER BY y_c DESC LIMIT {_HILL_K + 1}
    ),
    params AS (SELECT least({_HILL_K}, max(rn) - 1) AS k FROM topk),
    thresh AS (
        SELECT tk.y_c AS yk, p.k
        FROM topk tk CROSS JOIN params p
        WHERE tk.rn = p.k + 1
    )
    SELECT t.k::BIGINT AS k,
           round(t.yk / 100.0, 2) AS threshold_r,
           round(1.0 / avg(ln(tk.y_c * 1.0 / t.yk)), 4) AS hill_alpha_r
    FROM topk tk CROSS JOIN thresh t
    WHERE tk.rn <= t.k
    GROUP BY t.k, t.yk
"""


@register("hill_tail_index", oracle=_HILL_SQL)
def hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the spend distribution's tail index:
    α̂ = 1 / mean(ln(x_(i) / x_(k+1))) over the top-k order statistics —
    the heavy-tail diagnostic behind every skew decision in this repo
    (α ≤ 2: infinite variance, salting and AQE skew-handling are
    mandatory; α large: means behave). Pairs with ``zipf_fit`` (rank
    side) and ``join_key_skew_report`` (consequence side).

    Scale shape: the ONLY global ordering touches the top-(k+1) rows —
    TakeOrderedAndProject, never a full sort; the rank window then runs
    on that k+1-row spine and the estimator is one aggregate over it.
    Customer spend is exact integer cents; ln ratios compute on
    identical trees from those integers."""
    o = table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        (
            money_sum(F.col("o_totalprice"))
            * 100
        )
        .cast("long")
        .alias("y_c")
    )
    topk1 = spend.orderBy(F.col("y_c").desc()).limit(_HILL_K + 1)
    w = Window.orderBy(F.col("y_c").desc())  # k+1-row spine
    ranked = topk1.withColumn("rn", F.row_number().over(w))
    # k adapts when the population is smaller than the nominal 200 tail
    # (the sf0.001 fixture has ~150 customers — a fixed k yields an empty,
    # silently-degenerate estimate)
    params = ranked.agg(
        F.least(F.lit(_HILL_K), F.max("rn") - 1).alias("k")
    )
    thresh = (
        ranked.crossJoin(F.broadcast(params))
        .filter(F.col("rn") == F.col("k") + 1)
        .select(F.col("y_c").alias("yk"), "k")
    )
    return (
        ranked.crossJoin(F.broadcast(thresh))
        .filter(F.col("rn") <= F.col("k"))
        .groupBy("k", "yk")
        .agg(
            F.round(F.col("yk") / 100.0, 2).alias("threshold_r"),
            F.round(
                1.0 / F.avg(F.log(F.col("y_c") / F.col("yk"))), 4
            ).alias("hill_alpha_r"),
        )
        .select(
            F.col("k").cast("long").alias("k"),
            "threshold_r",
            "hill_alpha_r",
        )
    )


# ------------------------------------------------ Neyman allocation

_NEYMAN_BUDGET = 1000

_NEYMAN_SQL = f"""
    WITH spend AS (
        SELECT c.c_mktsegment AS stratum,
               CAST({money_sum_sql('o.o_totalprice')} * 100
                    AS BIGINT) AS y_c
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY c.c_mktsegment, o.o_custkey
    ),
    strata AS (
        SELECT stratum, count(*) AS nh,
               sum(CAST(y_c AS DECIMAL(38,0))) AS sy,
               sum(CAST(y_c AS DECIMAL(38,0)) * CAST(y_c AS DECIMAL(38,0)))
                   AS syy
        FROM spend GROUP BY 1
    ),
    sd AS (
        SELECT stratum, nh,
               sqrt((syy::DOUBLE - sy::DOUBLE * sy::DOUBLE / nh) / (nh - 1))
                   AS sh
        FROM strata
    ),
    tot AS (SELECT sum(nh * sh) AS denom FROM sd)
    SELECT s.stratum, s.nh,
           round(s.sh / 100, 2) AS stddev_r,
           CAST(floor({_NEYMAN_BUDGET} * s.nh * s.sh / t.denom + 0.5)
                AS BIGINT) AS n_alloc,
           round(s.nh * s.sh / t.denom, 4) AS alloc_frac_r
    FROM sd s CROSS JOIN tot t
"""


@register("neyman_allocation", oracle=_NEYMAN_SQL)
def neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman optimal sample allocation: a 1000-unit audit budget split
    across market segments ∝ N_h·S_h (stratum size × spend stddev) —
    the survey-sampling rule that minimizes estimator variance for a
    fixed budget, and the principled upgrade of proportional
    allocation wherever this repo samples (``stratified_lang_sample``).

    Scale shape: per-customer spend in exact cents, per-stratum
    moments in DECIMAL(38,0) (the CUPED discipline), the N_h·S_h
    normalizer a broadcast 1-row aggregate, allocations via the
    portable floor-ties quantizer."""
    o = table(spark, sf_dir, "orders")
    c = load_tables(spark, sf_dir, ("customer",))["customer"]
    spend = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_mktsegment").alias("stratum"), "o_custkey")
        .agg(
            (
                money_sum(F.col("o_totalprice"))
                * 100
            )
            .cast("long")
            .alias("y_c")
        )
    )
    yd = F.col("y_c").cast("decimal(38,0)")
    strata = spend.groupBy("stratum").agg(
        F.count("*").alias("nh"),
        F.sum(yd).alias("sy"),
        F.sum(yd * yd).alias("syy"),
    )
    sh = F.sqrt(
        (
            F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy").cast("double") / F.col("nh")
        )
        / (F.col("nh") - 1)
    )
    sd = strata.select("stratum", "nh", sh.alias("sh"))
    tot = sd.agg(F.sum(F.col("nh") * F.col("sh")).alias("denom"))
    return sd.crossJoin(F.broadcast(tot)).select(
        "stratum",
        "nh",
        F.round(F.col("sh") / 100, 2).alias("stddev_r"),
        F.floor(
            _NEYMAN_BUDGET * F.col("nh") * F.col("sh") / F.col("denom") + 0.5
        )
        .cast("long")
        .alias("n_alloc"),
        F.round(F.col("nh") * F.col("sh") / F.col("denom"), 4).alias(
            "alloc_frac_r"
        ),
    )


# ------------------------------------------------ two-way ANOVA

_ANOVA_SQL = f"""
    WITH cells AS (
        SELECT c.c_mktsegment AS a, o.o_orderpriority AS b,
               count(*) AS n,
               sum(CAST(round({money_sql('o.o_totalprice')}, 2) * 100
                        AS DECIMAL(38,0))) AS sy,
               sum(CAST(round({money_sql('o.o_totalprice')}, 2) * 100
                        AS DECIMAL(38,0))
                   * CAST(round({money_sql('o.o_totalprice')}, 2) * 100
                          AS DECIMAL(38,0))) AS syy
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    ),
    g AS (SELECT sum(n) AS nn, sum(sy) AS gy, sum(syy) AS gyy FROM cells),
    am AS (SELECT a, sum(n) AS na, sum(sy) AS ya FROM cells GROUP BY 1),
    bm AS (SELECT b, sum(n) AS nb, sum(sy) AS yb FROM cells GROUP BY 1),
    ss AS (
        SELECT
            (SELECT (gyy::DOUBLE - gy::DOUBLE * gy::DOUBLE / nn) / 10000
             FROM g) AS ss_tot,
            (SELECT sum(CAST(floor(ya::DOUBLE * ya::DOUBLE / na / 10000
                                   + 0.5) AS BIGINT))
                    - (SELECT gy::DOUBLE * gy::DOUBLE / nn / 10000 FROM g)
             FROM am) AS ss_a,
            (SELECT sum(CAST(floor(yb::DOUBLE * yb::DOUBLE / nb / 10000
                                   + 0.5) AS BIGINT))
                    - (SELECT gy::DOUBLE * gy::DOUBLE / nn / 10000 FROM g)
             FROM bm) AS ss_b,
            (SELECT sum(CAST(floor(sy::DOUBLE * sy::DOUBLE / n / 10000
                                   + 0.5) AS BIGINT))
                    - (SELECT gy::DOUBLE * gy::DOUBLE / nn / 10000 FROM g)
             FROM cells) AS ss_cells,
            (SELECT count(*) FROM am) AS ka,
            (SELECT count(*) FROM bm) AS kb,
            (SELECT count(*) FROM cells) AS kc,
            (SELECT nn FROM g) AS nn
    )
    SELECT nn::BIGINT AS n_rows,
           round(ss_a, 2) AS ss_segment_r,
           round(ss_b, 2) AS ss_priority_r,
           round(ss_cells - ss_a - ss_b, 2) AS ss_interaction_r,
           round(ss_tot - ss_cells, 2) AS ss_error_r,
           round((ss_a / (ka - 1))
                 / ((ss_tot - ss_cells) / (nn - kc)), 4) AS f_segment_r,
           round((ss_b / (kb - 1))
                 / ((ss_tot - ss_cells) / (nn - kc)), 4) AS f_priority_r
    FROM ss
"""


@register("anova_two_way", oracle=_ANOVA_SQL)
def anova_two_way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-way ANOVA of order value on market segment × order priority:
    the sum-of-squares decomposition (main effects, interaction,
    error) with F ratios for both factors — does WHO buys or HOW
    urgently explain spend variance. The k-group generalization of
    ``welch_ab_test``.

    Scale shape: ONE grouped pass collapses the joined fact to the
    |A|×|B| cell table with DECIMAL(38,0) moment partials (cents² —
    the CUPED discipline); every SS term is then arithmetic over that
    ≤25-row spine and its two marginal rollups. F ratios compute from
    exact moments on identical double trees."""
    o = table(spark, sf_dir, "orders")
    c = load_tables(spark, sf_dir, ("customer",))["customer"]
    y = (F.round(money(F.col("o_totalprice")), 2) * 100).cast(
        "decimal(38,0)"
    )
    cells = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_mktsegment").alias("a"),
            F.col("o_orderpriority").alias("b"),
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(y).alias("sy"),
            F.sum(y * y).alias("syy"),
        )
    )
    g = cells.agg(
        F.sum("n").alias("nn"), F.sum("sy").alias("gy"), F.sum("syy").alias("gyy")
    )
    am = cells.groupBy("a").agg(F.sum("n").alias("na"), F.sum("sy").alias("ya"))
    bm = cells.groupBy("b").agg(F.sum("n").alias("nb"), F.sum("sy").alias("yb"))
    gd = g.select(
        "nn",
        (
            (
                F.col("gyy").cast("double")
                - F.col("gy").cast("double")
                * F.col("gy").cast("double")
                / F.col("nn")
            )
            / 10000
        ).alias("ss_tot"),
        (
            F.col("gy").cast("double")
            * F.col("gy").cast("double")
            / F.col("nn")
            / 10000
        ).alias("cf"),
    )
    # each y²/n term quantizes to integer cents² (portable floor-ties)
    # BEFORE the sum: the raw double terms are deterministic, but a
    # multi-row double SUM is partial-aggregation-order-dependent — at
    # the ~1e14 magnitude of these SS terms the run-to-run last-ulp
    # wobble crosses the 2-decimal output grid. Integer sums are exact
    # and order-free; the ≤0.5-per-term quantization error is cents²
    # dust against a 1e4-cents² grid.
    def qterm(y, n):
        # units: whole DOLLARS² (cents²/10⁴) — integer cents² overflows
        # int64 once a segment's total spend passes ~3e11 cents
        return F.floor(
            y.cast("double") * y.cast("double") / n / 10000 + 0.5
        ).cast("long")

    ssa = am.agg(
        F.sum(qterm(F.col("ya"), F.col("na"))).alias("sa"),
        F.count("*").alias("ka"),
    )
    ssb = bm.agg(
        F.sum(qterm(F.col("yb"), F.col("nb"))).alias("sb"),
        F.count("*").alias("kb"),
    )
    ssc = cells.agg(
        F.sum(qterm(F.col("sy"), F.col("n"))).alias("sc"),
        F.count("*").alias("kc"),
    )
    j = (
        gd.crossJoin(F.broadcast(ssa))
        .crossJoin(F.broadcast(ssb))
        .crossJoin(F.broadcast(ssc))
    )
    ss_a = F.col("sa") - F.col("cf")
    ss_b = F.col("sb") - F.col("cf")
    ss_cells = F.col("sc") - F.col("cf")
    ss_err = F.col("ss_tot") - ss_cells
    return j.select(
        F.col("nn").cast("long").alias("n_rows"),
        F.round(ss_a, 2).alias("ss_segment_r"),
        F.round(ss_b, 2).alias("ss_priority_r"),
        F.round(ss_cells - ss_a - ss_b, 2).alias("ss_interaction_r"),
        F.round(ss_err, 2).alias("ss_error_r"),
        F.round(
            (ss_a / (F.col("ka") - 1)) / (ss_err / (F.col("nn") - F.col("kc"))),
            4,
        ).alias("f_segment_r"),
        F.round(
            (ss_b / (F.col("kb") - 1)) / (ss_err / (F.col("nn") - F.col("kc"))),
            4,
        ).alias("f_priority_r"),
    )


# -------------------------------------------- difference-in-differences

_DID_SQL = """
    WITH p AS (
        SELECT value,
               CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS treat,
               CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END
                   AS post
        FROM events WHERE event_type = 'purchase'
    ),
    s AS (
        SELECT count(*) FILTER (WHERE treat = 0 AND post = 0) AS n00,
               count(*) FILTER (WHERE treat = 0 AND post = 1) AS n01,
               count(*) FILTER (WHERE treat = 1 AND post = 0) AS n10,
               count(*) FILTER (WHERE treat = 1 AND post = 1) AS n11,
               avg(value) FILTER (WHERE treat = 0 AND post = 0) AS m00,
               avg(value) FILTER (WHERE treat = 0 AND post = 1) AS m01,
               avg(value) FILTER (WHERE treat = 1 AND post = 0) AS m10,
               avg(value) FILTER (WHERE treat = 1 AND post = 1) AS m11
        FROM p
    )
    SELECT n00, n01, n10, n11,
           round(m00, 4) AS m00_r, round(m01, 4) AS m01_r,
           round(m10, 4) AS m10_r, round(m11, 4) AS m11_r,
           round((m11 - m10) - (m01 - m00), 4) AS did_r
    FROM s
"""


@register("did_estimator", oracle=_DID_SQL)
def did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on purchase values: deterministic
    treatment assignment (odd user_id) crossed with a fixed pre/post
    boundary (2024-01-16); DiD = (treated post − treated pre) − (control
    post − control pre), the parallel-trends causal estimate the plain
    pre/post comparison (``welch_ab_test``) cannot give when both arms
    drift together.

    Scale shape: a single scan with four conditionally-filtered
    aggregates — one partial+final agg, no join, no shuffle beyond the
    1-row combine. Rounding conventions follow ``welch_ab_test`` (avg
    rounded at 4)."""
    e = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    treat = (F.col("user_id") % 2 == 1).cast("int")
    post = (F.col("ts") >= F.lit("2024-01-16").cast("timestamp")).cast("int")
    p = e.select("value", treat.alias("treat"), post.alias("post"))

    def cell(t: int, q: int, fn, col: str):
        return fn(F.when((F.col("treat") == t) & (F.col("post") == q), F.col(col)))

    s = p.agg(
        cell(0, 0, F.count, "value").alias("n00"),
        cell(0, 1, F.count, "value").alias("n01"),
        cell(1, 0, F.count, "value").alias("n10"),
        cell(1, 1, F.count, "value").alias("n11"),
        cell(0, 0, F.avg, "value").alias("m00"),
        cell(0, 1, F.avg, "value").alias("m01"),
        cell(1, 0, F.avg, "value").alias("m10"),
        cell(1, 1, F.avg, "value").alias("m11"),
    )
    return s.select(
        "n00",
        "n01",
        "n10",
        "n11",
        F.round("m00", 4).alias("m00_r"),
        F.round("m01", 4).alias("m01_r"),
        F.round("m10", 4).alias("m10_r"),
        F.round("m11", 4).alias("m11_r"),
        F.round(
            (F.col("m11") - F.col("m10")) - (F.col("m01") - F.col("m00")), 4
        ).alias("did_r"),
    )


# ------------------------------------------- caliper covariate matching

_CALIPER_SQL = f"""
    WITH pre AS (
        SELECT user_id,
               CAST({money_sum_sql('value')} * 100
                    AS BIGINT) AS spend_c
        FROM events
        WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-16'
        GROUP BY 1
    ),
    t AS (SELECT * FROM pre WHERE user_id % 2 = 1),
    c AS (SELECT * FROM pre WHERE user_id % 2 = 0),
    cand AS (
        SELECT t.user_id AS treated_id, t.spend_c AS t_spend_c,
               c.user_id AS control_id, c.spend_c AS c_spend_c,
               abs(t.spend_c - c.spend_c) AS absdiff_c
        FROM t JOIN c
          ON (c.spend_c // 2000)
             BETWEEN (t.spend_c // 2000) - 1 AND (t.spend_c // 2000) + 1
        WHERE abs(t.spend_c - c.spend_c) <= 2000
    )
    SELECT treated_id, t_spend_c, control_id, c_spend_c, absdiff_c
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY treated_id
            ORDER BY absdiff_c, control_id) AS rn
        FROM cand
    ) WHERE rn = 1
"""


@register("caliper_matching", oracle=_CALIPER_SQL)
def caliper_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor covariate matching with a caliper: each treated
    user (odd id) is matched to the control (even id) whose pre-period
    purchase spend is closest, but only within a 2000-cent caliper —
    the matching step a DiD/ATT analysis runs when arms are imbalanced
    on a pre-period covariate. Spend is exact cents; ties break on
    (|diff|, control_id), so the match set is deterministic.

    Scale shape: candidate generation is a BANDED equi-join — treated
    rows explode into their spend bucket ±1 (bucket width = caliper, so
    the band provably contains every in-caliper control) and join
    controls on the bucket key; the per-treated argmin is a grouped
    ``min(struct(...))`` aggregate, not a window. Per-treated fan-out is
    bounded by bucket occupancy, never |controls|."""
    e = table(spark, sf_dir, "events")
    pre = (
        e.filter(
            (F.col("event_type") == "purchase")
            & (F.col("ts") < F.lit("2024-01-16").cast("timestamp"))
        )
        .groupBy("user_id")
        .agg(
            (money_sum(F.col("value")) * 100)
            .cast("long")
            .alias("spend_c")
        )
    )
    t = pre.filter(F.col("user_id") % 2 == 1).select(
        F.col("user_id").alias("treated_id"), F.col("spend_c").alias("t_spend_c")
    )
    c = pre.filter(F.col("user_id") % 2 == 0).select(
        F.col("user_id").alias("control_id"),
        F.col("spend_c").alias("c_spend_c"),
        F.expr("spend_c div 2000").alias("bkt"),
    )
    tb = t.select(
        "*", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))).alias("off")
    ).select(
        "treated_id",
        "t_spend_c",
        (F.expr("t_spend_c div 2000") + F.col("off")).alias("bkt"),
    )
    cand = (
        tb.join(c, "bkt")
        .withColumn("absdiff_c", F.abs(F.col("t_spend_c") - F.col("c_spend_c")))
        .filter(F.col("absdiff_c") <= 2000)
    )
    best = cand.groupBy("treated_id", "t_spend_c").agg(
        F.min(F.struct("absdiff_c", "control_id", "c_spend_c")).alias("m")
    )
    return best.select(
        "treated_id",
        "t_spend_c",
        F.col("m.control_id").alias("control_id"),
        F.col("m.c_spend_c").alias("c_spend_c"),
        F.col("m.absdiff_c").alias("absdiff_c"),
    )


# ------------------------------------------- covariate balance (SMD)

_SMD_SQL = f"""
    WITH pre AS (
        SELECT user_id,
               CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS treat,
               CAST({money_sum_sql('value')} * 100
                    AS BIGINT) AS spend_c,
               count(*) AS n_purch
        FROM events
        WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-16'
        GROUP BY 1, 2
    ),
    long AS (
        SELECT treat, 'pre_spend_c' AS covar, spend_c AS v FROM pre
        UNION ALL
        SELECT treat, 'pre_n_purchases' AS covar, n_purch AS v FROM pre
    ),
    s AS (
        SELECT covar,
               count(*) FILTER (WHERE treat = 1) AS nt,
               count(*) FILTER (WHERE treat = 0) AS nc,
               sum(v::HUGEINT) FILTER (WHERE treat = 1) AS st,
               sum(v::HUGEINT) FILTER (WHERE treat = 0) AS sc,
               sum((v::HUGEINT) * v) FILTER (WHERE treat = 1) AS qt,
               sum((v::HUGEINT) * v) FILTER (WHERE treat = 0) AS qc
        FROM long GROUP BY 1
    )
    SELECT covar, nt, nc,
           round(st::DOUBLE / nt, 4) AS mean_t_r,
           round(sc::DOUBLE / nc, 4) AS mean_c_r,
           round((st::DOUBLE / nt - sc::DOUBLE / nc)
                 / sqrt(((nt * qt - st * st)::DOUBLE / (nt::DOUBLE * (nt - 1))
                         + (nc * qc - sc * sc)::DOUBLE / (nc::DOUBLE * (nc - 1)))
                        / 2), 4) AS smd_r
    FROM s
"""


@register("covariate_balance_smd", oracle=_SMD_SQL)
def covariate_balance_smd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized mean difference of pre-period covariates between the
    deterministic treatment arms — the balance table read BEFORE trusting
    ``did_estimator``/``cuped_adjustment`` and the diagnostic
    ``caliper_matching`` exists to fix (|SMD| < 0.1 is the usual
    balanced-enough threshold). One row per covariate (pre-period spend
    in cents, pre-period purchase count).

    Exactness: unlike ``welch_ab_test`` (whose double moments survive its
    coarser data), the per-user spend sums here land exactly on round-4
    boundaries, so the moments are assembled from EXACT integer cents —
    n, Σv, Σv² as decimals — and mean/variance/SMD are computed in double
    from those exact sums with the identical expression in both engines.

    Scale shape: one user-keyed pre-period aggregate, a constant ×2
    unpivot into (covariate, value) long form, and one grouped moment
    aggregate on the 2-key covariate domain."""
    e = table(spark, sf_dir, "events")
    pre = (
        e.filter(
            (F.col("event_type") == "purchase")
            & (F.col("ts") < F.lit("2024-01-16").cast("timestamp"))
        )
        .groupBy("user_id", (F.col("user_id") % 2 == 1).cast("int").alias("treat"))
        .agg(
            (money_sum(F.col("value")) * 100)
            .cast("long")
            .alias("spend_c"),
            F.count("*").alias("n_purch"),
        )
    )
    long = pre.select(
        "treat", F.lit("pre_spend_c").alias("covar"), F.col("spend_c").alias("v")
    ).unionAll(
        pre.select(
            "treat",
            F.lit("pre_n_purchases").alias("covar"),
            F.col("n_purch").alias("v"),
        )
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = long.groupBy("covar").agg(
        F.count(F.when(F.col("treat") == 1, 1)).alias("nt"),
        F.count(F.when(F.col("treat") == 0, 1)).alias("nc"),
        F.sum(F.when(F.col("treat") == 1, dec("v"))).alias("st"),
        F.sum(F.when(F.col("treat") == 0, dec("v"))).alias("sc"),
        F.sum(F.when(F.col("treat") == 1, dec("v") * F.col("v"))).alias("qt"),
        F.sum(F.when(F.col("treat") == 0, dec("v") * F.col("v"))).alias("qc"),
    )
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    mt = dbl("st") / F.col("nt")
    mc = dbl("sc") / F.col("nc")
    vt = (F.col("nt") * F.col("qt") - F.col("st") * F.col("st")).cast("double") / (
        F.col("nt").cast("double") * (F.col("nt") - 1)
    )
    vc = (F.col("nc") * F.col("qc") - F.col("sc") * F.col("sc")).cast("double") / (
        F.col("nc").cast("double") * (F.col("nc") - 1)
    )
    return s.select(
        "covar",
        "nt",
        "nc",
        F.round(mt, 4).alias("mean_t_r"),
        F.round(mc, 4).alias("mean_c_r"),
        F.round((mt - mc) / F.sqrt((vt + vc) / 2), 4).alias("smd_r"),
    )


# ------------------------------------------------- edge triangle support

_TRUSS_SQL = f"""
    WITH {basket_pairs_sql()},
    edges AS (
        SELECT u, v FROM basket_pairs GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    {triangles_sql("edges")}
    SELECT e.u, e.v, coalesce(s.s, 0) AS support
    FROM edges e LEFT JOIN edges_support s USING (u, v)
    ORDER BY support DESC, e.u, e.v
    LIMIT 20
"""


@register("edge_triangle_support", oracle=_TRUSS_SQL)
def edge_triangle_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-edge triangle support over the co-purchase graph — the edge
    statistic k-truss decomposition peels on (an edge in the k-truss has
    support ≥ k−2): where ``triangle_count`` answers "how cohesive is the
    graph", this ranks WHICH co-purchase relationships are embedded in
    cliquey neighborhoods versus isolated pairings.

    Scale shape: same canonical u<v edge list and support-≥2 sparsifier
    as ``triangle_count``; ``triangle_support`` credits each triangle's 3
    edges, and the top-20 is TakeOrderedAndProject with a full
    (support, u, v) tie-break."""
    edges = (
        basket_pairs(table(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey")
        .groupBy("u", "v")
        .agg(F.count("*").alias("n_co"))
        .filter(F.col("n_co") >= 2)
        .select("u", "v")
    )
    sup = triangle_support(triangles(edges))
    return (
        edges.join(sup, ["u", "v"], "left")
        .select("u", "v", F.coalesce("s", F.lit(0)).alias("support"))
        .orderBy(F.col("support").desc(), "u", "v")
        .limit(20)
    )


# --------------------------------------------------- 3-itemset mining

# staged-pairs formulation: USING equi-joins with the canonical-order
# predicates as WHERE filters — DuckDB's optimizer mishandles the same
# query written as compound ON conditions (195 s vs 0.3 s at sf0.1)
_TRIPLES_SQL = """
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    tot AS (SELECT count(DISTINCT l_orderkey) AS n_ord FROM lineitem),
    pairs AS (
        SELECT a.l_orderkey, a.l_partkey AS p1, b.l_partkey AS p2
        FROM items a JOIN items b USING (l_orderkey)
        WHERE a.l_partkey < b.l_partkey
    ),
    tri AS (
        SELECT p.p1, p.p2, c.l_partkey AS p3, count(*) AS n_co
        FROM pairs p JOIN items c USING (l_orderkey)
        WHERE c.l_partkey > p.p2
        GROUP BY 1, 2, 3
    )
    SELECT p1, p2, p3, n_co,
           round(n_co * 1.0 / t.n_ord, 6) AS support_r
    FROM tri CROSS JOIN tot t
    ORDER BY n_co DESC, p1, p2, p3
    LIMIT 20
"""


@register("market_basket_triples", oracle=_TRIPLES_SQL)
def market_basket_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 3-itemsets by support — the k=3 layer of the Apriori lattice
    above ``market_basket_pairs``. Canonical p1<p2<p3 ordering counts
    each triple once.

    Scale shape: fan-out is per BASKET, C(k,3) ≤ 35 for the ≤7-line
    TPC-H orders (a general deployment caps mega-baskets first — the
    ``market_basket_pairs`` guard); counting is a partial+final agg on
    the triple key and the top-20 is TakeOrderedAndProject."""
    li = table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select("l_orderkey", F.col("l_partkey").alias("p1"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("p2"))
    c = items.select("l_orderkey", F.col("l_partkey").alias("p3"))
    tot = li.agg(F.countDistinct("l_orderkey").cast("double").alias("n_ord"))
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("p1") < F.col("p2"))
        .join(c, "l_orderkey")
        .filter(F.col("p2") < F.col("p3"))
        .groupBy("p1", "p2", "p3")
        .agg(F.count("*").alias("n_co"))
        .crossJoin(F.broadcast(tot))
        .select(
            "p1", "p2", "p3", "n_co",
            F.round(F.col("n_co") / F.col("n_ord"), 6).alias("support_r"),
        )
        .orderBy(F.col("n_co").desc(), "p1", "p2", "p3")
        .limit(20)
    )


# ------------------------------------- Simpson's-paradox slope audit

_SIMPSON_SQL = f"""
    WITH v AS (
        SELECT n.n_name AS nation,
               CAST(round({money_sql('l.l_discount')} * 100, 0)
                    AS BIGINT) AS x,
               CAST(l.l_quantity AS BIGINT) AS y
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
    ),
    g AS (
        SELECT nation, count(*) AS n,
               sum(x)::HUGEINT AS sx, sum(y)::HUGEINT AS sy,
               sum((x::HUGEINT) * y) AS sxy
        FROM v GROUP BY 1
    ),
    p AS (
        SELECT sum(n) AS n, sum(sx)::HUGEINT AS sx, sum(sy)::HUGEINT AS sy,
               sum(sxy)::HUGEINT AS sxy
        FROM g
    )
    SELECT g.nation, g.n,
           CASE WHEN g.n * g.sxy - g.sx * g.sy > 0 THEN 1
                WHEN g.n * g.sxy - g.sx * g.sy < 0 THEN -1
                ELSE 0 END AS sign_nation,
           CASE WHEN p.n * p.sxy - p.sx * p.sy > 0 THEN 1
                WHEN p.n * p.sxy - p.sx * p.sy < 0 THEN -1
                ELSE 0 END AS sign_pooled,
           CASE WHEN (g.n * g.sxy - g.sx * g.sy)
                     * (p.n * p.sxy - p.sx * p.sy) < 0
                THEN 1 ELSE 0 END AS reversed
    FROM g CROSS JOIN p
"""


@register("simpson_slope_reversal", oracle=_SIMPSON_SQL)
def simpson_slope_reversal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox audit on the discount→quantity relationship: the
    SIGN of the OLS slope per supplier nation versus the pooled sign,
    flagging groups whose within-group trend opposes the aggregate — the
    aggregation trap every "discounts drive volume" dashboard walks into.

    Exactness: the slope sign is sign(n·Σxy − Σx·Σy), computed ENTIRELY
    in exact integers (discount scaled ×100, quantity integral), so the
    reversal flag can never flip on float noise — no division, no
    rounding anywhere.

    Scale shape: one fact scan with broadcast dimension joins, a
    25-group exact-moment aggregate, and a broadcast 1-row pooled
    re-aggregate."""
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    v = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.round(money(F.col("l_discount")) * 100, 0)
            .cast("long")
            .alias("x"),
            F.col("l_quantity").cast("long").alias("y"),
        )
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    g = v.groupBy("nation").agg(
        F.count("*").alias("n"),
        F.sum(dec("x")).alias("sx"),
        F.sum(dec("y")).alias("sy"),
        F.sum(dec("x") * F.col("y")).alias("sxy"),
    )
    p = g.agg(
        F.sum("n").alias("pn"),
        F.sum("sx").alias("psx"),
        F.sum("sy").alias("psy"),
        F.sum("sxy").alias("psxy"),
    )
    gnum = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    pnum = F.col("pn") * F.col("psxy") - F.col("psx") * F.col("psy")
    sign = lambda e: F.when(e > 0, 1).when(e < 0, -1).otherwise(0)  # noqa: E731
    return (
        g.crossJoin(F.broadcast(p))
        .select(
            "nation",
            "n",
            sign(gnum).alias("sign_nation"),
            sign(pnum).alias("sign_pooled"),
            F.when(gnum * pnum < 0, 1).otherwise(0).alias("reversed"),
        )
    )


# ----------------------------------------------- matched ATT estimate

_ATT_SQL = f"""
    WITH matched AS ({_CALIPER_SQL}),
    post AS (
        SELECT user_id,
               CAST({money_sum_sql('value')} * 100
                    AS BIGINT) AS post_c
        FROM events
        WHERE event_type = 'purchase' AND ts >= TIMESTAMP '2024-01-16'
        GROUP BY 1
    ),
    d AS (
        SELECT coalesce(pt.post_c, 0) - coalesce(pc.post_c, 0) AS diff_c
        FROM matched m
        LEFT JOIN post pt ON pt.user_id = m.treated_id
        LEFT JOIN post pc ON pc.user_id = m.control_id
    )
    SELECT count(*) AS n_pairs,
           sum(diff_c)::BIGINT AS sum_diff_c,
           round(sum(diff_c)::DOUBLE / count(*) / 100, 4) AS att_r
    FROM d
"""


@register("matched_att_estimate", oracle=_ATT_SQL)
def matched_att_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ATT from the caliper-matched pairs: mean post-period spend
    difference (treated − matched control), completing the causal arc
    ``covariate_balance_smd`` → ``caliper_matching`` → estimate (the
    matched counterpart of ``did_estimator``'s parallel-trends answer).
    Users without post-period purchases contribute zero spend — the
    estimand is spend per matched user, not per surviving purchaser.

    Exactness: differences are exact cents; the single division happens
    once on the 1-row result. Scale shape: the matching plan plus two
    keyed LEFT joins and a 1-row aggregate."""
    matched = caliper_matching(spark, sf_dir)
    e = table(spark, sf_dir, "events")
    post = (
        e.filter(
            (F.col("event_type") == "purchase")
            & (F.col("ts") >= F.lit("2024-01-16").cast("timestamp"))
        )
        .groupBy("user_id")
        .agg(
            (money_sum(F.col("value")) * 100)
            .cast("long")
            .alias("post_c")
        )
    )
    pt = post.select(
        F.col("user_id").alias("treated_id"), F.col("post_c").alias("t_post_c")
    )
    pc = post.select(
        F.col("user_id").alias("control_id"), F.col("post_c").alias("c_post_c")
    )
    d = (
        matched.join(pt, "treated_id", "left")
        .join(pc, "control_id", "left")
        .select(
            (
                F.coalesce("t_post_c", F.lit(0)) - F.coalesce("c_post_c", F.lit(0))
            ).alias("diff_c")
        )
    )
    return d.agg(
        F.count("*").alias("n_pairs"),
        F.sum("diff_c").cast("long").alias("sum_diff_c"),
        F.round(
            F.sum("diff_c").cast("double") / F.count("*") / 100, 4
        ).alias("att_r"),
    )


# ---------------------------------------------------- log-rank test

_LOGRANK_SQL = """
    WITH su AS (
        SELECT user_id, user_id % 2 AS arm, min(epoch_us(ts)) AS s_us
        FROM events WHERE event_type = 'signup' GROUP BY 1, 2
    ),
    pu AS (
        SELECT e.user_id, min(epoch_us(e.ts)) AS p_us
        FROM events e JOIN su ON su.user_id = e.user_id
                            AND epoch_us(e.ts) > su.s_us
        WHERE e.event_type = 'purchase'
        GROUP BY 1
    ),
    obs AS (SELECT max(epoch_us(ts)) AS end_us FROM events),
    durs AS (
        SELECT su.arm,
               CASE WHEN pu.p_us IS NOT NULL
                    THEN (pu.p_us - su.s_us) // 86400000000
                    ELSE (o.end_us - su.s_us) // 86400000000
               END AS t_day,
               CASE WHEN pu.p_us IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM su LEFT JOIN pu ON pu.user_id = su.user_id
        CROSS JOIN obs o
    ),
    g AS (
        SELECT t_day,
               sum(CASE WHEN arm = 1 THEN ev ELSE 0 END) AS d1,
               sum(CASE WHEN arm = 0 THEN ev ELSE 0 END) AS d0,
               sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS c1,
               sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS c0
        FROM durs GROUP BY 1
    ),
    sp AS (
        SELECT t_day, d1, d0,
               sum(c1) OVER (ORDER BY t_day DESC
                             ROWS UNBOUNDED PRECEDING) AS n1,
               sum(c0) OVER (ORDER BY t_day DESC
                             ROWS UNBOUNDED PRECEDING) AS n0
        FROM g
    ),
    terms AS (
        SELECT CAST(round(d1 - (d1 + d0) * 1.0 * n1 / (n1 + n0), 12)
                    AS DECIMAL(38,12)) AS oe,
               CAST(round(CASE WHEN n1 + n0 > 1 THEN
                   (d1 + d0) * (n1 * 1.0 / (n1 + n0))
                   * (1 - n1 * 1.0 / (n1 + n0))
                   * ((n1 + n0) - (d1 + d0)) * 1.0 / ((n1 + n0) - 1)
                   ELSE 0 END, 12) AS DECIMAL(38,12)) AS v
        FROM sp WHERE d1 + d0 > 0
    ),
    s AS (
        SELECT count(*) AS n_event_days,
               sum(oe) AS oe_sum, sum(v) AS v_sum
        FROM terms
    )
    SELECT n_event_days,
           round(CAST(oe_sum AS DOUBLE), 6) AS o_minus_e_r,
           round(CAST(v_sum AS DOUBLE), 6) AS var_r,
           round(CAST(oe_sum AS DOUBLE) / sqrt(CAST(v_sum AS DOUBLE)), 4)
               AS z_r
    FROM s
"""


@register("logrank_test", oracle=_LOGRANK_SQL)
def logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test comparing signup→first-purchase survival between
    the deterministic arms (odd vs even user_id): at each event day the
    observed arm-1 events are compared against the hypergeometric
    expectation given the at-risk sets, Z = Σ(O−E)/√ΣV — the standard
    censoring-aware two-sample survival comparison
    (``kaplan_meier_survival`` draws the curves; this tests whether they
    differ).

    Determinism: every per-day term is quantized to 12 decimals and
    summed as EXACT decimals (order-independent — a plain double sum
    over the spine could differ between engines' aggregation orders);
    the z combines the exact sums once.

    Scale shape: the duration construction is ``kaplan_meier_survival``'s
    (user-keyed reductions onto the calendar-day spine); the at-risk
    counts are two descending cumsums over that bounded spine."""
    e = table(spark, sf_dir, "events")
    su = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id", (F.col("user_id") % 2).alias("arm"))
        .agg(F.min(F.unix_micros("ts")).alias("s_us"))
    )
    pu = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id", F.unix_micros("ts").alias("p_raw"))
        .join(su.select("user_id", "s_us"), "user_id")
        .filter(F.col("p_raw") > F.col("s_us"))
        .groupBy("user_id")
        .agg(F.min("p_raw").alias("p_us"))
    )
    obs = e.agg(F.max(F.unix_micros("ts")).alias("end_us"))
    durs = (
        su.join(pu, "user_id", "left")
        .crossJoin(F.broadcast(obs))
        .select(
            "arm",
            F.when(
                F.col("p_us").isNotNull(),
                F.expr("(p_us - s_us) div 86400000000"),
            )
            .otherwise(F.expr("(end_us - s_us) div 86400000000"))
            .alias("t_day"),
            F.when(F.col("p_us").isNotNull(), 1).otherwise(0).alias("ev"),
        )
    )
    g = durs.groupBy("t_day").agg(
        F.sum(F.when(F.col("arm") == 1, F.col("ev")).otherwise(0)).alias("d1"),
        F.sum(F.when(F.col("arm") == 0, F.col("ev")).otherwise(0)).alias("d0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("c0"),
    )
    wdesc = Window.orderBy(F.col("t_day").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )  # bounded day spine (KM convention)
    sp = g.select(
        "t_day",
        "d1",
        "d0",
        F.sum("c1").over(wdesc).alias("n1"),
        F.sum("c0").over(wdesc).alias("n0"),
    )
    nt = F.col("n1") + F.col("n0")
    dt = F.col("d1") + F.col("d0")
    p1 = F.col("n1") * 1.0 / nt
    terms = sp.filter(dt > 0).select(
        F.round(F.col("d1") - dt * p1, 12).cast("decimal(38,12)").alias("oe"),
        F.round(
            F.when(
                nt > 1,
                dt * p1 * (1 - p1) * (nt - dt) * 1.0 / (nt - 1),
            ).otherwise(0.0),
            12,
        )
        .cast("decimal(38,12)")
        .alias("v"),
    )
    s = terms.agg(
        F.count("*").alias("n_event_days"),
        F.sum("oe").alias("oe_sum"),
        F.sum("v").alias("v_sum"),
    )
    return s.select(
        "n_event_days",
        F.round(F.col("oe_sum").cast("double"), 6).alias("o_minus_e_r"),
        F.round(F.col("v_sum").cast("double"), 6).alias("var_r"),
        F.round(
            F.col("oe_sum").cast("double")
            / F.sqrt(F.col("v_sum").cast("double")),
            4,
        ).alias("z_r"),
    )


# ------------------------------------------------- Wald SPRT (daily looks)

# Hypotheses and thresholds fixed at design time (Wald 1945): conversion
# rate p0=0.18 vs p1=0.22, alpha=beta=0.05. The log-likelihood-ratio
# increments are embedded as PYTHON-evaluated literals so both engines
# multiply integers by the SAME double constants (libm log() may differ by
# an ulp between engines; a literal cannot).
import math as _math

_SPRT_L1 = repr(_math.log(0.22 / 0.18))  # per-conversion LLR increment
_SPRT_L0 = repr(_math.log(0.78 / 0.82))  # per-non-conversion increment
_SPRT_A = repr(_math.log(19.0))          # log((1-beta)/alpha)
_SPRT_B = repr(-_math.log(19.0))         # log(beta/(1-alpha))

_SPRT_SQL = f"""
    WITH d AS (
        SELECT date_trunc('day', ts)::TIMESTAMP AS day, count(*) AS n,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
                   AS c
        FROM events GROUP BY 1
    ),
    cum AS (
        SELECT day,
               sum(n) OVER w AS n_cum, sum(c) OVER w AS c_cum
        FROM d WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)
    ),
    llr AS (
        SELECT day, n_cum::BIGINT AS n_cum, c_cum::BIGINT AS c_cum,
               c_cum * {_SPRT_L1}::DOUBLE + (n_cum - c_cum) * {_SPRT_L0}::DOUBLE AS llr
        FROM cum
    )
    SELECT day, n_cum, c_cum, round(llr, 6) AS llr_r,
           CASE WHEN llr >= {_SPRT_A}::DOUBLE THEN 'accept_h1'
                WHEN llr <= {_SPRT_B}::DOUBLE THEN 'accept_h0'
                ELSE 'continue' END AS look_state,
           CASE WHEN min(CASE WHEN llr >= {_SPRT_A}::DOUBLE OR llr <= {_SPRT_B}::DOUBLE
                              THEN day END) OVER () = day
                THEN 1 ELSE 0 END AS is_decision_day
    FROM llr
"""


@register("sprt_sequential_test", oracle=_SPRT_SQL)
def sprt_sequential_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald sequential probability ratio test with daily looks: is the
    purchase-conversion rate p1=0.22 (H1) or p0=0.18 (H0)? Each day's look
    evaluates the cumulative log-likelihood ratio
    LLR = C·ln(p1/p0) + (N−C)·ln((1−p1)/(1−p0)) against the Wald
    boundaries ±ln(19) (α=β=0.05); the first crossing day is flagged.
    Complements ``group_sequential_ab_monitor``: SPRT is the
    every-observation-valid test a streaming experimentation stack runs,
    group-sequential is the scheduled-interim variant.

    Exactness: LLR is reconstructed per look from INTEGER cumulative
    counts times Python-literal double constants — never a float running
    sum — so both engines compute bit-identical doubles.

    Scale shape: one map-combinable daily aggregate off the event scan;
    the cumsum and the first-crossing flag are windows over the bounded
    calendar-day spine (two partitionless specs, spine-sized)."""
    e = table(spark, sf_dir, "events")
    d = e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("c"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = d.select(
        "day",
        F.sum("n").over(w).alias("n_cum"),
        F.sum("c").over(w).alias("c_cum"),
    )
    l1, l0 = float(_SPRT_L1), float(_SPRT_L0)
    a, b = float(_SPRT_A), float(_SPRT_B)
    llr = cum.select(
        "day",
        "n_cum",
        "c_cum",
        (
            F.col("c_cum") * F.lit(l1)
            + (F.col("n_cum") - F.col("c_cum")) * F.lit(l0)
        ).alias("llr"),
    )
    wall = Window.partitionBy()
    crossed = (F.col("llr") >= a) | (F.col("llr") <= b)
    return llr.select(
        "day",
        "n_cum",
        "c_cum",
        F.round("llr", 6).alias("llr_r"),
        F.when(F.col("llr") >= a, "accept_h1")
        .when(F.col("llr") <= b, "accept_h0")
        .otherwise("continue")
        .alias("look_state"),
        F.when(
            F.min(F.when(crossed, F.col("day"))).over(wall) == F.col("day"), 1
        )
        .otherwise(0)
        .alias("is_decision_day"),
    )


# ------------------------------------------------- ridge regression sweep

_RIDGE_SQL = f"""
    WITH m AS (
        SELECT
            sum(q * q)::DECIMAL(38,0) AS sxx,
            sum(q * d)::DECIMAL(38,0) AS sxy,
            sum(d * d)::DECIMAL(38,0) AS syy,
            sum(q * p)::DECIMAL(38,0) AS sxz,
            sum(d * p)::DECIMAL(38,0) AS syz,
            count(*) AS n
        FROM (
            SELECT {cents_sql('l_quantity')} AS q,
                   {cents_sql('l_discount')} AS d,
                   {cents_sql('l_extendedprice')} AS p
            FROM lineitem
        )
    ),
    lam AS (SELECT unnest([0.0, 0.1, 10.0])::DOUBLE AS ratio),
    sol AS (
        SELECT l.ratio, m.n,
               l.ratio * (m.sxx::DOUBLE + m.syy::DOUBLE) / 2 AS lam_abs,
               m.sxx::DOUBLE AS sxx, m.sxy::DOUBLE AS sxy,
               m.syy::DOUBLE AS syy, m.sxz::DOUBLE AS sxz,
               m.syz::DOUBLE AS syz
        FROM m CROSS JOIN lam l
    )
    SELECT ratio, n,
           round(((syy + lam_abs) * sxz - sxy * syz)
                 / ((sxx + lam_abs) * (syy + lam_abs) - sxy * sxy), 8)
               AS b_qty_r,
           round(((sxx + lam_abs) * syz - sxy * sxz)
                 / ((sxx + lam_abs) * (syy + lam_abs) - sxy * sxy), 8)
               AS b_disc_r
    FROM sol
"""


@register("ridge_regression_sweep", oracle=_RIDGE_SQL)
def ridge_regression_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form ridge regression (Hoerl & Kennard 1970) of extended
    price on (quantity, discount), no intercept, solved from the normal
    equations (X'X + λI)β = X'y with the 2×2 inverse written out — at
    three regularization strengths λ = ratio·tr(X'X)/2, ratio ∈
    {0, 0.1, 10} (ratio 0 IS the OLS solution; ratio 10 shrinks hard
    toward zero, and tests pin that ‖β‖ decreases monotonically).

    Exactness: all five Gram/cross moments are exact DECIMAL(38,0) sums
    of integer-cent products (one shuffle-free aggregate); each β is two
    float ops over identical expression trees, rounded once.

    Scale shape: the moment pass is a single map-side-combinable
    aggregate over the fact scan — the classic 'sufficient statistics,
    not data movement' design for distributed linear models; the λ sweep
    is a 3-row literal spine crossed against the 1-row moment table.
    At p features this is the p²-state Gram aggregate (cf. the dim² Gram
    collect in llm/similarity.py) — driver-side solve stays O(p³)."""
    li = table(spark, sf_dir, "lineitem")
    base = li.select(
        cents(F.col("l_quantity")).alias("q"),
        cents(F.col("l_discount")).alias("d"),
        cents(F.col("l_extendedprice")).alias("p"),
    )
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = base.select(
        d38("q").alias("q"), d38("d").alias("d"), d38("p").alias("p")
    ).agg(
        F.sum(F.col("q") * F.col("q")).alias("sxx"),
        F.sum(F.col("q") * F.col("d")).alias("sxy"),
        F.sum(F.col("d") * F.col("d")).alias("syy"),
        F.sum(F.col("q") * F.col("p")).alias("sxz"),
        F.sum(F.col("d") * F.col("p")).alias("syz"),
        F.count("*").alias("n"),
    )
    lam = spark.range(1).select(
        F.explode(F.array(F.lit(0.0), F.lit(0.1), F.lit(10.0))).alias("ratio")
    )
    sol = m.crossJoin(F.broadcast(lam)).select(
        "ratio",
        "n",
        (F.col("ratio") * (F.col("sxx").cast("double") + F.col("syy").cast("double")) / 2).alias("lam_abs"),
        F.col("sxx").cast("double").alias("sxx"),
        F.col("sxy").cast("double").alias("sxy"),
        F.col("syy").cast("double").alias("syy"),
        F.col("sxz").cast("double").alias("sxz"),
        F.col("syz").cast("double").alias("syz"),
    )
    det = (F.col("sxx") + F.col("lam_abs")) * (F.col("syy") + F.col("lam_abs")) - F.col(
        "sxy"
    ) * F.col("sxy")
    return sol.select(
        "ratio",
        "n",
        F.round(
            ((F.col("syy") + F.col("lam_abs")) * F.col("sxz") - F.col("sxy") * F.col("syz"))
            / det,
            8,
        ).alias("b_qty_r"),
        F.round(
            ((F.col("sxx") + F.col("lam_abs")) * F.col("syz") - F.col("sxy") * F.col("sxz"))
            / det,
            8,
        ).alias("b_disc_r"),
    )


# ------------------------------------------- weighted SSSP (bounded hops)

_SSSP_SQL = f"""
    WITH {basket_pairs_sql()},
    e AS (
        SELECT u, v, count(*) AS n_co FROM basket_pairs GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    wsym AS (
        SELECT u, v, CASE WHEN n_co >= 100 THEN 1 ELSE 101 - n_co END AS w
        FROM e
        UNION ALL
        SELECT v AS u, u AS v, CASE WHEN n_co >= 100 THEN 1 ELSE 101 - n_co
                                END AS w
        FROM e
    ),
    seed AS (SELECT min(u) AS s FROM e),
    d0 AS (SELECT s AS v, 0 AS d FROM seed),
    d1 AS (SELECT v, min(d) AS d FROM (
            SELECT v, d FROM d0
            UNION ALL SELECT w.v, d0.d + w.w FROM d0 JOIN wsym w ON w.u = d0.v
        ) GROUP BY v),
    d2 AS (SELECT v, min(d) AS d FROM (
            SELECT v, d FROM d1
            UNION ALL SELECT w.v, d1.d + w.w FROM d1 JOIN wsym w ON w.u = d1.v
        ) GROUP BY v),
    d3 AS (SELECT v, min(d) AS d FROM (
            SELECT v, d FROM d2
            UNION ALL SELECT w.v, d2.d + w.w FROM d2 JOIN wsym w ON w.u = d2.v
        ) GROUP BY v),
    d4 AS (SELECT v, min(d) AS d FROM (
            SELECT v, d FROM d3
            UNION ALL SELECT w.v, d3.d + w.w FROM d3 JOIN wsym w ON w.u = d3.v
        ) GROUP BY v)
    SELECT v::BIGINT AS v, d::BIGINT AS d
    FROM d4 ORDER BY d, v LIMIT 20
"""


@register("sssp_bounded_hops", oracle=_SSSP_SQL)
def sssp_bounded_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths, 4-hop horizon: Bellman-Ford
    unrolled over the co-purchase graph (same support-≥2 edge set as
    ``khop_reachability`` / ``triangle_count``), edge cost 101−co_count
    clamped to [1,100] — strong ties are cheap. Returns the 20 nearest
    vertices (tie-broken on vertex id). Completes the graph family's
    WEIGHTED traversal: k-hop answers "reachable?", this answers "how
    cheaply?" — the backbone of influence radius / supply-chain routing.

    Exactness: weights and distances are integers end-to-end; min() and
    ties are exact.

    Scale shape: the fixed-k Pregel unroll — each relaxation is one
    equi-join of the current distance table against the edge list plus a
    keyed min (map-side combinable); no driver iteration, no collect.
    Frontier size is bounded by |V|; a production variant switches to
    iterate-until-fixpoint with an early-exit count check per round."""
    # the edge backbone has two consumers (wsym, seed), and four unrolled
    # relaxation rounds would otherwise re-derive the pair build and its
    # aggregate per reference
    e = cut(
        basket_pairs(table(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey")
        .groupBy("u", "v")
        .agg(F.count("*").alias("n_co"))
        .filter(F.col("n_co") >= 2),
        "sssp_bounded_hops.e",
    )
    w_expr = F.when(F.col("n_co") >= 100, 1).otherwise(101 - F.col("n_co"))
    # the symmetric weighted edges are shared by all relaxation rounds
    wsym = cut(
        e.select("u", "v", w_expr.alias("w"))
        .unionAll(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"), w_expr.alias("w"))
        ),
        "sssp_bounded_hops.wsym",
    )
    seed = e.agg(F.min("u").alias("v")).select("v", F.lit(0).alias("d"))
    d = seed
    for i in range(4):
        dl, wl = f"d{i}", f"w{i}"
        relaxed = (
            d.alias(dl)
            .join(wsym.alias(wl), F.col(f"{dl}.v") == F.col(f"{wl}.u"))
            .select(
                F.col(f"{wl}.v").alias("v"),
                (F.col(f"{dl}.d") + F.col(f"{wl}.w")).alias("d"),
            )
        )
        d = cut(
            d.select("v", "d")
            .unionAll(relaxed)
            .groupBy("v")
            .agg(F.min("d").alias("d")),
            "sssp_bounded_hops.d",  # each round references d twice
        )
    return (
        d.orderBy("d", "v")
        .limit(20)
        .select(F.col("v").cast("long").alias("v"), F.col("d").cast("long").alias("d"))
    )


# --------------------------------------------- WoE / IV feature binning

_WOE_SQL = f"""
    WITH v AS (
        SELECT {cents_sql('o_totalprice')} AS x_c,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS bad
        FROM orders
    ),
    cells AS (
        SELECT x_c, count(*) AS c, sum(bad)::BIGINT AS cb
        FROM v GROUP BY 1
    ),
    walk AS (
        SELECT x_c, c, cb,
               sum(c) OVER (ORDER BY x_c ROWS UNBOUNDED PRECEDING) - c
                   AS cnt_lt,
               sum(c) OVER () AS n
        FROM cells
    ),
    binned AS (
        SELECT ((cnt_lt * 10) // n)::BIGINT AS bin,
               sum(c)::BIGINT AS n, sum(cb)::BIGINT AS n_bad
        FROM walk GROUP BY 1
    ),
    tot AS (
        SELECT sum(n)::BIGINT AS nt, sum(n_bad)::BIGINT AS bt FROM binned
    )
    SELECT b.bin, b.n, b.n_bad,
           round(ln(((b.n - b.n_bad) * t.bt) * 1.0
                    / (b.n_bad * (t.nt - t.bt))), 6) AS woe_r,
           round(((b.n - b.n_bad) * 1.0 / (t.nt - t.bt)
                  - b.n_bad * 1.0 / t.bt)
                 * ln(((b.n - b.n_bad) * t.bt) * 1.0
                      / (b.n_bad * (t.nt - t.bt))), 6) AS iv_term_r
    FROM binned b CROSS JOIN tot t
"""


@register("woe_iv_binning", oracle=_WOE_SQL)
def woe_iv_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-Evidence / Information-Value binning (the credit-scoring
    feature screen, Siddiqi 2006): order value in 10 equal-frequency bins
    against the 'bad' target (status F); per bin WoE =
    ln((good_share)/(bad_share)) and its IV contribution
    (g/G − b/B)·WoE. Bins are assigned on the cent-VALUE spine — a value
    group's bin is (count_below·10) DIV N, all LONG integer arithmetic
    (matching the oracle's '//' exactly; no floor-on-double) — so there
    is no global per-row rank anywhere and ties land deterministically.

    Exactness: counts are exact integers; each WoE is one ln() of an
    exactly-computed double ratio rounded to 6 (the same libm discipline
    as the entropy/JSD family); no float is ever summed across rows.

    Scale shape: the cent-value spine is the ORDER-TOTAL domain (~10⁷
    distinct values at 100 TB), so the prefix count and its total N come
    from ``prefix_sums``, exactly the oracle's flat cumsum because counts
    are exact longs."""
    o = table(spark, sf_dir, "orders")
    v = o.select(
        cents(F.col("o_totalprice")).alias("x_c"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("bad"),
    )
    cells = v.groupBy("x_c").agg(F.count("*").alias("c"), F.sum("bad").alias("cb"))
    walk = prefix_sums(cells, "x_c", [], {"cnt_le": F.col("c")})
    binned = walk.groupBy(
        F.expr("((cnt_le - c) * 10) DIV cnt_le_total").cast("long").alias("bin")
    ).agg(
        F.sum("c").alias("n"),
        F.sum("cb").alias("n_bad"),
        F.first("cnt_le_total").alias("nt"),
    )
    binned = binned.crossJoin(F.broadcast(cells.agg(F.sum("cb").alias("bt"))))
    good_share = (F.col("n") - F.col("n_bad")) * 1.0 / (F.col("nt") - F.col("bt"))
    bad_share = F.col("n_bad") * 1.0 / F.col("bt")
    woe = F.log(
        ((F.col("n") - F.col("n_bad")) * F.col("bt"))
        * 1.0
        / (F.col("n_bad") * (F.col("nt") - F.col("bt")))
    )
    return binned.select(
        "bin",
        "n",
        "n_bad",
        F.round(woe, 6).alias("woe_r"),
        F.round((good_share - bad_share) * woe, 6).alias("iv_term_r"),
    )


# --------------------------------------------- Kruskal-Wallis rank test

_KW_SQL = f"""
    WITH v AS (
        SELECT {cents_sql('o_totalprice')} AS x_c,
               o_orderpriority AS grp
        FROM orders
    ),
    cells_gv AS (SELECT x_c, grp, count(*) AS cg FROM v GROUP BY 1, 2),
    cells AS (SELECT x_c, sum(cg)::BIGINT AS c FROM cells_gv GROUP BY 1),
    walk AS (
        SELECT x_c, c,
               sum(c) OVER (ORDER BY x_c ROWS UNBOUNDED PRECEDING) - c
                   AS cnt_lt
        FROM cells
    ),
    tot AS (
        SELECT sum(c)::BIGINT AS n,
               sum(c::HUGEINT * c * c - c)::HUGEINT AS tsum
        FROM cells
    ),
    rg AS (
        SELECT g.grp, sum(g.cg)::BIGINT AS n_g,
               sum(g.cg::HUGEINT * (2 * w.cnt_lt + w.c + 1))::HUGEINT AS r2
        FROM cells_gv g JOIN walk w USING (x_c)
        GROUP BY 1
    ),
    s AS (
        SELECT count(*) AS k,
               sum((r2::DOUBLE) * (r2::DOUBLE) / n_g) AS sr
        FROM rg
    )
    SELECT t.n, s.k::INT AS k,
           round(3.0 / (t.n::DOUBLE * (t.n + 1)) * s.sr - 3 * (t.n + 1), 6)
               AS h_r,
           round(1.0 - t.tsum::DOUBLE
                     / (t.n::DOUBLE * t.n * t.n - t.n), 9) AS c_tie_r,
           round((3.0 / (t.n::DOUBLE * (t.n + 1)) * s.sr - 3 * (t.n + 1))
                 / (1.0 - t.tsum::DOUBLE
                        / (t.n::DOUBLE * t.n * t.n - t.n)), 6) AS h_adj_r
    FROM tot t CROSS JOIN s
"""


@register("kruskal_wallis_test", oracle=_KW_SQL)
def kruskal_wallis_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H (1952): the k-group rank ANOVA of order value
    across the 5 order priorities, with the standard tie correction
    C = 1 − Σ(t³−t)/(N³−N) — the nonparametric sibling of
    ``anova_two_way`` (no normality assumption).

    Rank arithmetic is INTEGER throughout: the mid-rank of a tied value
    group is kept DOUBLED (2·cnt_lt + c + 1, always an integer), group
    rank sums accumulate in DECIMAL(38,0) (HUGEINT on the oracle side),
    and H = 3/(N(N+1))·Σ(R2_g²/n_g) − 3(N+1) uses the doubled sums
    directly (12/4 = 3). Doubles appear only in the final ≤5-row panel
    arithmetic over identical expression trees (the anova_two_way
    discipline).

    Scale shape: ranks and N come from the ``prefix_sums`` count over the
    order-cents value spine, so there is no global per-row rank; the tie
    sum Σ(c³−c) is one 1-row aggregate of the same spine."""
    o = table(spark, sf_dir, "orders")
    v = o.select(
        cents(F.col("o_totalprice")).alias("x_c"),
        F.col("o_orderpriority").alias("grp"),
    )
    cells_gv = v.groupBy("x_c", "grp").agg(F.count("*").alias("cg"))
    cells = cells_gv.groupBy("x_c").agg(F.sum("cg").alias("c"))
    c12 = F.col("c").cast("decimal(12,0)")
    ties = cells.agg(F.sum(c12 * c12 * c12 - c12).alias("tsum"))
    walk = prefix_sums(cells, "x_c", [], {"cnt_le": F.col("c")}).select(
        "x_c",
        "c",
        F.col("cnt_le_total").alias("n"),
        (F.col("cnt_le") - F.col("c")).alias("cnt_lt"),
    )
    rg = (
        cells_gv.join(walk, "x_c")
        .groupBy("grp")
        .agg(
            F.sum("cg").alias("n_g"),
            F.sum(
                F.col("cg").cast("decimal(18,0)")
                * (2 * F.col("cnt_lt") + F.col("c") + 1)
            ).alias("r2"),
            F.first("n").alias("n"),
        )
    )
    s = rg.agg(
        F.count("*").cast("int").alias("k"),
        F.sum(
            F.col("r2").cast("double") * F.col("r2").cast("double") / F.col("n_g")
        ).alias("sr"),
        F.first("n").alias("n"),
    ).crossJoin(F.broadcast(ties))
    nd = F.col("n").cast("double")
    h = F.lit(3.0) / (nd * (F.col("n") + 1)) * F.col("sr") - 3 * (F.col("n") + 1)
    c_tie = F.lit(1.0) - F.col("tsum").cast("double") / (nd * F.col("n") * F.col("n") - F.col("n"))
    return s.select(
        "n",
        "k",
        F.round(h, 6).alias("h_r"),
        F.round(c_tie, 9).alias("c_tie_r"),
        F.round(h / c_tie, 6).alias("h_adj_r"),
    )


# ------------------------------------ isotonic calibration (PAVA minimax)

_PAVA_SQL = """
    WITH b AS (
        SELECT least(n_chars // 50, 19) AS bin,
               count(*) AS n,
               sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS pos
        FROM documents GROUP BY 1
    ),
    cum AS (
        SELECT x.bin, x.n, x.pos,
               (SELECT sum(y.n) FROM b y WHERE y.bin <= x.bin)::BIGINT AS cn,
               (SELECT sum(y.pos) FROM b y WHERE y.bin <= x.bin)::BIGINT AS cp
        FROM b x
    ),
    j AS (
        SELECT bin AS jb, cn AS nj, cp AS pj FROM cum
        UNION ALL SELECT -1, 0, 0
    ),
    tri AS (
        SELECT i.bin, j.jb,
               min((k.cp - j.pj) * 1.0 / (k.cn - j.nj)) AS minr
        FROM cum i
        JOIN j ON j.jb < i.bin
        JOIN cum k ON k.bin >= i.bin
        GROUP BY 1, 2
    ),
    fit AS (SELECT bin, max(minr) AS iso FROM tri GROUP BY 1)
    SELECT c.bin, c.n, c.pos,
           round(c.pos * 1.0 / c.n, 6) AS rate_raw_r,
           round(f.iso, 6) AS rate_iso_r
    FROM cum c JOIN fit f USING (bin)
"""


@register("isotonic_calibration_pava", oracle=_PAVA_SQL)
def isotonic_calibration_pava(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic regression of P(lang='en') on the document-length bin —
    the PAVA calibration fit (Barlow et al. 1972), computed in its
    minimax closed form: on the cumulative-sum diagram, the isotonic
    value at bin i is max_{j≤i} min_{k≥i} (P_k − P_{j−1})/(N_k − N_{j−1})
    (the greatest convex minorant's slope). Pool-adjacent-violators is a
    sequential sweep; the minimax form is the order-free equivalent that
    distributes.

    Exactness: cumulative counts are exact longs; every candidate slope
    is ONE double division of two exact integers, and min/max are
    comparisons (never float sums) — bit-deterministic in both engines.

    Scale shape: one fact pass to the ≤20-row bin table; cumulative sums
    and the (i,j,k) minimax live on that bounded spine via triangular
    broadcast joins (≤20³ rows, no window at all, nothing partitionless)."""
    d = table(spark, sf_dir, "documents")
    b = d.groupBy(
        F.least(F.expr("n_chars DIV 50"), F.lit(19)).alias("bin")
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("pos"),
    )
    prior = b.select(
        F.col("bin").alias("b2"), F.col("n").alias("n2"), F.col("pos").alias("p2")
    )
    cum = (
        b.join(F.broadcast(prior), F.col("b2") <= F.col("bin"))
        .groupBy("bin", "n", "pos")
        .agg(F.sum("n2").alias("cn"), F.sum("p2").alias("cp"))
    )
    j = cum.select(
        F.col("bin").alias("jb"), F.col("cn").alias("nj"), F.col("cp").alias("pj")
    ).unionByName(
        const_df(cum.sparkSession, [(-1, 0, 0)], "jb BIGINT, nj BIGINT, pj BIGINT")
    )
    k = cum.select(
        F.col("bin").alias("kb"), F.col("cn").alias("nk"), F.col("cp").alias("pk")
    )
    tri = (
        cum.select("bin")
        .join(F.broadcast(j), F.col("jb") < F.col("bin"))
        .join(F.broadcast(k), F.col("kb") >= F.col("bin"))
        .groupBy("bin", "jb")
        .agg(
            F.min(
                (F.col("pk") - F.col("pj")) * F.lit(1.0) / (F.col("nk") - F.col("nj"))
            ).alias("minr")
        )
    )
    fit = tri.groupBy("bin").agg(F.max("minr").alias("iso"))
    return cum.join(F.broadcast(fit), "bin").select(
        "bin",
        "n",
        "pos",
        F.round(F.col("pos") * F.lit(1.0) / F.col("n"), 6).alias("rate_raw_r"),
        F.round("iso", 6).alias("rate_iso_r"),
    )


# ------------------------------------ quantile regression via pinball grid

_QREG_SLOPES = list(range(50_000, 1_100_000, 50_000))  # cents per unit, 21 pts
_QREG_VALUES = ", ".join(f"({b})" for b in _QREG_SLOPES)

_QREG_SQL = f"""
    WITH li AS (
        SELECT {cents_sql('l_extendedprice')} AS y_c,
               l_quantity::BIGINT AS x
        FROM lineitem
    ),
    grid(b_c) AS (VALUES {_QREG_VALUES}),
    taus(tau10) AS (VALUES (5), (9)),
    loss AS (
        SELECT t.tau10, g.b_c,
               sum(CASE WHEN li.y_c - g.b_c * li.x >= 0
                        THEN t.tau10 * (li.y_c - g.b_c * li.x)
                        ELSE (t.tau10 - 10) * (li.y_c - g.b_c * li.x)
                   END)::HUGEINT AS loss10
        FROM li CROSS JOIN grid g CROSS JOIN taus t
        GROUP BY 1, 2
    ),
    best AS (SELECT tau10, min(loss10) AS ml FROM loss GROUP BY 1)
    SELECT l.tau10, l.b_c, l.loss10::DOUBLE AS loss10_d,
           CASE WHEN l.loss10 = b.ml THEN 1 ELSE 0 END AS is_min
    FROM loss l JOIN best b USING (tau10)
"""


@register("quantile_regression_grid", oracle=_QREG_SQL)
def quantile_regression_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile regression through the origin (price ~ b·quantity) by
    exact pinball-loss minimization over a fixed slope grid, at
    τ ∈ {0.5, 0.9} (Koenker-Bassett 1978). The pinball loss
    L_τ(r) = r·(τ − 1{r<0}) is kept INTEGER by working in tenths
    (τ10 ∈ {5,9}: positive residuals weigh τ10, negative τ10−10), so
    every loss cell is an exact integer accumulated in DECIMAL(38,0) —
    no float ever crosses a row boundary; the argmin is an integer
    comparison.

    Scale shape: a grid-bounded explode (42 = 21 slopes × 2 taus
    replicas, constant) followed by ONE partial+final aggregate to the
    42-row loss table — the same map-side-combine cost profile as any
    groupBy sum; the argmin join runs on the 42-row panel."""
    li = table(spark, sf_dir, "lineitem")
    v = li.select(
        cents(F.col("l_extendedprice")).alias("y_c"),
        F.col("l_quantity").cast("long").alias("x"),
    )
    grid = const_df(
        spark, [(t, b) for t in (5, 9) for b in _QREG_SLOPES], "tau10 INT, b_c BIGINT"
    )
    r = F.col("y_c") - F.col("b_c") * F.col("x")
    term = F.when(r >= 0, F.col("tau10") * r).otherwise((F.col("tau10") - 10) * r)
    loss = (
        v.join(F.broadcast(grid))
        .groupBy("tau10", "b_c")
        .agg(F.sum(term.cast("decimal(38,0)")).alias("loss10"))
    )
    best = loss.groupBy("tau10").agg(F.min("loss10").alias("ml"))
    return loss.join(F.broadcast(best), "tau10").select(
        "tau10",
        "b_c",
        F.col("loss10").cast("double").alias("loss10_d"),
        (F.col("loss10") == F.col("ml")).cast("int").alias("is_min"),
    )


# ------------------------------------------------ Chow structural break

_CHOW_SQL = f"""
    WITH v AS (
        SELECT CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                    THEN 0 ELSE 1 END AS seg,
               datediff('day', TIMESTAMP '1995-01-01', o_orderdate)::BIGINT
                   AS x,
               {cents_sql('o_totalprice')} AS y
        FROM orders
    ),
    m AS (
        SELECT seg, count(*)::HUGEINT AS n,
               sum(x)::HUGEINT AS sx, sum(y)::HUGEINT AS sy,
               sum(x::HUGEINT * x) AS sxx,
               sum(x::HUGEINT * y) AS sxy,
               sum(y::HUGEINT * y) AS syy
        FROM v GROUP BY 1
    ),
    p AS (
        SELECT sum(n) AS n, sum(sx) AS sx, sum(sy) AS sy,
               sum(sxx) AS sxx, sum(sxy) AS sxy, sum(syy) AS syy
        FROM m
    ),
    ssr AS (
        SELECT seg, n::DOUBLE AS nd,
               (a::DOUBLE - b::DOUBLE * b::DOUBLE / c::DOUBLE) / n::DOUBLE AS s
        FROM (
            SELECT seg, n,
                   n * syy - sy * sy AS a,
                   n * sxy - sx * sy AS b,
                   n * sxx - sx * sx AS c
            FROM (SELECT * FROM m UNION ALL SELECT 2, * FROM p)
                 u(seg, n, sx, sy, sxx, sxy, syy)
        )
    )
    SELECT max(CASE WHEN seg = 0 THEN nd END)::BIGINT AS n1,
           max(CASE WHEN seg = 1 THEN nd END)::BIGINT AS n2,
           round(ln(max(CASE WHEN seg = 2 THEN s END)), 6) AS ln_ssr_pooled_r,
           round(ln(max(CASE WHEN seg = 0 THEN s END)
                    + max(CASE WHEN seg = 1 THEN s END)), 6) AS ln_ssr_split_r,
           round(((max(CASE WHEN seg = 2 THEN s END)
                   - (max(CASE WHEN seg = 0 THEN s END)
                      + max(CASE WHEN seg = 1 THEN s END))) / 2)
                 / ((max(CASE WHEN seg = 0 THEN s END)
                     + max(CASE WHEN seg = 1 THEN s END))
                    / (max(CASE WHEN seg = 0 THEN nd END)
                       + max(CASE WHEN seg = 1 THEN nd END) - 4)), 6)
               AS chow_f_r
    FROM ssr
"""


@register("chow_test", oracle=_CHOW_SQL)
def chow_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow test (1960) for a structural break in the order-value trend at
    1998-01-01: F = ((SSR_pooled − SSR₁ − SSR₂)/k) / ((SSR₁+SSR₂)/(n−2k)),
    k = 2 (slope + intercept) — did the price/time relationship change
    regime, the econometrician's changepoint test (vs the distributional
    ``cusum_changepoint``).

    Exactness: raw moments (n, Σx, Σy, Σx², Σxy, Σy²) accumulate in
    DECIMAL(38,0)/HUGEINT — exact, order-free; pooled moments are SUMS of
    the two segment rows (still exact). SSRs convert to double only in
    the final per-row expression with identical trees, so the notorious
    SSR cancellation (big−big) happens on identical inputs in both
    engines. regr_* aggregates are deliberately NOT used here — their
    one-pass centered updates are engine-specific and the Chow numerator
    amplifies any drift.

    Scale shape: one fact pass to TWO moment rows (map-side combinable),
    then arithmetic on a ≤3-row panel."""
    o = table(spark, sf_dir, "orders")
    d38 = "decimal(38,0)"
    v = o.select(
        F.when(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"), 0)
        .otherwise(1)
        .alias("seg"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp"))
        .cast("long")
        .alias("x"),
        cents(F.col("o_totalprice")).alias("y"),
    )
    x_d, y_d = F.col("x").cast(d38), F.col("y").cast(d38)
    m = v.groupBy("seg").agg(
        F.count("*").cast(d38).alias("n"),
        F.sum(x_d).alias("sx"),
        F.sum(y_d).alias("sy"),
        F.sum(x_d * F.col("x")).alias("sxx"),
        F.sum(x_d * F.col("y")).alias("sxy"),
        F.sum(y_d * F.col("y")).alias("syy"),
    )
    p = m.agg(
        F.lit(2).alias("seg"),
        F.sum("n").alias("n"),
        F.sum("sx").alias("sx"),
        F.sum("sy").alias("sy"),
        F.sum("sxx").alias("sxx"),
        F.sum("sxy").alias("sxy"),
        F.sum("syy").alias("syy"),
    )
    u = m.unionByName(p).select(
        "seg",
        "n",
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).alias("a"),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("b"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("c"),
    )
    # a,b,c are EXACT n-scaled centered moments (decimal38); ssr converts
    # each to double ONCE (correctly-rounded in both engines) and runs four
    # IEEE ops on identical trees — no engine-specific centering updates
    nd = F.col("n").cast("double")
    ssr = (
        F.col("a").cast("double")
        - F.col("b").cast("double") * F.col("b").cast("double")
        / F.col("c").cast("double")
    ) / nd
    rows = u.select("seg", nd.alias("nd"), ssr.alias("s"))
    agg = rows.agg(
        F.max(F.when(F.col("seg") == 0, F.col("nd"))).alias("nd1"),
        F.max(F.when(F.col("seg") == 1, F.col("nd"))).alias("nd2"),
        F.max(F.when(F.col("seg") == 0, F.col("s"))).alias("s1"),
        F.max(F.when(F.col("seg") == 1, F.col("s"))).alias("s2"),
        F.max(F.when(F.col("seg") == 2, F.col("s"))).alias("sp"),
    )
    split = F.col("s1") + F.col("s2")
    f_stat = ((F.col("sp") - split) / 2) / (
        split / (F.col("nd1") + F.col("nd2") - 4)
    )
    # SSRs are ~1e19 cents² where a single input ulp is ~4e3 — reported on
    # the LOG scale (relative 1e-16 per ulp), the only rounding-stable form
    return agg.select(
        F.col("nd1").cast("long").alias("n1"),
        F.col("nd2").cast("long").alias("n2"),
        F.round(F.log("sp"), 6).alias("ln_ssr_pooled_r"),
        F.round(F.log(split), 6).alias("ln_ssr_split_r"),
        F.round(f_stat, 6).alias("chow_f_r"),
    )


# ------------------------------------------ Nelson-Aalen cumulative hazard

_NA_SQL = """
    WITH su AS (
        SELECT user_id, min(epoch_us(ts)) AS s_us
        FROM events WHERE event_type = 'signup' GROUP BY 1
    ),
    pu AS (
        SELECT e.user_id, min(epoch_us(e.ts)) AS p_us
        FROM events e JOIN su ON su.user_id = e.user_id
                            AND epoch_us(e.ts) > su.s_us
        WHERE e.event_type = 'purchase'
        GROUP BY 1
    ),
    obs AS (SELECT max(epoch_us(ts)) AS end_us FROM events),
    durs AS (
        SELECT CASE WHEN pu.p_us IS NOT NULL
                    THEN (pu.p_us - su.s_us) // 86400000000
                    ELSE (o.end_us - su.s_us) // 86400000000
               END AS t_day,
               CASE WHEN pu.p_us IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM su LEFT JOIN pu ON pu.user_id = su.user_id
        CROSS JOIN obs o
    ),
    g AS (SELECT t_day, sum(ev) AS d, count(*) AS c FROM durs GROUP BY 1),
    sp AS (
        SELECT t_day, d,
               sum(c) OVER (ORDER BY t_day DESC
                            ROWS UNBOUNDED PRECEDING) AS n_risk
        FROM g
    ),
    na AS (
        SELECT t_day, d, n_risk,
               sum(d * 1.0 / n_risk)
                   OVER (ORDER BY t_day ROWS UNBOUNDED PRECEDING) AS h,
               sum((d * 1.0 / n_risk) * (d * 1.0 / n_risk) / d)
                   OVER (ORDER BY t_day ROWS UNBOUNDED PRECEDING) AS vh
        FROM sp WHERE d > 0
    )
    SELECT t_day, d::BIGINT AS n_events, n_risk::BIGINT AS n_risk,
           round(h, 6) AS na_cumhaz_r,
           round(vh, 9) AS na_var_r
    FROM na
"""


@register("nelson_aalen_hazard", oracle=_NA_SQL)
def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard for the signup→first-purchase
    process (same right-censored setup as ``kaplan_meier_survival``):
    H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ with the standard variance estimate
    Σ dᵢ/nᵢ² — the hazard-scale counterpart of KM (exp(−H) ≈ S with
    equality in the continuous limit), and the input to the log-rank
    family's expected-event arithmetic.

    Determinism: each increment is one double division of exact longs;
    the running sums are windows ORDERED BY the day spine, so both
    engines accumulate the same additions in the same order (the KM
    discipline).

    Scale shape: grouped per-user reductions, then everything lives on
    the calendar-bounded day spine — the at-risk descending cumsum and
    the two hazard running sums are the only partitionless windows, all
    spine-bounded (O(observation days), independent of user count)."""
    e = table(spark, sf_dir, "events")
    su = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("s_us"))
    )
    pu = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id", F.unix_micros("ts").alias("p_raw"))
        .join(su, "user_id")
        .filter(F.col("p_raw") > F.col("s_us"))
        .groupBy("user_id")
        .agg(F.min("p_raw").alias("p_us"))
    )
    obs = e.agg(F.max(F.unix_micros("ts")).alias("end_us"))
    durs = (
        su.join(pu, "user_id", "left")
        .crossJoin(F.broadcast(obs))
        .select(
            F.when(
                F.col("p_us").isNotNull(),
                F.expr("(p_us - s_us) div 86400000000"),
            )
            .otherwise(F.expr("(end_us - s_us) div 86400000000"))
            .alias("t_day"),
            F.when(F.col("p_us").isNotNull(), 1).otherwise(0).alias("ev"),
        )
    )
    g = durs.groupBy("t_day").agg(F.sum("ev").alias("d"), F.count("*").alias("c"))
    w_desc = Window.orderBy(F.col("t_day").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sp = g.select("t_day", "d", F.sum("c").over(w_desc).alias("n_risk")).filter(
        F.col("d") > 0
    )
    w_asc = Window.orderBy("t_day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    inc = F.col("d") * F.lit(1.0) / F.col("n_risk")
    return sp.select(
        "t_day",
        F.col("d").alias("n_events"),
        "n_risk",
        F.round(F.sum(inc).over(w_asc), 6).alias("na_cumhaz_r"),
        F.round(F.sum(inc * inc / F.col("d")).over(w_asc), 9).alias("na_var_r"),
    )


# --------------------------------------------------- Mood's median test

_MOOD_SQL = f"""
    WITH v AS (
        SELECT {cents_sql('o_totalprice')} AS x_c,
               o_orderpriority AS grp
        FROM orders
    ),
    spine AS (SELECT x_c, count(*) AS c FROM v GROUP BY 1),
    cum AS (
        SELECT x.x_c,
               (SELECT sum(y.c) FROM spine y WHERE y.x_c <= x.x_c)::BIGINT
                   AS cnt_le
        FROM spine x
    ),
    tot AS (SELECT sum(c)::BIGINT AS n FROM spine),
    med AS (
        SELECT min(cum.x_c) AS m FROM cum CROSS JOIN tot
        WHERE cum.cnt_le * 2 >= tot.n
    ),
    cells AS (
        SELECT v.grp,
               sum(CASE WHEN v.x_c > med.m THEN 1 ELSE 0 END)::BIGINT AS n_above,
               sum(CASE WHEN v.x_c <= med.m THEN 1 ELSE 0 END)::BIGINT AS n_below
        FROM v CROSS JOIN med GROUP BY 1
    ),
    g AS (
        SELECT sum(n_above)::BIGINT AS ta, sum(n_below)::BIGINT AS tb FROM cells
    )
    SELECT c.grp, c.n_above, c.n_below,
           round(
             (c.n_above - (c.n_above + c.n_below) * 1.0 * g.ta / (g.ta + g.tb))
             * (c.n_above - (c.n_above + c.n_below) * 1.0 * g.ta / (g.ta + g.tb))
             / ((c.n_above + c.n_below) * 1.0 * g.ta / (g.ta + g.tb))
             +
             (c.n_below - (c.n_above + c.n_below) * 1.0 * g.tb / (g.ta + g.tb))
             * (c.n_below - (c.n_above + c.n_below) * 1.0 * g.tb / (g.ta + g.tb))
             / ((c.n_above + c.n_below) * 1.0 * g.tb / (g.ta + g.tb)), 6)
               AS chi2_term_r
    FROM cells c CROSS JOIN g
"""


@register("mood_median_test", oracle=_MOOD_SQL)
def mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test: each priority group's above/below split against
    the GLOBAL median order value, with the per-group chi-square
    contribution — the coarse-but-robust k-group location test (the
    rank-free sibling of ``kruskal_wallis_test``; immune to outliers by
    construction).

    The global median is the exact order statistic (smallest value whose
    cumulative count covers half of N) — integer arithmetic only; the
    chi-square terms are doubles from exact longs on the 5-row panel.

    Scale shape: one shuffle groups the fact to the distinct-cents spine;
    the cumulative count and N come from ``prefix_sums``, and the
    above/below counts are ONE conditional-sum pass with the 1-row median
    broadcast."""
    o = table(spark, sf_dir, "orders")
    v = o.select(
        cents(F.col("o_totalprice")).alias("x_c"),
        F.col("o_orderpriority").alias("grp"),
    )
    spine = v.groupBy("x_c").agg(F.count("*").alias("c"))
    cum = prefix_sums(spine, "x_c", [], {"cnt_le": F.col("c")}).withColumnRenamed(
        "cnt_le_total", "n"
    )
    med = (
        cum.filter(F.col("cnt_le") * 2 >= F.col("n"))
        .agg(F.min("x_c").alias("m"))
    )
    cells = (
        v.crossJoin(F.broadcast(med))
        .groupBy("grp")
        .agg(
            F.sum(F.when(F.col("x_c") > F.col("m"), 1).otherwise(0)).alias("n_above"),
            F.sum(F.when(F.col("x_c") <= F.col("m"), 1).otherwise(0)).alias("n_below"),
        )
    )
    g = cells.agg(F.sum("n_above").alias("ta"), F.sum("n_below").alias("tb"))
    bt = cells.crossJoin(F.broadcast(g))
    n_g = F.col("n_above") + F.col("n_below")
    ea = n_g * F.lit(1.0) * F.col("ta") / (F.col("ta") + F.col("tb"))
    eb = n_g * F.lit(1.0) * F.col("tb") / (F.col("ta") + F.col("tb"))
    return bt.select(
        "grp",
        "n_above",
        "n_below",
        F.round(
            (F.col("n_above") - ea) * (F.col("n_above") - ea) / ea
            + (F.col("n_below") - eb) * (F.col("n_below") - eb) / eb,
            6,
        ).alias("chi2_term_r"),
    )


# ------------------------------------------------------- Friedman test

_FRIEDMAN_SQL = """
    WITH cells0 AS (
        SELECT date_trunc('month', o_orderdate) AS blk,
               o_orderpriority AS trt,
               count(*)::BIGINT AS val
        FROM orders GROUP BY 1, 2
    ),
    cells AS (
        SELECT * FROM cells0
        WHERE blk IN (SELECT blk FROM cells0 GROUP BY 1 HAVING count(*) = 5)
    ),
    ranked AS (
        SELECT a.blk, a.trt,
               (2 * sum(CASE WHEN b.val < a.val THEN 1 ELSE 0 END)
                + sum(CASE WHEN b.val = a.val THEN 1 ELSE 0 END)
                + 1)::BIGINT AS r2
        FROM cells a JOIN cells b ON a.blk = b.blk
        GROUP BY 1, 2
    ),
    rsum AS (
        SELECT trt, sum(r2)::HUGEINT AS r2s FROM ranked GROUP BY 1
    ),
    ties AS (
        SELECT blk, val, count(*)::BIGINT AS t
        FROM cells GROUP BY 1, 2
    ),
    dims AS (
        SELECT (SELECT count(DISTINCT blk) FROM cells)::BIGINT AS b,
               (SELECT count(DISTINCT trt) FROM cells)::BIGINT AS k,
               (SELECT sum(t * t * t - t) FROM ties)::BIGINT AS tsum,
               (SELECT sum((r2s::DOUBLE) * (r2s::DOUBLE)) FROM rsum) AS sr
    )
    SELECT b, k,
           round(3.0 / (b::DOUBLE * k * (k + 1)) * sr - 3 * b * (k + 1), 6)
               AS q_r,
           round(1.0 - tsum::DOUBLE / (b::DOUBLE * k * (k * k - 1)), 9)
               AS c_tie_r,
           round((3.0 / (b::DOUBLE * k * (k + 1)) * sr - 3 * b * (k + 1))
                 / (1.0 - tsum::DOUBLE / (b::DOUBLE * k * (k * k - 1))), 6)
               AS q_adj_r
    FROM dims
"""


@register("friedman_test", oracle=_FRIEDMAN_SQL)
def friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test (1937) on the month × priority panel of order counts:
    within each month block the 5 priorities are mid-ranked (doubled
    integer ranks — ties get the exact average), rank sums accumulate per
    treatment, and Q = 3/(bk(k+1))·ΣR2ⱼ² − 3b(k+1) with Kendall's tie
    correction C = 1 − Σ(t³−t)/(bk(k²−1)) — the repeated-measures
    companion of ``kruskal_wallis_test`` (blocks absorb the monthly
    level, so only the WITHIN-month ordering matters).

    Exactness: ranks come from the block's 5×5 comparison join (exact
    integers, no window); doubles appear only in the ≤5-row final
    arithmetic over identical trees.

    Only COMPLETE blocks enter (months observing all 5 priorities) — the
    design Friedman assumes; with incomplete blocks the rank sums deflate
    and the statistic loses meaning (observed at sf0.001).

    Scale shape: one fact pass to the (months × 5)-cell panel, a
    block-keyed bounded self-join (fan-out exactly k=5), two panel
    aggregates — nothing partitionless, nothing row-scaled."""
    o = table(spark, sf_dir, "orders")
    cells0 = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("blk"),
        F.col("o_orderpriority").alias("trt"),
    ).agg(F.count("*").alias("val"))
    complete = (
        cells0.groupBy("blk").agg(F.count("*").alias("ntrt"))
        .filter(F.col("ntrt") == 5)
        .select("blk")
    )
    cells = cells0.join(F.broadcast(complete), "blk")
    b_side = cells.select(
        F.col("blk").alias("b_blk"), F.col("val").alias("b_val")
    )
    ranked = (
        cells.join(b_side, F.col("b_blk") == F.col("blk"))
        .groupBy("blk", "trt")
        .agg(
            (
                2 * F.sum(F.when(F.col("b_val") < F.col("val"), 1).otherwise(0))
                + F.sum(F.when(F.col("b_val") == F.col("val"), 1).otherwise(0))
                + 1
            ).alias("r2")
        )
    )
    rsum = ranked.groupBy("trt").agg(F.sum(F.col("r2").cast("decimal(38,0)")).alias("r2s"))
    ties = cells.groupBy("blk", "val").agg(F.count("*").alias("t"))
    d12 = "decimal(12,0)"
    dims = (
        cells.agg(
            F.countDistinct("blk").alias("b"), F.countDistinct("trt").alias("k")
        )
        .crossJoin(
            F.broadcast(
                ties.agg(
                    F.sum(
                        F.col("t").cast(d12) * F.col("t").cast(d12) * F.col("t").cast(d12)
                        - F.col("t").cast(d12)
                    ).alias("tsum")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                rsum.agg(
                    F.sum(
                        F.col("r2s").cast("double") * F.col("r2s").cast("double")
                    ).alias("sr")
                )
            )
        )
    )
    bd, kd = F.col("b").cast("double"), F.col("k")
    q = F.lit(3.0) / (bd * kd * (kd + 1)) * F.col("sr") - 3 * F.col("b") * (kd + 1)
    c_tie = F.lit(1.0) - F.col("tsum").cast("double") / (
        bd * kd * (kd * kd - 1)
    )
    return dims.select(
        "b",
        "k",
        F.round(q, 6).alias("q_r"),
        F.round(c_tie, 9).alias("c_tie_r"),
        F.round(q / c_tie, 6).alias("q_adj_r"),
    )


# ------------------------------------------- Jonckheere-Terpstra trend

_JT_PAIRS = [(g, h) for g in range(5) for h in range(5) if g < h]
_JT_UNION = "\nUNION ALL\n".join(
    f"SELECT {g} AS g_idx, {h} AS h_idx, n{g} AS n_g, n{h} AS n_h, "
    f"u2_{g}{h} AS u2 FROM sums"
    for g, h in _JT_PAIRS
)
_JT_U2 = ",\n".join(
    f"sum(c{h} * (2 * c{g}lt + c{g}))::HUGEINT AS u2_{g}{h}"
    for g, h in _JT_PAIRS
)

_JT_SQL = f"""
    WITH v AS (
        SELECT {cents_sql('o_totalprice')} AS x_c,
               CAST(substr(o_orderpriority, 1, 1) AS INT) - 1 AS gi
        FROM orders
    ),
    cells AS (
        SELECT x_c,
               {", ".join(f"sum(CASE WHEN gi = {i} THEN 1 ELSE 0 END)::BIGINT AS c{i}" for i in range(5))}
        FROM v GROUP BY 1
    ),
    walk AS (
        SELECT x_c, {", ".join(f"c{i}" for i in range(5))},
               {", ".join(f"coalesce(sum(c{i}) OVER w, 0)::BIGINT AS c{i}lt" for i in range(5))}
        FROM cells
        WINDOW w AS (ORDER BY x_c ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING)
    ),
    sums AS (
        SELECT {", ".join(f"sum(c{i})::BIGINT AS n{i}" for i in range(5))},
               {_JT_U2}
        FROM walk
    )
    SELECT g_idx, h_idx, n_g, n_h, u2::DOUBLE AS u2_d,
           round(u2 * 1.0 / (2.0 * n_g * n_h), 6) AS p_gt_r
    FROM ({_JT_UNION})
"""


@register("jonckheere_terpstra", oracle=_JT_SQL)
def jonckheere_terpstra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra ordered-alternative panel: for every ordered
    priority pair g<h the Mann-Whitney count U_gh = #{x∈g < y∈h} + ½·ties
    (kept DOUBLED so it stays integer), plus the tie-adjusted exceedance
    probability U/(n_g·n_h) — the trend test that, unlike Kruskal-Wallis,
    has POWER against the monotone ordering urgency implies. The JT
    statistic is the panel's u2 sum; the 10-row panel itself localizes
    WHERE the ordering holds.

    Exactness: every U is Σ_v c_h(v)·(2·cnt_lt_g(v) + c_g(v)) over the
    shared value spine — integers end to end; the probability is one
    terminal double division.

    Scale shape: one fact pass to the pivoted 5-count value spine, the
    ``prefix_sums`` of the five counts, one 10-expression aggregate, a
    10-row explode."""
    o = table(spark, sf_dir, "orders")
    v = o.select(
        cents(F.col("o_totalprice")).alias("x_c"),
        (F.substring("o_orderpriority", 1, 1).cast("int") - 1).alias("gi"),
    )
    cells = v.groupBy("x_c").agg(
        *[
            F.sum(F.when(F.col("gi") == i, 1).otherwise(0)).alias(f"c{i}")
            for i in range(5)
        ]
    )
    walk = prefix_sums(
        cells, "x_c", [], {f"c{i}le": F.col(f"c{i}") for i in range(5)}
    ).select(
        *[F.col(f"c{i}") for i in range(5)],
        *[(F.col(f"c{i}le") - F.col(f"c{i}")).alias(f"c{i}lt") for i in range(5)],
    )
    d38 = "decimal(38,0)"
    sums = walk.agg(
        *[F.sum(f"c{i}").alias(f"n{i}") for i in range(5)],
        *[
            F.sum(
                F.col(f"c{h}").cast(d38)
                * (2 * F.col(f"c{g}lt") + F.col(f"c{g}"))
            ).alias(f"u2_{g}{h}")
            for g, h in _JT_PAIRS
        ],
    )
    panel = sums.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(g).alias("g_idx"),
                        F.lit(h).alias("h_idx"),
                        F.col(f"n{g}").alias("n_g"),
                        F.col(f"n{h}").alias("n_h"),
                        F.col(f"u2_{g}{h}").alias("u2"),
                    )
                    for g, h in _JT_PAIRS
                ]
            )
        ).alias("p")
    ).select("p.*")
    return panel.select(
        "g_idx",
        "h_idx",
        "n_g",
        "n_h",
        F.col("u2").cast("double").alias("u2_d"),
        F.round(
            F.col("u2").cast("double")
            / (F.lit(2.0) * F.col("n_g") * F.col("n_h")),
            6,
        ).alias("p_gt_r"),
    )


# --------------------------------- direct standardization + MH odds ratio

_DSTD_SQL = """
    WITH cells AS (
        SELECT o.o_orderpriority AS grp, c.c_nationkey AS stratum,
               count(*)::BIGINT AS n,
               sum(CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END)
                   ::BIGINT AS ev
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    std AS (SELECT stratum, sum(n)::BIGINT AS w FROM cells GROUP BY 1),
    wtot AS (SELECT sum(w)::BIGINT AS wt FROM std),
    g AS (
        SELECT cells.grp,
               sum(cells.n)::BIGINT AS n,
               sum(cells.ev)::BIGINT AS ev,
               sum(std.w * (cells.ev * 1.0 / cells.n)) AS wsum
        FROM cells JOIN std USING (stratum)
        GROUP BY 1
    )
    SELECT g.grp, g.n, g.ev,
           round(g.ev * 1.0 / g.n, 6) AS rate_raw_r,
           round(g.wsum / wt.wt, 6) AS rate_std_r
    FROM g CROSS JOIN wtot wt
"""


@register("direct_standardization", oracle=_DSTD_SQL)
def direct_standardization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directly standardized fulfillment rates: each priority's 'F'-rate
    re-weighted to the POOLED nation mix (the epidemiologist's
    confounding adjustment — raw rates are incomparable when groups draw
    from different nation mixes; the standardized rate answers "what
    would this group's rate be on the common population"). rate_std =
    Σ_s w_s·r_gs / Σ_s w_s with w_s = the stratum's pooled size.

    Exactness: per-cell rates are single double divisions of exact longs;
    the weighted sum runs over the ≤(25·5)-row panel with identical
    expression trees (the anova discipline).

    Scale shape: one fact join + ONE grouped pass to the (nation ×
    priority) cell panel; standard weights are a 25-row rollup of the
    same panel, totals a 1-row broadcast."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    cells = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("o_orderpriority").alias("grp"),
            F.col("c_nationkey").alias("stratum"),
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("ev"),
        )
    )
    std = cells.groupBy("stratum").agg(F.sum("n").alias("w"))
    wtot = std.agg(F.sum("w").alias("wt"))
    g = (
        cells.join(F.broadcast(std), "stratum")
        .groupBy("grp")
        .agg(
            F.sum("n").alias("n"),
            F.sum("ev").alias("ev"),
            F.sum(F.col("w") * (F.col("ev") * F.lit(1.0) / F.col("n"))).alias("wsum"),
        )
    )
    return g.crossJoin(F.broadcast(wtot)).select(
        "grp",
        "n",
        "ev",
        F.round(F.col("ev") * F.lit(1.0) / F.col("n"), 6).alias("rate_raw_r"),
        F.round(F.col("wsum") / F.col("wt"), 6).alias("rate_std_r"),
    )


_MHOR_SQL = """
    WITH s AS (
        SELECT c.c_nationkey AS stratum,
               sum(CASE WHEN o.o_orderpriority = '1-URGENT'
                         AND o.o_orderstatus = 'F' THEN 1 ELSE 0 END)
                   ::BIGINT AS a,
               sum(CASE WHEN o.o_orderpriority = '1-URGENT'
                         AND o.o_orderstatus <> 'F' THEN 1 ELSE 0 END)
                   ::BIGINT AS b,
               sum(CASE WHEN o.o_orderpriority <> '1-URGENT'
                         AND o.o_orderstatus = 'F' THEN 1 ELSE 0 END)
                   ::BIGINT AS c,
               sum(CASE WHEN o.o_orderpriority <> '1-URGENT'
                         AND o.o_orderstatus <> 'F' THEN 1 ELSE 0 END)
                   ::BIGINT AS d
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1
    ),
    agg AS (
        SELECT count(*) AS n_strata,
               sum((a * d) * 1.0 / (a + b + c + d)) AS num,
               sum((b * c) * 1.0 / (a + b + c + d)) AS den
        FROM s
    )
    SELECT n_strata::INT AS n_strata,
           round(num, 6) AS num_r, round(den, 6) AS den_r,
           round(num / den, 6) AS or_mh_r,
           round(ln(num / den), 6) AS ln_or_mh_r
    FROM agg
"""


@register("mh_pooled_odds_ratio", oracle=_MHOR_SQL)
def mh_pooled_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Haenszel pooled odds ratio (1959) for urgency → fulfillment
    across nation strata: OR_MH = Σ(aₖdₖ/nₖ) / Σ(bₖcₖ/nₖ) — the
    ESTIMATE that goes with ``cmh_test``'s significance (the test says
    WHETHER, this says HOW MUCH, both Simpson-proof by stratification).

    Exactness: per-stratum a·d and b·c are exact long products; each
    term is one double division, summed only over the 25-row panel.

    Scale shape: identical to cmh_test — one fact join, ONE grouped pass
    to the stratum panel, panel arithmetic."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    urgent = F.col("o_orderpriority") == "1-URGENT"
    filled = F.col("o_orderstatus") == "F"
    s = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_nationkey").alias("stratum"))
        .agg(
            F.sum(F.when(urgent & filled, 1).otherwise(0)).alias("a"),
            F.sum(F.when(urgent & ~filled, 1).otherwise(0)).alias("b"),
            F.sum(F.when(~urgent & filled, 1).otherwise(0)).alias("c"),
            F.sum(F.when(~urgent & ~filled, 1).otherwise(0)).alias("d"),
        )
    )
    nk = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    agg = s.agg(
        F.count("*").cast("int").alias("n_strata"),
        F.sum((F.col("a") * F.col("d")) * F.lit(1.0) / nk).alias("num"),
        F.sum((F.col("b") * F.col("c")) * F.lit(1.0) / nk).alias("den"),
    )
    return agg.select(
        "n_strata",
        F.round("num", 6).alias("num_r"),
        F.round("den", 6).alias("den_r"),
        F.round(F.col("num") / F.col("den"), 6).alias("or_mh_r"),
        F.round(F.log(F.col("num") / F.col("den")), 6).alias("ln_or_mh_r"),
    )


# ------------------------------------------- survey raking (IPF) + SRM

def _ipf_sql() -> str:
    # 3 unrolled IPF iterations = 6 alternating margin scalings, identical
    # expression trees to the Spark side
    steps = []
    prev = "w0"
    for it in range(3):
        rname, cname = f"r{it}", f"c{it}"
        steps.append(
            f"""{rname} AS (
        SELECT t.grp, t.st,
               t.w * rt.tg / rs.sg AS w
        FROM {prev} t
        JOIN (SELECT grp, sum(w) AS sg FROM {prev} GROUP BY 1) rs
          ON rs.grp = t.grp
        JOIN tgt_g rt ON rt.grp = t.grp
    )"""
        )
        steps.append(
            f"""{cname} AS (
        SELECT t.grp, t.st,
               t.w * ct.ts / cs.ss AS w
        FROM {rname} t
        JOIN (SELECT st, sum(w) AS ss FROM {rname} GROUP BY 1) cs
          ON cs.st = t.st
        JOIN tgt_s ct ON ct.st = t.st
    )"""
        )
        prev = cname
    return f"""
    WITH pop AS (
        SELECT o_orderpriority AS grp, o_orderstatus AS st FROM orders
    ),
    samp AS (
        SELECT o_orderpriority AS grp, o_orderstatus AS st
        FROM orders WHERE o_orderkey % 7 < 2
    ),
    cells AS (
        SELECT grp, st, count(*)::BIGINT AS n FROM samp GROUP BY 1, 2
    ),
    tgt_g AS (SELECT grp, count(*)::BIGINT AS tg FROM pop GROUP BY 1),
    tgt_s AS (SELECT st, count(*)::BIGINT AS ts FROM pop GROUP BY 1),
    scale AS (
        SELECT (SELECT count(*) FROM samp) * 1.0
               / (SELECT count(*) FROM pop) AS f
    ),
    w0 AS (
        SELECT c.grp, c.st, c.n * 1.0 AS w FROM cells c
    ),
    {", ".join(steps)}
    SELECT t.grp, t.st, c.n AS n_sample,
           round(t.w * s.f, 4) AS w_scaled_r
    FROM {prev} t
    JOIN cells c ON c.grp = t.grp AND c.st = t.st
    CROSS JOIN scale s
"""


_IPF_SQL = _ipf_sql()


@register("survey_raking_ipf", oracle=_IPF_SQL)
def survey_raking_ipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survey raking / iterative proportional fitting (Deming-Stephan
    1940): a deterministic biased subsample (o_orderkey % 7 < 2) is
    reweighted so its (priority × status) cell weights match BOTH
    full-population margins — 3 unrolled IPF iterations (row-scale then
    column-scale), the standard bias correction when a sample's mix
    drifts from the population's. Output weights are rescaled by the
    sampling fraction so they read as per-cell inflation factors.

    Determinism: every scaling is a ratio of exact counts or of sums of
    previously-computed weights over the 15-cell panel; both engines run
    the identical 6-step expression tree (small-panel double sums, the
    anova discipline).

    Scale shape: ONE fact aggregate to the (priority × status) panel —
    each cell's population count and its sample count — then pure panel
    arithmetic. Margins are window sums over ``grp``/``st``, the sampling
    fraction is a partitionless window (2 specs: Σ sample, Σ population),
    and each of the 6 scalings is ``w · target / Σw over grp|st``, so
    ``w`` is referenced once per round and the plan stays linear. The
    panel is bounded by key cardinality (≤ 5 × 3 = 15 cells at any scale),
    so it is coalesced to one partition right after the aggregate: a
    single partition satisfies every window's distribution, and no
    exchange follows the fact shuffle."""
    o = table(spark, sf_dir, "orders")
    by_g, by_s, whole = (
        Window.partitionBy("grp"),
        Window.partitionBy("st"),
        Window.partitionBy(),
    )
    panel = (
        o.groupBy(
            F.col("o_orderpriority").alias("grp"), F.col("o_orderstatus").alias("st")
        )
        .agg(
            F.count("*").alias("np"),
            F.count(F.when(F.col("o_orderkey") % 7 < 2, 1)).alias("n"),
        )
        .coalesce(1)
        .select(
            "grp",
            "st",
            "n",
            F.sum("np").over(by_g).alias("tg"),
            F.sum("np").over(by_s).alias("ts"),
            (
                F.sum("n").over(whole) * F.lit(1.0) / F.sum("np").over(whole)
            ).alias("f"),
        )
        .filter(F.col("n") > 0)
    )
    w = panel.withColumn("w", F.col("n") * F.lit(1.0))
    for _ in range(3):
        w = w.withColumn("w", F.col("w") * F.col("tg") / F.sum("w").over(by_g))
        w = w.withColumn("w", F.col("w") * F.col("ts") / F.sum("w").over(by_s))
    return w.select(
        "grp",
        "st",
        F.col("n").alias("n_sample"),
        F.round(F.col("w") * F.col("f"), 4).alias("w_scaled_r"),
    )


_SRM_SQL = """
    WITH arms AS (
        SELECT user_id % 2 AS arm, count(DISTINCT user_id)::BIGINT AS n
        FROM events GROUP BY 1
    ),
    t AS (SELECT sum(n)::BIGINT AS nt FROM arms)
    SELECT a.arm, a.n,
           round(t.nt / 2.0, 1) AS expected_r,
           round((a.n - t.nt / 2.0) * (a.n - t.nt / 2.0) / (t.nt / 2.0), 6)
               AS chi2_term_r,
           CASE WHEN (SELECT sum((x.n - q.nt / 2.0) * (x.n - q.nt / 2.0)
                                 / (q.nt / 2.0))
                      FROM arms x CROSS JOIN t q) > 3.841 THEN 1 ELSE 0 END
               AS srm_flag
    FROM arms a CROSS JOIN t
"""


@register("abtest_srm_check", oracle=_SRM_SQL)
def abtest_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail: distinct users per arm (parity
    assignment) against the designed 50/50 split, per-arm chi-square
    terms, and the df=1 SRM flag at the fixed 3.841 critical value
    (literal — no libm inverse anywhere). The first sanity check every
    experimentation platform runs before reading ANY metric: a
    significant SRM means the assignment or logging is broken and all
    downstream results are void.

    Scale shape: ONE distinct-user aggregate to a 2-row panel — the panel
    is cut so the total, the chi-square sum, and the output rows share a
    single fact scan."""
    e = table(spark, sf_dir, "events")
    arms = cut(
        e.groupBy((F.col("user_id") % 2).alias("arm")).agg(
            F.countDistinct("user_id").alias("n")
        ),
        "abtest_srm_check.arms",
    )
    t = arms.agg(F.sum("n").alias("nt"))
    bt = arms.crossJoin(F.broadcast(t))
    exp = F.col("nt") / 2.0
    term = (F.col("n") - exp) * (F.col("n") - exp) / exp
    tot = bt.agg(F.sum(term).alias("chi2")).select(
        (F.col("chi2") > 3.841).cast("int").alias("srm_flag")
    )
    return bt.crossJoin(F.broadcast(tot)).select(
        "arm",
        "n",
        F.round(exp, 1).alias("expected_r"),
        F.round(term, 6).alias("chi2_term_r"),
        "srm_flag",
    )


# ------------------------------------------------------------------ round 8

# Multinomial naive Bayes language-ID, trained on a deterministic 80/20
# doc_id split, Laplace-smoothed, evaluated as a confusion matrix. Per-
# token log-probabilities are rounded to 12 decimals and summed as exact
# DECIMAL so the per-(doc, lang) score is independent of float summation
# order; argmax ties break on the lexicographically smallest language.
_NB_SQL = """
    WITH train AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
    test  AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
    langs AS (SELECT lang, count(*) AS d FROM train GROUP BY 1),
    dtot  AS (SELECT sum(d) AS dn FROM langs),
    tok_train AS (
        SELECT lang, unnest(string_split(text, ' ')) AS tok FROM train
    ),
    cnt AS (SELECT lang, tok, count(*) AS c FROM tok_train GROUP BY 1, 2),
    ltot AS (SELECT lang, sum(c) AS t FROM cnt GROUP BY 1),
    vocab AS (SELECT count(DISTINCT tok) AS v FROM tok_train),
    tok_test AS (
        SELECT doc_id, lang AS true_lang,
               unnest(string_split(text, ' ')) AS tok
        FROM test
    ),
    grid AS (
        SELECT tt.doc_id, tt.true_lang, tt.tok, lg.lang AS cand,
               lg.d, lt.t
        FROM tok_test tt
        CROSS JOIN langs lg
        JOIN ltot lt ON lt.lang = lg.lang
    ),
    scored AS (
        SELECT doc_id, true_lang, cand, d, t,
               round(ln((coalesce(c.c, 0) + 1)::DOUBLE
                        / (t + (SELECT v FROM vocab))::DOUBLE), 12)
                   ::DECIMAL(38,12) AS lp
        FROM grid g
        LEFT JOIN cnt c ON c.lang = g.cand AND c.tok = g.tok
    ),
    docscore AS (
        SELECT doc_id, true_lang, cand,
               round(ln(d::DOUBLE / (SELECT dn FROM dtot)::DOUBLE), 12)
                   ::DECIMAL(38,12) + sum(lp) AS score
        FROM scored GROUP BY doc_id, true_lang, cand, d
    ),
    pred AS (
        SELECT doc_id, true_lang, cand AS pred_lang,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, cand ASC) AS rn
        FROM docscore
    )
    SELECT true_lang, pred_lang, count(*) AS n_docs
    FROM pred WHERE rn = 1
    GROUP BY 1, 2
"""


@register("nb_classifier_eval", oracle=_NB_SQL)
def nb_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive-Bayes language identification: train on the 80%
    doc_id-hash split (Laplace-smoothed unigram likelihoods + log priors),
    score the held-out 20% against every candidate language, output the
    confusion matrix. The from-counts twin of the heuristic
    ``lang_id_confusion``; McNemar/kappa-style agreement audits can run on
    top of both.

    Exactness: each token's log-likelihood is ONE deterministic double
    (log of a ratio of exact integers) rounded to 12 decimals and summed
    as DECIMAL(38,12) — per-(doc, lang) scores are independent of both
    engines' float summation order. Argmax = partitioned row_number with
    a (score DESC, lang ASC) tiebreak.

    Scale shape: token counts are one explode + groupBy (vocab-bounded
    state); scoring fans test tokens out by the LANGUAGE DIMENSION (5
    rows, broadcast) and joins token stats token-keyed; the per-doc argmax
    window partitions by doc_id. No all-pairs, no driver loop, no Python
    UDF."""
    docs = table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 5 != 0)
    test = docs.filter(F.col("doc_id") % 5 == 0)
    tok_train = train.select(
        "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    cnt = tok_train.groupBy("lang", "tok").agg(F.count("*").alias("c"))
    ltot = cnt.groupBy("lang").agg(F.sum("c").alias("t"))
    langs = train.groupBy("lang").agg(F.count("*").alias("d"))
    dtot = langs.agg(F.sum("d").alias("dn"))
    vocab = tok_train.agg(F.countDistinct("tok").alias("v"))

    tok_test = test.select(
        "doc_id",
        F.col("lang").alias("true_lang"),
        F.explode(F.split("text", " ")).alias("tok"),
    )
    lang_dim = (
        langs.join(ltot, "lang")
        .crossJoin(F.broadcast(dtot))
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col("lang").alias("cand"),
            "d",
            "t",
            "dn",
            "v",
        )
    )
    grid = tok_test.crossJoin(F.broadcast(lang_dim))
    scored = grid.join(
        cnt.select(F.col("lang").alias("cand"), "tok", "c"),
        ["cand", "tok"],
        "left",
    ).select(
        "doc_id",
        "true_lang",
        "cand",
        "d",
        "t",
        "dn",
        F.round(
            F.log(
                (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
                / (F.col("t") + F.col("v")).cast("double")
            ),
            12,
        )
        .cast("decimal(38,12)")
        .alias("lp"),
    )
    docscore = scored.groupBy("doc_id", "true_lang", "cand", "d", "dn").agg(
        F.sum("lp").alias("lsum")
    ).select(
        "doc_id",
        "true_lang",
        "cand",
        (
            F.round(
                F.log(F.col("d").cast("double") / F.col("dn").cast("double")), 12
            ).cast("decimal(38,12)")
            + F.col("lsum")
        ).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("cand").asc()
    )
    pred = docscore.select(
        "true_lang",
        F.col("cand").alias("pred_lang"),
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") == 1)
    return pred.groupBy("true_lang", "pred_lang").agg(
        F.count("*").alias("n_docs")
    )


# Bradley-Terry strengths from weekly revenue "matches" between customer
# nations: nation i beats j in a week when both sold and i's exact weekly
# revenue is higher (decimal ties excluded, standard BT). 3 unrolled MM
# iterations (Hunter 2004): p_i <- W_i / SUM_j n_ij/(p_i+p_j), normalized
# to sum 1 and rounded to 8 per iteration (the pagerank_nations float
# discipline: neighbor sums are <=24 rounded terms).
_BT_SQL = f"""
    WITH wk AS (
        SELECT c.c_nationkey AS nat, date_trunc('week', o.o_orderdate) AS w,
               sum({money_sql('o.o_totalprice')}) AS rev
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    duels AS (
        SELECT a.nat AS i, b.nat AS j,
               sum(CASE WHEN a.rev > b.rev THEN 1 ELSE 0 END) AS wins,
               sum(CASE WHEN a.rev <> b.rev THEN 1 ELSE 0 END) AS n
        FROM wk a JOIN wk b ON a.w = b.w AND a.nat <> b.nat
        GROUP BY 1, 2
    ),
    wtot AS (SELECT i, sum(wins) AS wi FROM duels GROUP BY 1),
    k AS (SELECT count(*) AS k FROM wtot),
    p0 AS (SELECT i, round(1.0 / (SELECT k FROM k), 8) AS p FROM wtot),
    r1 AS (
        SELECT d.i, w.wi / sum(d.n / (pi.p + pj.p)) AS praw
        FROM duels d
        JOIN p0 pi ON pi.i = d.i
        JOIN p0 pj ON pj.i = d.j
        JOIN wtot w ON w.i = d.i
        GROUP BY d.i, w.wi
    ),
    p1 AS (SELECT i, round(praw / sum(praw) OVER (), 8) AS p FROM r1),
    r2 AS (
        SELECT d.i, w.wi / sum(d.n / (pi.p + pj.p)) AS praw
        FROM duels d
        JOIN p1 pi ON pi.i = d.i
        JOIN p1 pj ON pj.i = d.j
        JOIN wtot w ON w.i = d.i
        GROUP BY d.i, w.wi
    ),
    p2 AS (SELECT i, round(praw / sum(praw) OVER (), 8) AS p FROM r2),
    r3 AS (
        SELECT d.i, w.wi / sum(d.n / (pi.p + pj.p)) AS praw
        FROM duels d
        JOIN p2 pi ON pi.i = d.i
        JOIN p2 pj ON pj.i = d.j
        JOIN wtot w ON w.i = d.i
        GROUP BY d.i, w.wi
    ),
    p3 AS (SELECT i, round(praw / sum(praw) OVER (), 8) AS p FROM r3)
    SELECT p3.i AS nationkey, round(p3.p, 6) AS bt_strength_r,
           w.wi::BIGINT AS n_wins
    FROM p3 JOIN wtot w ON w.i = p3.i
"""


@register("bradley_terry_strengths", oracle=_BT_SQL)
def bradley_terry_strengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry paired-comparison strengths (Bradley & Terry 1952,
    Hunter 2004 MM algorithm) over weekly revenue duels between customer
    nations — the batch preference-ranking primitive LLM evaluation
    arenas and RLHF preference datasets need (pairwise wins → latent
    quality scale).

    Scale shape: the fact collapses to the (nation, week) spine first; the
    duel table is the week-keyed self-join of a bounded dimension (25
    nations → ≤600 directed pairs REGARDLESS of data volume). Each MM
    iteration is one equi-join of the strength table onto the duel table +
    one grouped sum + one global normalize window on 25 rows — unrolled,
    no driver iteration. Wins compare EXACT decimal revenue (ties drop).
    Strengths round to 8 per iteration so ≤24-term float sums agree across
    engines."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    wk = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("nat"),
            F.date_trunc("week", "o_orderdate").alias("w"),
        )
        .agg(F.sum(money(F.col("o_totalprice"))).alias("rev"))
    )
    a, b = wk.alias("a"), wk.alias("b")
    duels = cut(  # bounded ≤600-row duel dim, reused 3×
        a.join(
            b,
            (F.col("a.w") == F.col("b.w")) & (F.col("a.nat") != F.col("b.nat")),
        )
        .groupBy(F.col("a.nat").alias("i"), F.col("b.nat").alias("j"))
        .agg(
            F.sum(
                F.when(F.col("a.rev") > F.col("b.rev"), 1).otherwise(0)
            ).alias("wins"),
            F.sum(
                F.when(F.col("a.rev") != F.col("b.rev"), 1).otherwise(0)
            ).alias("n"),
        ),
        "bradley_terry_strengths.duels",
    )
    wtot = cut(
        duels.groupBy("i").agg(F.sum("wins").alias("wi")),
        "bradley_terry_strengths.wtot",
    )
    kdf = wtot.agg(F.count("*").alias("k"))
    p = wtot.crossJoin(F.broadcast(kdf)).select(
        "i", F.round(F.lit(1.0) / F.col("k"), 8).alias("p")
    )
    for _ in range(3):
        raw = (
            duels.join(p.select(F.col("i").alias("pi_i"), F.col("p").alias("pi")),
                       F.col("i") == F.col("pi_i"))
            .join(p.select(F.col("i").alias("pj_i"), F.col("p").alias("pj")),
                  F.col("j") == F.col("pj_i"))
            .join(wtot.select(F.col("i").alias("w_i"), "wi"), F.col("i") == F.col("w_i"))
            .groupBy("i", "wi")
            .agg((F.first("wi") / F.sum(F.col("n") / (F.col("pi") + F.col("pj")))).alias("praw"))
        )
        p = raw.select(
            "i",
            F.round(
                F.col("praw") / F.sum("praw").over(Window.partitionBy()), 8
            ).alias("p"),
        )
    return p.join(wtot, "i").select(
        F.col("i").alias("nationkey"),
        F.round("p", 6).alias("bt_strength_r"),
        F.col("wi").cast("long").alias("n_wins"),
    )


# Event-study (dynamic DiD) coefficients around the did_estimator's
# 2024-01-16 boundary: per relative week r, the treated-control purchase-
# value gap net of the r = −1 baseline gap — the parallel-trends picture
# (pre-period coefficients ≈ 0) behind the single DiD number.
_EVENT_STUDY_SQL = f"""
    WITH p AS (
        SELECT (user_id % 2 = 1)::INT AS treat,
               CAST(floor(date_diff('day', DATE '2024-01-16', ts::DATE) / 7.0)
                    AS BIGINT) AS r,
               {money_sql('value')} AS v
        FROM events WHERE event_type = 'purchase'
    ),
    cell AS (
        SELECT r, treat, sum(v) AS sv, count(*) AS n
        FROM p GROUP BY 1, 2
    ),
    gap AS (
        SELECT t.r,
               t.sv::DOUBLE / t.n - c.sv::DOUBLE / c.n AS g,
               t.n AS n_treat, c.n AS n_ctrl
        FROM cell t JOIN cell c ON t.r = c.r AND t.treat = 1 AND c.treat = 0
    )
    SELECT g.r AS rel_week,
           g.n_treat::BIGINT AS n_treat,
           g.n_ctrl::BIGINT AS n_ctrl,
           round(g.g - b.g, 6) AS coef_r
    FROM gap g CROSS JOIN (SELECT g FROM gap WHERE r = -1) b
"""


@register("event_study_coefficients", oracle=_EVENT_STUDY_SQL)
def event_study_coefficients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-study coefficients (dynamic difference-in-differences,
    leads-and-lags) around ``did_estimator``'s treatment boundary: the
    per-relative-week treated−control gap net of the week −1 baseline.
    Pre-boundary coefficients near zero are the parallel-trends evidence
    the scalar DiD assumes; post-boundary ones trace the effect's shape.

    Exactness: purchase values are money sums (order-independent);
    per-cell means and the gap-of-gaps are double arithmetic on those
    exact scalars. One conditional aggregate over the fact scan + a
    treated×control self-join on the ≤6-row week spine."""
    e = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    p = e.select(
        (F.col("user_id") % 2 == 1).cast("int").alias("treat"),
        F.floor(
            F.datediff(F.col("ts").cast("date"), F.lit("2024-01-16").cast("date"))
            / 7.0
        )
        .cast("long")
        .alias("r"),
        money(F.col("value")).alias("v"),
    )
    cell = p.groupBy("r", "treat").agg(
        F.sum("v").alias("sv"), F.count("*").alias("n")
    )
    t = cell.filter(F.col("treat") == 1).alias("t")
    c = cell.filter(F.col("treat") == 0).alias("c")
    gap = t.join(c, F.col("t.r") == F.col("c.r")).select(
        F.col("t.r").alias("r"),
        (
            F.col("t.sv").cast("double") / F.col("t.n")
            - F.col("c.sv").cast("double") / F.col("c.n")
        ).alias("g"),
        F.col("t.n").alias("n_treat"),
        F.col("c.n").alias("n_ctrl"),
    )
    base = gap.filter(F.col("r") == -1).select(F.col("g").alias("gb"))
    return gap.crossJoin(F.broadcast(base)).select(
        F.col("r").alias("rel_week"),
        F.col("n_treat").cast("long").alias("n_treat"),
        F.col("n_ctrl").cast("long").alias("n_ctrl"),
        F.round(F.col("g") - F.col("gb"), 6).alias("coef_r"),
    )


# Sharp regression discontinuity, local linear, rectangular kernel:
# running variable = order quantity, cutoff 25, bandwidth 10; outcome =
# discount rate. OLS on each side in closed form from exact sums; the
# jump is the difference of the two intercepts AT the cutoff.
_RDD_SQL = """
    WITH w AS (
        SELECT (l_quantity >= 25)::INT AS side,
               CAST(l_quantity AS BIGINT) - 25 AS u,
               CAST(l_discount AS DECIMAL(8,2)) AS y
        FROM lineitem
        WHERE l_quantity >= 15 AND l_quantity < 35
    ),
    s AS (
        SELECT side, count(*) AS n,
               sum(u) AS su, sum(u * u) AS suu,
               sum(y) AS sy, sum(u * y) AS suy
        FROM w GROUP BY 1
    ),
    fit AS (
        SELECT side, n,
               (n * suy::DOUBLE - su::DOUBLE * sy::DOUBLE)
               / (n * suu::DOUBLE - su::DOUBLE * su::DOUBLE) AS b,
               sy::DOUBLE / n
               - (n * suy::DOUBLE - su::DOUBLE * sy::DOUBLE)
                 / (n * suu::DOUBLE - su::DOUBLE * su::DOUBLE)
                 * (su::DOUBLE / n) AS a
        FROM s
    )
    SELECT round(r.a - l.a, 6) AS rdd_jump_r,
           round(l.b, 6) AS slope_left_r,
           round(r.b, 6) AS slope_right_r,
           l.n::BIGINT AS n_left, r.n::BIGINT AS n_right
    FROM fit l CROSS JOIN fit r
    WHERE l.side = 0 AND r.side = 1
"""


@register("rdd_local_linear", oracle=_RDD_SQL)
def rdd_local_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharp regression-discontinuity estimate (local linear, rectangular
    kernel): discount rate as a function of order quantity around the
    25-unit cutoff, bandwidth 10 — the boundary-jump causal design
    complementing ``did_estimator`` (time boundary) and
    ``matched_att_estimate`` (covariate matching). TPC-H discounts have no
    true discontinuity, so the estimate doubles as a placebo check.

    Exactness: per-side OLS in closed form from exact integer/decimal
    sums (u integer-centered at the cutoff, y DECIMAL(8,2)); the only
    float arithmetic is the final slope/intercept algebra on those exact
    scalars — bit-identical across engines. One filtered fact aggregate,
    a 2-row fit table, one broadcast cross of the two sides."""
    li = table(spark, sf_dir, "lineitem")
    w = li.filter((F.col("l_quantity") >= 15) & (F.col("l_quantity") < 35)).select(
        (F.col("l_quantity") >= 25).cast("int").alias("side"),
        (F.col("l_quantity").cast("long") - 25).alias("u"),
        F.col("l_discount").cast("decimal(8,2)").alias("y"),
    )
    s = w.groupBy("side").agg(
        F.count("*").alias("n"),
        F.sum("u").alias("su"),
        F.sum(F.col("u") * F.col("u")).alias("suu"),
        F.sum("y").alias("sy"),
        F.sum(F.col("u") * F.col("y")).alias("suy"),
    )
    n = F.col("n")
    su, suu = F.col("su").cast("double"), F.col("suu").cast("double")
    sy, suy = F.col("sy").cast("double"), F.col("suy").cast("double")
    b = (n * suy - su * sy) / (n * suu - su * su)
    a = sy / n - b * (su / n)
    fit = s.select("side", "n", b.alias("b"), a.alias("a"))
    l = fit.filter(F.col("side") == 0).alias("l")
    r = fit.filter(F.col("side") == 1).alias("r")
    return l.crossJoin(F.broadcast(r)).select(
        F.round(F.col("r.a") - F.col("l.a"), 6).alias("rdd_jump_r"),
        F.round(F.col("l.b"), 6).alias("slope_left_r"),
        F.round(F.col("r.b"), 6).alias("slope_right_r"),
        F.col("l.n").cast("long").alias("n_left"),
        F.col("r.n").cast("long").alias("n_right"),
    )


# Propensity-stratified ATE on per-user purchase totals: strata from a
# deterministic activity covariate; within-stratum treated/control means
# from exact decimal sums. With stratum-saturated outcome/propensity
# models the AIPW (doubly-robust) estimator reduces EXACTLY to this
# stratified form — the augmentation terms vanish — so this is the
# degenerate-but-exact member of that family, next to ips_offpolicy_eval
# (the weighting half) and matched_att_estimate (the matching half).
_STRAT_ATE_SQL = f"""
    WITH u AS (
        SELECT user_id,
               (user_id % 2 = 1)::INT AS treat,
               count(*) AS n_events,
               sum(CASE WHEN event_type = 'purchase'
                        THEN {money_sql('value')}
                        ELSE {money_sql('0')} END) AS y
        FROM events GROUP BY 1
    ),
    s AS (
        SELECT least(n_events // 5, 8) AS stratum, treat, y FROM u
    ),
    cell AS (
        SELECT stratum,
               sum(treat) AS n1, sum(1 - treat) AS n0,
               sum(CASE WHEN treat = 1 THEN y ELSE {money_sql('0')} END)
                   AS s1,
               sum(CASE WHEN treat = 0 THEN y ELSE {money_sql('0')} END)
                   AS s0
        FROM s GROUP BY 1
    ),
    valid AS (SELECT * FROM cell WHERE n1 > 0 AND n0 > 0),
    agg AS (
        SELECT sum(n1 + n0) AS n_used,
               count(*) AS n_strata,
               sum((n1 + n0)
                   * (s1::DOUBLE / n1 - s0::DOUBLE / n0)) AS wsum
        FROM valid
    ),
    naive AS (
        SELECT sum(CASE WHEN treat = 1 THEN y END)::DOUBLE
                   / sum(treat)
               - sum(CASE WHEN treat = 0 THEN y END)::DOUBLE
                   / sum(1 - treat) AS d
        FROM u
    )
    SELECT a.n_used::BIGINT AS n_users_used,
           a.n_strata::BIGINT AS n_strata_used,
           round(a.wsum / a.n_used, 6) AS ate_stratified_r,
           round(n.d, 6) AS ate_naive_r
    FROM agg a CROSS JOIN naive n
"""


@register("stratified_ate", oracle=_STRAT_ATE_SQL)
def stratified_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Propensity-stratified average treatment effect on per-user purchase
    totals (treatment = the ``did_estimator`` odd-user assignment; strata
    = activity buckets of the event count). With stratum-saturated
    outcome and propensity models, the AIPW doubly-robust estimator's
    augmentation terms vanish and it equals this stratified form exactly
    — reported next to the naive difference so the covariate adjustment
    is visible. Strata missing a treatment arm drop (counted).

    Exactness: user outcomes are money sums; per-stratum means and
    the weighted combination are double arithmetic on exact scalars. One
    user-keyed aggregate, one bounded-strata aggregate, no windows."""
    e = table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                money(F.col("value")),
            ).otherwise(money(F.lit(0)))
        ).alias("y"),
    ).select(
        (F.col("user_id") % 2 == 1).cast("int").alias("treat"),
        F.least(F.expr("n_events div 5"), F.lit(8)).alias("stratum"),
        "y",
    )
    zero = money(F.lit(0))
    cell = u.groupBy("stratum").agg(
        F.sum("treat").alias("n1"),
        F.sum(1 - F.col("treat")).alias("n0"),
        F.sum(F.when(F.col("treat") == 1, F.col("y")).otherwise(zero)).alias("s1"),
        F.sum(F.when(F.col("treat") == 0, F.col("y")).otherwise(zero)).alias("s0"),
    )
    valid = cell.filter((F.col("n1") > 0) & (F.col("n0") > 0))
    agg = valid.agg(
        F.sum(F.col("n1") + F.col("n0")).alias("n_used"),
        F.count("*").alias("n_strata"),
        F.sum(
            (F.col("n1") + F.col("n0"))
            * (
                F.col("s1").cast("double") / F.col("n1")
                - F.col("s0").cast("double") / F.col("n0")
            )
        ).alias("wsum"),
    )
    naive = u.agg(
        (
            F.sum(F.when(F.col("treat") == 1, F.col("y"))).cast("double")
            / F.sum("treat")
            - F.sum(F.when(F.col("treat") == 0, F.col("y"))).cast("double")
            / F.sum(1 - F.col("treat"))
        ).alias("d")
    )
    return agg.crossJoin(F.broadcast(naive)).select(
        F.col("n_used").cast("long").alias("n_users_used"),
        F.col("n_strata").cast("long").alias("n_strata_used"),
        F.round(F.col("wsum") / F.col("n_used"), 6).alias("ate_stratified_r"),
        F.round(F.col("d"), 6).alias("ate_naive_r"),
    )


# ------------------------------------------------ A/B power / MDE (r10)

_Z975 = 1.959963984540054   # Phi^-1(0.975), two-sided alpha = 0.05
_Z80 = 0.8416212335729143   # Phi^-1(0.80), power = 0.8
_MDE_REL_TARGET = 0.01      # sizing target: 1% relative lift

_POWER_SQL = f"""
    WITH per_user AS (
        SELECT user_id % 2 AS arm,
               sum(CASE WHEN event_type = 'purchase'
                        THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                        ELSE 0 END)::BIGINT AS cents
        FROM events GROUP BY user_id
    ),
    arms AS (
        SELECT arm, count(*)::BIGINT AS n,
               sum(cents)::HUGEINT AS s1,
               sum(cents::HUGEINT * cents)::HUGEINT AS s2
        FROM per_user GROUP BY 1
    ),
    stats AS (
        SELECT max(CASE WHEN arm = 0 THEN n END) AS n_a,
               max(CASE WHEN arm = 1 THEN n END) AS n_b,
               max(CASE WHEN arm = 0 THEN s1 END)::DOUBLE / 100 AS sa,
               max(CASE WHEN arm = 1 THEN s1 END)::DOUBLE / 100 AS sb,
               max(CASE WHEN arm = 0 THEN s2 END)::DOUBLE / 10000 AS qa,
               max(CASE WHEN arm = 1 THEN s2 END)::DOUBLE / 10000 AS qb
        FROM arms
    ),
    calc AS (
        SELECT n_a, n_b,
               sa / n_a AS mean_a, sb / n_b AS mean_b,
               (sa + sb) / (n_a + n_b) AS mean_pooled,
               ((qa - sa * sa / n_a) + (qb - sb * sb / n_b))
                   / (n_a + n_b - 2) AS var_pooled
        FROM stats
    )
    SELECT n_a, n_b,
           round(mean_a, 4) AS mean_a_r,
           round(mean_b, 4) AS mean_b_r,
           round(sqrt(var_pooled), 4) AS sd_pooled_r,
           round(({_Z975} + {_Z80}) * sqrt(var_pooled)
                 * sqrt(1.0 / n_a + 1.0 / n_b), 4) AS mde_abs_r,
           round(({_Z975} + {_Z80}) * sqrt(var_pooled)
                 * sqrt(1.0 / n_a + 1.0 / n_b) / mean_pooled, 6) AS mde_rel_r,
           CAST(ceil(2 * var_pooled * ({_Z975} + {_Z80}) * ({_Z975} + {_Z80})
                     / (({_MDE_REL_TARGET} * mean_pooled)
                        * ({_MDE_REL_TARGET} * mean_pooled))) AS BIGINT)
               AS n_per_arm_1pct
    FROM calc
"""


@register("abtest_power_mde", oracle=_POWER_SQL)
def abtest_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment sizing readout: the minimum detectable effect of the
    RUNNING test and the sample size a FUTURE test needs — the two numbers
    an experimentation platform prints next to every A/B dashboard
    (complementing ``abtest_srm_check``'s validity guardrail and
    ``cuped_variance_reduction``'s sensitivity booster). Two-sample z
    formulation: MDE = (z_{0.975}+z_{0.8})·s_p·√(1/n_a+1/n_b);
    n/arm for a 1% relative lift = 2·s_p²·(z_α+z_β)²/δ².

    Exactness: per-user purchase totals are exact cents (BIGINT), arm
    moments are exact HUGEINT Σ and Σ², and every double expression after
    that is the identical formula on identical doubles in both engines
    (z constants spelled to full precision); the ceil lands on the same
    integer because its argument is the same double.

    Scale shape: one events scan → per-user keyed aggregate → 2-row arm
    moments; all sizing arithmetic runs on the 1-row stats. Nothing
    downstream of the user aggregate scales with fact rows."""
    ev = table(spark, sf_dir, "events")
    per_user = ev.groupBy((F.col("user_id") % 2).alias("arm"), "user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                (F.col("value").cast("decimal(18,2)") * 100).cast("long"),
            ).otherwise(0)
        ).alias("cents")
    )
    arms = per_user.groupBy("arm").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("s1"),
        F.sum(
            F.col("cents").cast("decimal(38,0)") * F.col("cents")
        ).alias("s2"),
    )
    stats = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n_b"),
        (F.max(F.when(F.col("arm") == 0, F.col("s1"))).cast("double") / 100).alias("sa"),
        (F.max(F.when(F.col("arm") == 1, F.col("s1"))).cast("double") / 100).alias("sb"),
        (F.max(F.when(F.col("arm") == 0, F.col("s2"))).cast("double") / 10000).alias("qa"),
        (F.max(F.when(F.col("arm") == 1, F.col("s2"))).cast("double") / 10000).alias("qb"),
    )
    mean_a = F.col("sa") / F.col("n_a")
    mean_b = F.col("sb") / F.col("n_b")
    mean_pooled = (F.col("sa") + F.col("sb")) / (F.col("n_a") + F.col("n_b"))
    var_pooled = (
        (F.col("qa") - F.col("sa") * F.col("sa") / F.col("n_a"))
        + (F.col("qb") - F.col("sb") * F.col("sb") / F.col("n_b"))
    ) / (F.col("n_a") + F.col("n_b") - 2)
    zsum = F.lit(_Z975 + _Z80)
    mde = zsum * F.sqrt(var_pooled) * F.sqrt(
        1.0 / F.col("n_a") + 1.0 / F.col("n_b")
    )
    delta = F.lit(_MDE_REL_TARGET) * mean_pooled
    return stats.select(
        "n_a",
        "n_b",
        F.round(mean_a, 4).alias("mean_a_r"),
        F.round(mean_b, 4).alias("mean_b_r"),
        F.round(F.sqrt(var_pooled), 4).alias("sd_pooled_r"),
        F.round(mde, 4).alias("mde_abs_r"),
        F.round(mde / mean_pooled, 6).alias("mde_rel_r"),
        F.ceil(2 * var_pooled * zsum * zsum / (delta * delta))
        .cast("long")
        .alias("n_per_arm_1pct"),
    )


# ------------------------------------- regression influence / Cook's D (r11)

_COOKSD_SQL = f"""
    WITH d AS (
        SELECT date_trunc('day', o_orderdate)::TIMESTAMP AS day,
               CAST({money_sum_sql('o_totalprice')} * 100
                    AS HUGEINT) AS y
        FROM orders GROUP BY 1
    ),
    pts AS (
        SELECT day, datediff('day', DATE '1970-01-01', day::DATE)::HUGEINT
                   AS x, y
        FROM d
    ),
    m AS (
        SELECT count(*)::HUGEINT AS n,
               sum(x) AS sx, sum(y) AS sy,
               sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
        FROM pts
    ),
    c AS (
        SELECT n::DOUBLE AS nd,
               sx::DOUBLE / n AS xbar,
               (n * sxy - sx * sy)::DOUBLE AS nsxy,
               (n * sxx - sx * sx)::DOUBLE AS nsxx,
               (n * syy - sy * sy)::DOUBLE AS nsyy,
               sx::DOUBLE AS sxd, sy::DOUBLE AS syd
        FROM m
    ),
    fit AS (
        SELECT nd, xbar, nsxx,
               nsxy / nsxx AS b,
               (syd - (nsxy / nsxx) * sxd) / nd AS a,
               (nsyy - nsxy * nsxy / nsxx) / nd / (nd - 2) AS s2
        FROM c
    ),
    infl AS (
        SELECT p.day,
               p.y::DOUBLE / 100 AS rev,
               p.y::DOUBLE - (f.a + f.b * p.x::DOUBLE) AS e,
               1.0 / f.nd
                   + (p.x::DOUBLE - f.xbar) * (p.x::DOUBLE - f.xbar)
                     / (f.nsxx / f.nd) AS h,
               f.s2
        FROM pts p CROSS JOIN fit f
    )
    SELECT day, round(rev, 2) AS rev_r,
           round(e / 100, 4) AS residual_r,
           round(h, 6) AS leverage_r,
           round(e * e * h / (2 * s2 * (1 - h) * (1 - h)), 6) AS cooks_d_r
    FROM infl
    ORDER BY round(e * e * h / (2 * s2 * (1 - h) * (1 - h)), 6) DESC, day
    LIMIT 10
"""


@register("ols_influence_cooks_distance", oracle=_COOKSD_SQL)
def ols_influence_cooks_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cook's distance (Cook 1977) for the daily-revenue-on-time OLS trend:
    the top-10 most INFLUENTIAL days — the leave-one-out regression
    diagnostic (how much the fitted trend would move if this day were
    dropped), completing the regression panel (``ols_regression`` fits,
    ``newey_west_variance`` corrects the variance, this locates the points
    that distort the fit; the data-influence mirror of
    ``loo_source_influence``). D_i = e_i²·h_i / (p·s²·(1−h_i)²) with p=2,
    leverage h_i = 1/n + (x_i−x̄)²/Sxx.

    Exactness: all five moments (Σx, Σy, Σxy, Σx², Σy²) accumulate as
    exact 128-bit/decimal integers on integer day-index × integer cents —
    add-order-free — and every double after that (slope, intercept, s²
    via SSE = (nΣy²−(Σy)² − (nΣxy−ΣxΣy)²/(nΣxx−(Σx)²))/n, residual,
    leverage, D) is the identical expression over those identical
    integers; the top-10 ranks the ROUNDED statistic with day tiebreak.
    No per-row double accumulates anywhere (SSE comes from the moments,
    never from summing residuals²).

    Scale shape: one fact→day aggregate, one 1-row moment aggregate
    broadcast back, per-row scalar math, TakeOrderedAndProject."""
    o = table(spark, sf_dir, "orders")
    d = o.groupBy(F.date_trunc("day", F.col("o_orderdate")).alias("day")).agg(
        (money_sum(F.col("o_totalprice")) * 100)
        .cast("decimal(38,0)")
        .alias("y")
    )
    pts = d.select(
        "day",
        F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
        .cast("decimal(38,0)")
        .alias("x"),
        "y",
    )
    m = pts.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("decimal(38,0)").alias("syy"),
    )
    c = m.select(
        F.col("n").cast("double").alias("nd"),
        (F.col("sx").cast("double") / F.col("n")).alias("xbar"),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("double")
        .alias("nsxy"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("double")
        .alias("nsxx"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        .cast("double")
        .alias("nsyy"),
        F.col("sx").cast("double").alias("sxd"),
        F.col("sy").cast("double").alias("syd"),
    )
    b = F.col("nsxy") / F.col("nsxx")
    fit = c.select(
        "nd",
        "xbar",
        "nsxx",
        b.alias("b"),
        ((F.col("syd") - b * F.col("sxd")) / F.col("nd")).alias("a"),
        (
            (F.col("nsyy") - F.col("nsxy") * F.col("nsxy") / F.col("nsxx"))
            / F.col("nd")
            / (F.col("nd") - 2)
        ).alias("s2"),
    )
    e = F.col("y").cast("double") - (
        F.col("a") + F.col("b") * F.col("x").cast("double")
    )
    h = (
        F.lit(1.0) / F.col("nd")
        + (F.col("x").cast("double") - F.col("xbar"))
        * (F.col("x").cast("double") - F.col("xbar"))
        / (F.col("nsxx") / F.col("nd"))
    )
    infl = pts.crossJoin(F.broadcast(fit)).select(
        "day",
        (F.col("y").cast("double") / 100).alias("rev"),
        e.alias("e"),
        h.alias("h"),
        "s2",
    )
    cooksd = (
        F.col("e")
        * F.col("e")
        * F.col("h")
        / (2 * F.col("s2") * (1 - F.col("h")) * (1 - F.col("h")))
    )
    return (
        infl.select(
            "day",
            F.round("rev", 2).alias("rev_r"),
            F.round(F.col("e") / 100, 4).alias("residual_r"),
            F.round("h", 6).alias("leverage_r"),
            F.round(cooksd, 6).alias("cooks_d_r"),
        )
        .orderBy(F.col("cooks_d_r").desc(), "day")
        .limit(10)
    )


# ------------------------------------------------- RANSAC robust line fit

# Deterministic RANSAC (Fischler & Bolles 1981) over the daily
# revenue-vs-order-count spine. Classic RANSAC samples point pairs with an
# RNG; an engine-portable variant ranks points by a salted content hash
# (the deterministic_sample discipline) so BOTH engines draw the SAME 16
# seed points, pair them into 8 candidate lines, and vote with the same
# inlier margin. All votes for all candidates come out of ONE pass over the
# spine against a broadcast 8-row model table.
_RANSAC_SQL = f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               count(*)::BIGINT AS x,
               sum({cents_sql('o_totalprice')})::BIGINT AS y_c
        FROM orders GROUP BY 1
    ),
    tot AS (
        SELECT count(*)::BIGINT AS n_days, sum(y_c)::BIGINT AS s_y FROM daily
    ),
    seeds AS (
        SELECT x, y_c,
               row_number() OVER (
                   ORDER BY {token_hash64_sql("'ransac-' || d::VARCHAR")}, d
               ) AS rn
        FROM daily
        QUALIFY rn <= 16
    ),
    models AS (
        SELECT CAST(floor((rn - 1) / 2.0) AS BIGINT) AS model_id,
               max(CASE WHEN rn % 2 = 1 THEN x END) AS x1,
               max(CASE WHEN rn % 2 = 1 THEN y_c END) AS y1,
               max(CASE WHEN rn % 2 = 0 THEN x END) AS x2,
               max(CASE WHEN rn % 2 = 0 THEN y_c END) AS y2
        FROM seeds GROUP BY 1
    ),
    lines AS (
        SELECT model_id,
               (y2 - y1)::DOUBLE / (x2 - x1)::DOUBLE AS a,
               y1::DOUBLE - (y2 - y1)::DOUBLE / (x2 - x1)::DOUBLE
                   * x1::DOUBLE AS b
        FROM models WHERE x1 <> x2
    ),
    marked AS (
        SELECT dy.x, dy.y_c,
               0.20 * (t.s_y::DOUBLE / t.n_days::DOUBLE) AS marg
        FROM daily dy CROSS JOIN tot t
    ),
    votes AS (
        SELECT l.model_id, l.a, l.b,
               count(*) FILTER (
                   WHERE abs(dy.y_c::DOUBLE - (l.a * dy.x::DOUBLE + l.b))
                         <= dy.marg
               )::BIGINT AS n_inliers
        FROM lines l CROSS JOIN marked dy
        GROUP BY 1, 2, 3
    ),
    best AS (
        SELECT model_id, a, b, n_inliers
        FROM votes ORDER BY n_inliers DESC, model_id LIMIT 1
    ),
    refit AS (
        SELECT best.model_id, best.n_inliers,
               best.a AS cand_a, best.b AS cand_b,
               count(*)::HUGEINT AS m,
               sum(dy.x)::HUGEINT AS sx, sum(dy.y_c)::HUGEINT AS sy,
               sum(dy.x::HUGEINT * dy.x) AS sxx,
               sum(dy.x::HUGEINT * dy.y_c) AS sxy
        FROM best CROSS JOIN marked dy
        WHERE abs(dy.y_c::DOUBLE - (best.a * dy.x::DOUBLE + best.b))
              <= dy.marg
        GROUP BY 1, 2, 3, 4
    )
    SELECT r.model_id AS best_model,
           r.n_inliers,
           round(r.n_inliers::DOUBLE / t.n_days, 6) AS inlier_frac_r,
           round(r.cand_a / 100, 4) AS cand_slope_r,
           round(r.cand_b / 100, 2) AS cand_intercept_r,
           round((r.m * r.sxy - r.sx * r.sy)::DOUBLE
                 / (r.m * r.sxx - r.sx * r.sx)::DOUBLE / 100, 4)
               AS refit_slope_r,
           round((r.sy::DOUBLE - (r.m * r.sxy - r.sx * r.sy)::DOUBLE
                  / (r.m * r.sxx - r.sx * r.sx)::DOUBLE * r.sx::DOUBLE)
                 / r.m::DOUBLE / 100, 2) AS refit_intercept_r
    FROM refit r CROSS JOIN tot t
"""


@register("ransac_line_fit", oracle=_RANSAC_SQL)
def ransac_line_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic RANSAC (Fischler & Bolles 1981): robust slope of daily
    revenue on daily order count, immune to the outlier days OLS tilts
    toward (``ols_influence_cooks_distance`` DIAGNOSES those days; RANSAC
    simply outvotes them). RNG sampling is replaced by a salted-hash rank
    (the ``deterministic_sample`` discipline) so the 16 seed points — hence
    the 8 candidate lines and the final fit — are identical on any engine,
    any cluster, any partition layout. Degenerate candidates (equal x)
    are dropped; the margin is relative (20% of mean daily revenue) so the
    same query is meaningful at every SF.

    Exactness: revenue is quantized to integer cents BEFORE any sum (the
    granger/chow moment discipline) so seed coordinates, candidate
    parameters, inlier predicates, and the inlier-refit normal equations
    are all derived from exact integers through identical IEEE trees; the
    refit moments accumulate in DECIMAL(38,0)/HUGEINT.

    Scale shape: one fact pass to the calendar-bounded daily spine; seed
    selection is a global top-16 (tiny ordered limit); the 8-row model
    table broadcasts against the spine so ALL candidates are scored in one
    map-side pass (8·N predicate evaluations, one 8-key combinable agg);
    the winner's refit is one more moment aggregate. Nothing scales worse
    than the spine itself."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.count("*").alias("x"),
        F.sum(
            cents(F.col("o_totalprice"))
        ).alias("y_c"),
    )
    tot = daily.agg(
        F.count("*").alias("n_days"), F.sum("y_c").alias("s_y")
    )
    w = Window.orderBy(
        token_hash64(F.concat(F.lit("ransac-"), F.col("d").cast("string"))),
        "d",
    )
    seeds = (
        daily.select("d", "x", "y_c", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 16)
    )
    models = seeds.groupBy(
        # floor, not bare cast: Spark's double->long cast truncates while
        # DuckDB's rounds (the conf_u quantizer lesson) -- an explicit
        # floor() is the only pairing both engines agree on.
        F.floor((F.col("rn") - 1) / 2.0).cast("long").alias("model_id")
    ).agg(
        F.max(F.when(F.col("rn") % 2 == 1, F.col("x"))).alias("x1"),
        F.max(F.when(F.col("rn") % 2 == 1, F.col("y_c"))).alias("y1"),
        F.max(F.when(F.col("rn") % 2 == 0, F.col("x"))).alias("x2"),
        F.max(F.when(F.col("rn") % 2 == 0, F.col("y_c"))).alias("y2"),
    )
    slope = (F.col("y2") - F.col("y1")).cast("double") / (
        F.col("x2") - F.col("x1")
    ).cast("double")
    lines = models.filter(F.col("x1") != F.col("x2")).select(
        "model_id",
        slope.alias("a"),
        (
            F.col("y1").cast("double")
            - slope * F.col("x1").cast("double")
        ).alias("b"),
    )
    margin = 0.20 * (
        F.col("s_y").cast("double") / F.col("n_days").cast("double")
    )
    scored = (
        F.broadcast(lines)
        .crossJoin(daily.select("x", "y_c"))
        .crossJoin(F.broadcast(tot))
    )
    inlier = (
        F.abs(
            F.col("y_c").cast("double")
            - (F.col("a") * F.col("x").cast("double") + F.col("b"))
        )
        <= margin
    )
    votes = scored.groupBy("model_id", "a", "b").agg(
        F.sum(inlier.cast("long")).alias("n_inliers")
    )
    best = votes.orderBy(F.col("n_inliers").desc(), "model_id").limit(1)
    d38 = "decimal(38,0)"
    refit = (
        F.broadcast(best)
        .crossJoin(daily.select("x", "y_c"))
        .crossJoin(F.broadcast(tot))
        .filter(inlier)
        .groupBy(
            F.col("model_id"),
            F.col("n_inliers"),
            F.col("a").alias("cand_a"),
            F.col("b").alias("cand_b"),
        )
        .agg(
            F.count("*").cast(d38).alias("m"),
            F.sum(F.col("x").cast(d38)).alias("sx"),
            F.sum(F.col("y_c").cast(d38)).alias("sy"),
            F.sum(F.col("x").cast(d38) * F.col("x")).alias("sxx"),
            F.sum(F.col("x").cast(d38) * F.col("y_c")).alias("sxy"),
        )
    )
    rslope = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    ) / (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return refit.crossJoin(F.broadcast(tot)).select(
        F.col("model_id").alias("best_model"),
        F.col("n_inliers").cast("long").alias("n_inliers"),
        F.round(
            F.col("n_inliers").cast("double") / F.col("n_days"), 6
        ).alias("inlier_frac_r"),
        F.round(F.col("cand_a") / 100, 4).alias("cand_slope_r"),
        F.round(F.col("cand_b") / 100, 2).alias("cand_intercept_r"),
        F.round(rslope / 100, 4).alias("refit_slope_r"),
        F.round(
            (
                F.col("sy").cast("double")
                - rslope * F.col("sx").cast("double")
            )
            / F.col("m").cast("double")
            / 100,
            2,
        ).alias("refit_intercept_r"),
    )


# ---------------------------------------------- Fleiss' kappa (m raters)

# Inter-rater agreement for the 4-rater curation ensemble: each document is
# "rated" keep/drop by 4 independent rule filters (the same gates
# curation_ensemble_votes tallies), and Fleiss' kappa (1971) asks how much
# the raters agree BEYOND the agreement their marginal keep-rates already
# guarantee by chance. kappa ~ 0 means the filters are redundant coin
# flips around their base rates; kappa -> 1 means they genuinely co-decide,
# i.e. majority voting adds little over any single gate.
_FLEISS_SQL = """
    WITH votes AS (
        SELECT (lang IN ('en', 'es'))::BIGINT
               + (len(string_split(text, ' ')) >= 20)::BIGINT
               + (len(list_distinct(string_split(text, ' '))) * 10
                      >= len(string_split(text, ' ')) * 3)::BIGINT
               + (NOT list_contains(string_split(text, ' '), 'dup'))::BIGINT
                   AS k
        FROM documents
    ),
    s AS (
        SELECT count(*)::BIGINT AS n_docs,
               sum(k)::BIGINT AS s1,
               sum(k * k + (4 - k) * (4 - k) - 4)::BIGINT AS s2
        FROM votes
    ),
    p AS (
        SELECT n_docs, s1, s2,
               s2::DOUBLE / (12.0 * n_docs) AS p_bar,
               s1::DOUBLE / (4.0 * n_docs) AS p1
        FROM s
    )
    SELECT n_docs,
           4::BIGINT AS n_raters,
           round(p1, 6) AS p_pass_r,
           round(p_bar, 6) AS p_bar_r,
           round(p1 * p1 + (1 - p1) * (1 - p1), 6) AS p_e_r,
           round((p_bar - (p1 * p1 + (1 - p1) * (1 - p1)))
                 / (1 - (p1 * p1 + (1 - p1) * (1 - p1))), 6)
               AS fleiss_kappa_r
    FROM p
"""


@register("fleiss_kappa_raters", oracle=_FLEISS_SQL)
def fleiss_kappa_raters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa (1971) over the 4-filter curation ensemble read as 4
    binary raters per document — the multi-rater generalization of
    ``lang_id_kappa``'s two-rater Cohen kappa, and the agreement audit
    behind ``curation_ensemble_votes``: a near-zero kappa says the gates
    disagree like independent coins (majority voting genuinely arbitrates);
    a high kappa says they co-decide (the ensemble is redundant).

    Exactness: with m=4 raters and 2 categories, per-item agreement
    P_i = (k_i^2 + (4-k_i)^2 - 4) / 12 — every numerator is a small
    integer, so BOTH sums (s1 = Sum k_i, s2 = Sum numerators) are exact
    int64; kappa is scalar double arithmetic on the one-row panel through
    an identical IEEE tree in both engines.

    Scale shape: one pushed-down documents scan, per-row integer
    predicates, ONE combinable global aggregate — no joins, no windows;
    the same shape at 500 docs and 10^11 docs."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    k = (
        F.col("lang").isin("en", "es").cast("long")
        + (F.size(toks) >= 20).cast("long")
        + (F.size(F.array_distinct(toks)) * 10 >= F.size(toks) * 3).cast("long")
        + (~F.array_contains(toks, "dup")).cast("long")
    )
    s = d.select(k.alias("k")).agg(
        F.count("*").alias("n_docs"),
        F.sum("k").alias("s1"),
        F.sum(
            F.col("k") * F.col("k")
            + (4 - F.col("k")) * (4 - F.col("k"))
            - 4
        ).alias("s2"),
    )
    p_bar = F.col("s2").cast("double") / (12.0 * F.col("n_docs"))
    p1 = F.col("s1").cast("double") / (4.0 * F.col("n_docs"))
    p_e = p1 * p1 + (1 - p1) * (1 - p1)
    return s.select(
        F.col("n_docs").cast("long").alias("n_docs"),
        F.lit(4).cast("long").alias("n_raters"),
        F.round(p1, 6).alias("p_pass_r"),
        F.round(p_bar, 6).alias("p_bar_r"),
        F.round(p_e, 6).alias("p_e_r"),
        F.round((p_bar - p_e) / (1 - p_e), 6).alias("fleiss_kappa_r"),
    )
