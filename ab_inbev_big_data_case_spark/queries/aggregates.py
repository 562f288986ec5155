"""Aggregation operators (SURVEY.md §2.2 "Aggregation").

Generalizes reference R7 (group-by count, glue/etl_api.py:42-45) and R5
(dedup) to the full agg surface: multi-agg groupBy, distinct/approx-distinct,
rollup/cube/grouping-sets, filtered aggs, collect_set, percentiles/stats,
pivot, top-k, histogram.

Scale notes: every groupBy here plans partial (map-side) + final hash
aggregation around one shuffle keyed on the group columns — shuffle volume is
#groups, not #rows. ``approx_count_distinct`` (HLL) exists precisely for the
100 TB case where exact distinct would shuffle every key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ab_inbev_big_data_case_spark.functions.money import money, money_sum, money_sum_sql
from ab_inbev_big_data_case_spark.operators.relational import dedup_deterministic
from ab_inbev_big_data_case_spark.registry import register
from ab_inbev_big_data_case_spark.sources.readers import table


@register(
    "groupby_agg",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {money_sum_sql('l_quantity')}::DOUBLE AS sum_qty,
           {money_sum_sql('l_extendedprice')}::DOUBLE AS sum_base_price,
           {money_sum_sql('l_extendedprice * (1 - l_discount)')}::DOUBLE
               AS sum_disc_price,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           min(l_quantity) AS min_qty,
           max(l_quantity) AS max_qty,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def groupby_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: the headline multi-agg groupBy."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # money sums (functions/money.py): a double sum differs across
            # engines in the last ulp at 100k+ rows and round(x,2) flips cents
            money_sum(F.col("l_quantity"))
            .cast("double").alias("sum_qty"),
            money_sum(F.col("l_extendedprice"))
            .cast("double").alias("sum_base_price"),
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .cast("double").alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "count_distinct",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_rows"),
    )


@register(
    "approx_count_distinct",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS exact_parts,
           count(*) AS n_rows,
           true AS within_tol
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct — the 100 TB path where exact distinct is too
    expensive. The raw HLL estimate differs from DuckDB's estimator, so the
    checkable projection is (exact, within_tol): within_tol is true when
    |approx − exact| / exact ≤ 5% (5× the rsd=0.01 the sketch is configured
    for — deterministic, since the sketch itself is deterministic for a
    fixed input). The oracle computes the exact side and literal true, so a
    drifting estimator FAILS the hash instead of hiding behind rows-only."""
    li = table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.01).alias("__approx"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.count("*").alias("n_rows"),
    )
    return agg.select(
        "l_returnflag",
        "exact_parts",
        "n_rows",
        (
            F.abs(F.col("__approx") - F.col("exact_parts"))
            / F.col("exact_parts")
            <= 0.05
        ).alias("within_tol"),
    )


@register(
    "rollup_agg",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count("*").alias("n_rows"),
    )


@register(
    "cube_agg",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           {money_sum_sql('o_totalprice')}::DOUBLE AS sum_price,
           count(*) AS n_orders
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        money_sum(F.col("o_totalprice"))
        .cast("double").alias("sum_price"),
        F.count("*").alias("n_orders"),
    )


@register(
    "grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n_rows
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via the SQL API (same Catalyst plan as rollup/cube)."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, count(*) AS n_rows
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


@register(
    "filtered_agg",
    oracle=f"""
    SELECT l_returnflag,
           {money_sum_sql('CASE WHEN l_discount > 0.05 THEN l_extendedprice END')}::DOUBLE
               AS hi_disc_rev,
           count(*) FILTER (WHERE l_quantity > 25) AS n_bulk,
           round(avg(CASE WHEN l_tax > 0.04 THEN l_extendedprice END), 4) AS hi_tax_avg
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def filtered_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (reference R6+R7 composition)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        money_sum(F.when(F.col("l_discount") > 0.05, F.col("l_extendedprice")))
        .cast("double").alias("hi_disc_rev"),
        F.count(F.when(F.col("l_quantity") > 25, F.lit(1))).alias("n_bulk"),
        F.round(F.avg(F.when(F.col("l_tax") > 0.04, F.col("l_extendedprice"))), 4).alias(
            "hi_tax_avg"
        ),
    )


@register(
    "collect_set_agg",
    oracle="""
    SELECT o_orderpriority,
           string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
           count(DISTINCT o_orderstatus) AS n_statuses
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def collect_set_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set surface, projected to a sorted joined string so the
    result is order-insensitive for the oracle hash."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.array_join(F.sort_array(F.collect_set("o_orderstatus")), ",").alias("statuses"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
    )


@register(
    "percentiles_stats",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
           round(stddev_samp(l_quantity), 4) AS std_qty,
           round(var_samp(l_quantity), 4) AS var_qty,
           round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def percentiles_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles + dispersion stats (both engines interpolate
    linearly, so exact percentile is oracle-able; approx_percentile is not)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", 0.5), 4).alias("median_qty"),
        F.round(F.percentile("l_extendedprice", 0.9), 4).alias("p90_price"),
        F.round(F.stddev_samp("l_quantity"), 4).alias("std_qty"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
    )


_MAD_SQL = """
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY event_type
    ),
    dev AS (
        SELECT e.event_type, m.med, abs(e.value - m.med) AS ad
        FROM events e JOIN med m ON e.event_type = m.event_type
    ),
    mad AS (
        SELECT event_type, quantile_cont(ad, 0.5) AS mad
        FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           count(*) AS n,
           round(min(d.med), 4) AS median_value,
           round(min(m.mad), 4) AS mad_value,
           sum(CASE WHEN d.ad > 3.5 / 0.6745 * m.mad THEN 1 ELSE 0 END)::BIGINT
               AS n_outliers
    FROM dev d JOIN mad m ON d.event_type = m.event_type
    GROUP BY d.event_type
"""


@register("mad_outliers", oracle=_MAD_SQL)
def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median absolute deviation: per event
    type, flag values whose modified z-score (0.6745·|x−med|/MAD) exceeds
    3.5 — the dispersion-robust alternative to mean±kσ.

    Two grouped exact-percentile passes over the fact with a broadcast
    join-back between them (the per-group medians/MADs are a #event_types-
    row table, so both joins broadcast). At 100 TB, swap the exact
    percentiles for ``approx_percentile`` — the plan shape is unchanged;
    exact is kept here for oracle comparability (both engines interpolate
    quantile_cont identically — driver-verified on ``percentiles_stats``).
    """
    e = table(spark, sf_dir, "events").select("event_type", "value")
    med = e.groupBy("event_type").agg(F.percentile("value", 0.5).alias("med"))
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("ad")
    )
    mad = dev.groupBy("event_type").agg(F.percentile("ad", 0.5).alias("mad"))
    d = dev.join(F.broadcast(mad), "event_type")
    return d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("med"), 4).alias("median_value"),
        F.round(F.min("mad"), 4).alias("mad_value"),
        F.sum(
            F.when(F.col("ad") > F.lit(3.5) / F.lit(0.6745) * F.col("mad"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_outliers"),
    )


@register(
    "approx_percentile",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS exact_median_price,
           count(*) AS n_rows,
           true AS within_tol
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles — the scale path for percentile at 100 TB.

    The sketch value itself (GK/KLL) differs from DuckDB's quantile, so the
    checkable projection is (exact, within_tol): within_tol is true when
    the approx median lands inside the exact p45–p55 band — a ±5% RANK
    tolerance, 50× the 1/1000-accuracy rank error the sketch guarantees.
    Deterministic on both sides; oracle emits the exact median and true."""
    li = table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, 1000).alias("__approx"),
        F.percentile("l_extendedprice", 0.45).alias("__lo"),
        F.percentile("l_extendedprice", 0.55).alias("__hi"),
        F.round(F.percentile("l_extendedprice", 0.5), 4).alias(
            "exact_median_price"
        ),
        F.count("*").alias("n_rows"),
    )
    return agg.select(
        "l_returnflag",
        "exact_median_price",
        "n_rows",
        (
            (F.col("__approx") >= F.col("__lo"))
            & (F.col("__approx") <= F.col("__hi"))
        ).alias("within_tol"),
    )


@register(
    "pivot_agg",
    oracle="""
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS "O",
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS "F"
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def pivot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with explicit value list (explicit list avoids the extra
    distinct-values job at scale)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )


@register(
    "topk_global",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total_r
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Catalyst plans TakeOrderedAndProject — per-partition
    heap + single-driver merge of k rows, no global sort even at 100 TB."""
    o = table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("total_r"))
    )


@register(
    "histogram_bucket",
    oracle="""
    SELECT (floor(value / 50) * 50)::BIGINT AS bucket_lo,
           count(*) AS n,
           round(avg(value), 4) AS avg_value
    FROM events
    WHERE value IS NOT NULL
    GROUP BY 1
    """,
)
def histogram_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram via bucketed groupBy (scales as a plain agg)."""
    e = table(spark, sf_dir, "events")
    return (
        e.filter(F.col("value").isNotNull())
        .groupBy(
            (F.floor(F.col("value") / 50) * 50).cast("long").alias("bucket_lo")
        )
        .agg(F.count("*").alias("n"), F.round(F.avg("value"), 4).alias("avg_value"))
    )


@register(
    "dedup_latest",
    oracle="""
    SELECT user_id, event_type, ts AS last_ts, round(value, 2) AS value_r
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id, event_type
            ORDER BY ts DESC NULLS LAST, event_id DESC NULLS LAST
        ) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest dedup per key — the deterministic R5 variant that CDC /
    upsert compaction needs (row_number over desc ts; one shuffle)."""
    e = table(spark, sf_dir, "events")
    deduped = dedup_deterministic(
        e,
        ["user_id", "event_type"],
        [F.col("ts").desc(), F.col("event_id").desc()],
    )
    return deduped.select(
        "user_id",
        "event_type",
        F.col("ts").alias("last_ts"),
        F.round("value", 2).alias("value_r"),
    )


@register(
    "salted_agg",
    oracle=f"""
    SELECT l_returnflag,
           {money_sum_sql('l_extendedprice')}::DOUBLE AS sum_price_r,
           count(*) AS count_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase (salted) aggregation — semantics-identical to the
    plain groupBy (the oracle IS the plain groupBy); the salt only changes
    the physical distribution. AQE skew-join handling does not cover
    aggregation skew, so a hot group key needs this at 100 TB."""
    from ab_inbev_big_data_case_spark.operators.partitioning import salted_sum_count

    li = table(spark, sf_dir, "lineitem").withColumn(
        "l_extendedprice", money(F.col("l_extendedprice"))
    )  # decimal: partial sums must merge order-independently
    out = salted_sum_count(li, ["l_returnflag"], "l_extendedprice", salt_buckets=16)
    return out.select(
        "l_returnflag",
        F.round("sum_l_extendedprice", 2).cast("double").alias("sum_price_r"),
        "count_rows",
    )


@register(
    "argmax_agg",
    oracle="""
    SELECT l_returnflag,
           arg_max(l_orderkey, round(l_extendedprice * 100)::BIGINT * 10000000 + l_orderkey)
               AS top_orderkey,
           round(max(l_extendedprice), 2) AS top_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def argmax_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmax (max_by) aggregation — 'which row attains the max' without a
    window or self-join. The ordering value packs (price, orderkey) into one
    int64 so ties are broken deterministically and identically everywhere."""
    li = table(spark, sf_dir, "lineitem")
    ordval = (
        F.round(F.col("l_extendedprice") * 100).cast("long") * 10000000
        + F.col("l_orderkey")
    )
    return li.groupBy("l_returnflag").agg(
        F.max_by("l_orderkey", ordval).alias("top_orderkey"),
        F.round(F.max("l_extendedprice"), 2).alias("top_price"),
    )


@register(
    "incremental_agg_merge",
    oracle="""
    SELECT event_type,
           count(*)::BIGINT AS n_events,
           count(DISTINCT ts::DATE)::BIGINT AS n_days,
           sum(floor(value * 100.0 + 0.5)::BIGINT)::BIGINT AS sum_cents,
           round(sum(floor(value * 100.0 + 0.5)::BIGINT) / 100.0
                 / count(*), 4) AS avg_value,
           min(value) AS min_value,
           max(value) AS max_value
    FROM events
    GROUP BY event_type
    """,
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregation via PARTIAL-STATE MERGE: per-day partials
    (the state an incremental daily ETL persists — reference R8's
    one-day-window intent taken to its conclusion) re-aggregated into the
    all-time answer with count→sum, sum→sum, min→min, max→max. The oracle
    computes the same result DIRECTLY over all events, so a value match
    proves merge(partials) == full recompute — the invariant that lets a
    100 TB pipeline maintain rollups by touching only the new day's data.
    Sums use integer cents (floor-tie quantization) so the partial/direct
    summation orders can't diverge in the last double bit."""
    e = table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100.0 + 0.5).cast("long")
    daily = (
        e.select(
            "event_type",
            F.to_date("ts").alias("day"),
            cents.alias("v_cents"),
            F.col("value"),
        )
        .groupBy("event_type", "day")
        .agg(
            F.count("*").alias("p_n"),
            F.sum("v_cents").alias("p_sum"),
            F.min("value").alias("p_min"),
            F.max("value").alias("p_max"),
        )
    )
    return daily.groupBy("event_type").agg(
        F.sum("p_n").alias("n_events"),
        F.count("*").alias("n_days"),
        F.sum("p_sum").alias("sum_cents"),
        F.round(F.sum("p_sum") / 100.0 / F.sum("p_n"), 4).alias("avg_value"),
        F.min("p_min").alias("min_value"),
        F.max("p_max").alias("max_value"),
    ).select(
        "event_type", "n_events", "n_days", "sum_cents", "avg_value",
        "min_value", "max_value",
    )


@register(
    "histogram_quantile_sketch",
    oracle="""
    WITH v AS (SELECT value FROM events WHERE value IS NOT NULL),
    bins AS (SELECT floor(value / 5)::BIGINT AS b, count(*) AS n
             FROM v GROUP BY 1),
    c AS (SELECT b, n,
                 sum(n) OVER (ORDER BY b) AS cum,
                 sum(n) OVER (ORDER BY b) - n AS cum_prev,
                 (SELECT count(*) FROM v) AS nt
          FROM bins),
    qs AS (
        SELECT 0.25::DOUBLE AS q UNION ALL SELECT 0.5::DOUBLE
        UNION ALL SELECT 0.9::DOUBLE UNION ALL SELECT 0.99::DOUBLE
    ),
    est AS (
        SELECT q,
               round(b * 5 + 5.0 * (q * nt - cum_prev) / n, 4) AS est_value
        FROM qs JOIN c ON c.cum_prev < q * c.nt AND c.cum >= q * c.nt
    ),
    ex AS (
        SELECT 0.25::DOUBLE AS q, quantile_cont(value, 0.25) AS exact_value
        FROM v
        UNION ALL SELECT 0.5::DOUBLE, quantile_cont(value, 0.5) FROM v
        UNION ALL SELECT 0.9::DOUBLE, quantile_cont(value, 0.9) FROM v
        UNION ALL SELECT 0.99::DOUBLE, quantile_cont(value, 0.99) FROM v
    )
    SELECT e.q, e.est_value, round(x.exact_value, 4) AS exact_r,
           round(abs(e.est_value - round(x.exact_value, 4)), 4) AS abs_err
    FROM est e JOIN ex x ON x.q = e.q
    """,
)
def histogram_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles from a MERGEABLE fixed-width histogram (bin counts +
    linear interpolation inside the straddling bin), exact percentile
    alongside to expose the ≤ bin-width error. The sketch is the quantile
    path that survives 100 TB: bin counts are a bounded groupBy any
    partitioning can partial-aggregate and merge (unlike exact percentile,
    which buffers the column), and the estimate derives from exact integer
    (bin, cumulative, total) state with one float interpolation — no
    summation-order sensitivity. Complements ``approx_percentile``
    (Spark-internal sketch, rows-only oracle) with a value-checked
    portable formulation."""
    e = table(spark, sf_dir, "events")
    v = e.filter(F.col("value").isNotNull()).select("value")
    bins = v.groupBy(
        F.floor(F.col("value") / 5).cast("long").alias("b")
    ).agg(F.count("*").alias("n"))
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c = bins.select(
        "b",
        "n",
        F.sum("n").over(w).alias("cum"),
        (F.sum("n").over(w) - F.col("n")).alias("cum_prev"),
    ).crossJoin(F.broadcast(v.agg(F.count("*").alias("nt"))))
    qs = spark.range(1).select(
        F.explode(F.array(*[F.lit(q) for q in (0.25, 0.5, 0.9, 0.99)])).alias("q")
    )
    est = (
        F.broadcast(qs)
        .join(
            c,
            (F.col("cum_prev") < F.col("q") * F.col("nt"))
            & (F.col("cum") >= F.col("q") * F.col("nt")),
        )
        .select(
            "q",
            F.round(
                F.col("b") * 5
                + 5.0 * (F.col("q") * F.col("nt") - F.col("cum_prev")) / F.col("n"),
                4,
            ).alias("est_value"),
        )
    )
    exact = v.agg(
        F.expr("percentile(value, array(0.25, 0.5, 0.9, 0.99))").alias("exs")
    ).select(
        F.posexplode("exs").alias("pos", "exact_value")
    ).select(
        F.element_at(
            F.array(*[F.lit(q) for q in (0.25, 0.5, 0.9, 0.99)]),
            F.col("pos") + 1,
        ).alias("q"),
        F.round("exact_value", 4).alias("exact_r"),
    )
    return est.join(F.broadcast(exact), "q").select(
        "q",
        "est_value",
        "exact_r",
        F.round(F.abs(F.col("est_value") - F.col("exact_r")), 4).alias("abs_err"),
    )
