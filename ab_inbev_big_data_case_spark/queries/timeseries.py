"""Time-series diagnostics over the daily revenue series (round-5 widening
of SURVEY.md §2.2's analytics family): autocorrelation, seasonal-naive
forecast backtesting, CUSUM changepoint location, and day-of-week seasonal
decomposition.

These are the monitoring/forecast-adjacent aggregates a warehouse team runs
on top of the reference's published gold layer (``glue/etl_api.py:42-45``
ends at a static groupBy; a production deployment immediately asks "is this
week anomalous?" — these operators answer that).

Scale posture shared by the whole family: the fact table is FIRST collapsed
to a calendar-bounded spine (one shuffle; the spine has at most a few
thousand rows regardless of data volume — its size is bounded by elapsed
days, not rows), and every window/lag runs on the spine. The partitionless
windows here are therefore the documented bounded-spine exception (see
``queries/mlstats.py`` sweep-line): WindowExec sees O(days) rows at 100 TB
exactly as it does at sf0.001. Per-key series (``seasonal_naive_mape``) keep
the window PARTITIONED so the same plan scales with key cardinality.

Float discipline: daily revenue is a ``functions/money.py`` sum (exact, then
rounded to 2 before any double arithmetic), so the spine the two engines
difference/correlate is bit-identical; downstream ratios round at 6.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ab_inbev_big_data_case_spark.functions.money import (
    cents,
    cents_sql,
    money_sum,
    money_sum_sql,
)
from ab_inbev_big_data_case_spark.registry import register
from ab_inbev_big_data_case_spark.sources.readers import const_df, table
from ab_inbev_big_data_case_spark.operators.lineage import cut


def _daily_sql(key: str | None = None) -> str:
    """ANSI daily-revenue spine shared by every oracle in this module
    (matches :func:`_daily_revenue` column-for-column); ``key`` is the
    series key's select item (``"o_orderpriority AS prio"``), grouped
    before the day."""
    head, groups = (f"{key}, ", "1, 2") if key else ("", "1")
    return f"""
        SELECT {head}date_trunc('day', o_orderdate)::TIMESTAMP AS day,
               {money_sum_sql('o_totalprice')}::DOUBLE
                   AS rev
        FROM orders GROUP BY {groups}
"""


_ACF_MAX_LAG = 7


def _daily_revenue(
    spark: SparkSession, sf_dir: str, key: Column | None = None
) -> DataFrame:
    """Fact → spine collapse: one aggregate shuffle keyed on (``key``,)
    day, revenue a money sum (stable across engines)."""
    o = table(spark, sf_dir, "orders")
    keys = [] if key is None else [key]
    return o.groupBy(
        *keys, F.date_trunc("day", F.col("o_orderdate")).alias("day")
    ).agg(
        money_sum(F.col("o_totalprice"))
        .cast("double")
        .alias("rev")
    )


_ACF_SQL = f"""
    WITH d AS ({_daily_sql()}),
    m AS (SELECT avg(rev) AS mu FROM d),
    s AS (SELECT sum((rev - m.mu) * (rev - m.mu)) AS ss
          FROM d CROSS JOIN m),
    l AS (
        SELECT rev,
               {", ".join(f"lag(rev, {k}) OVER (ORDER BY day) AS l{k}" for k in range(1, _ACF_MAX_LAG + 1))}
        FROM d
    ),
    a AS (
        SELECT {", ".join(f"sum((l.rev - m.mu) * (l.l{k} - m.mu)) AS c{k}" for k in range(1, _ACF_MAX_LAG + 1))}
        FROM l CROSS JOIN m
    )
    {" UNION ALL ".join(
        f"SELECT {k}::BIGINT AS lag_k, round(a.c{k} / s.ss, 6) AS acf_r "
        "FROM a CROSS JOIN s"
        for k in range(1, _ACF_MAX_LAG + 1)
    )}
"""


@register("acf_lags", oracle=_ACF_SQL)
def acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of daily revenue at lags 1..7 (the
    seasonality detector: a weekly cycle shows as a spike at lag 7).

    r_k = Σ_{t>k}(x_t−x̄)(x_{t−k}−x̄) / Σ(x_t−x̄)² — the standard biased
    sample ACF. All 7 lag columns share ONE bounded-spine window (single
    sort of O(days) rows); the 7 cross-moment sums accumulate in ONE
    aggregate pass; the melt to (lag_k, acf_r) rows is an in-row explode
    of the 1-row result, so no subtree is re-executed per lag. Lag is a
    series offset over observed days (gap days don't shift it — same
    convention both engines)."""
    d = _daily_revenue(spark, sf_dir)
    m = d.agg(F.avg("rev").alias("mu"))
    dm = d.crossJoin(F.broadcast(m))
    s = dm.agg(
        F.sum((F.col("rev") - F.col("mu")) * (F.col("rev") - F.col("mu"))).alias(
            "ss"
        )
    )
    w = Window.orderBy("day")  # bounded spine: O(days) rows, see module doc
    lagged = dm.select(
        "rev",
        "mu",
        *[F.lag("rev", k).over(w).alias(f"l{k}") for k in range(1, _ACF_MAX_LAG + 1)],
    )
    a = lagged.agg(
        *[
            F.sum(
                (F.col("rev") - F.col("mu")) * (F.col(f"l{k}") - F.col("mu"))
            ).alias(f"c{k}")
            for k in range(1, _ACF_MAX_LAG + 1)
        ]
    )
    one = a.crossJoin(F.broadcast(s))
    return one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("long").alias("lag_k"),
                        F.round(F.col(f"c{k}") / F.col("ss"), 6).alias("acf_r"),
                    )
                    for k in range(1, _ACF_MAX_LAG + 1)
                ]
            )
        ).alias("kv")
    ).select("kv.lag_k", "kv.acf_r")


_SEASONAL_NAIVE_SQL = f"""
    WITH d AS ({_daily_sql("o_orderpriority AS prio")}),
    f AS (
        SELECT prio, rev,
               lag(rev, 7) OVER (PARTITION BY prio ORDER BY day) AS fc
        FROM d
    )
    SELECT prio,
           count(fc) AS n_eval,
           round(avg(abs(rev - fc) / rev), 6) AS mape_r,
           round(avg(2.0 * abs(rev - fc) / (abs(rev) + abs(fc))), 6)
               AS smape_r,
           round(avg(abs(rev - fc)), 2) AS mae_r,
           round(sqrt(avg((rev - fc) * (rev - fc))), 2) AS rmse_r
    FROM f GROUP BY prio
"""


@register("seasonal_naive_mape", oracle=_SEASONAL_NAIVE_SQL)
def seasonal_naive_mape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-accuracy backtest of the seasonal-naive baseline
    (ŷ_t = y_{t−7 observed days}) per order priority: MAPE, sMAPE, MAE,
    RMSE — the error suite every forecasting deployment reports before
    trying anything fancier.

    Scale shape: the window is PARTITIONED by the series key, so state per
    task is one series, and adding keys adds parallelism, not depth. The
    error aggregate rides the same partitioning (avg/count skip the 7
    NULL-forecast head rows identically in both engines)."""
    d = _daily_revenue(spark, sf_dir, F.col("o_orderpriority").alias("prio"))
    w = Window.partitionBy("prio").orderBy("day")
    f = d.select("prio", "rev", F.lag("rev", 7).over(w).alias("fc"))
    err = F.col("rev") - F.col("fc")
    return f.groupBy("prio").agg(
        F.count("fc").alias("n_eval"),
        F.round(F.avg(F.abs(err) / F.col("rev")), 6).alias("mape_r"),
        F.round(
            F.avg(2.0 * F.abs(err) / (F.abs(F.col("rev")) + F.abs(F.col("fc")))),
            6,
        ).alias("smape_r"),
        F.round(F.avg(F.abs(err)), 2).alias("mae_r"),
        F.round(F.sqrt(F.avg(err * err)), 2).alias("rmse_r"),
    )


_CUSUM_SQL = f"""
    WITH d AS ({_daily_sql()}),
    m AS (SELECT avg(rev) AS mu, count(*) AS n_days FROM d),
    c AS (
        SELECT day,
               sum(rev - m.mu) OVER (
                   ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS s,
               m.n_days
        FROM d CROSS JOIN m
    )
    SELECT day AS cp_day,
           round(abs(s), 2) AS max_abs_cusum_r,
           n_days
    FROM c
    ORDER BY round(abs(s), 2) DESC, day
    LIMIT 1
"""


@register("cusum_changepoint", oracle=_CUSUM_SQL)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint locator on daily revenue: S_t = Σ_{i≤t}(x_i − x̄);
    the day maximizing |S_t| is the classic single-changepoint estimate
    (mean shift before/after). Output is that day, the peak |CUSUM|, and
    the series length.

    The running sum is a bounded-spine cumulative window; the argmax is
    TakeOrderedAndProject on the ROUNDED statistic with the day as the
    tiebreak, so float dust below the reported precision can never flip
    which row wins (same ORDER BY in the oracle)."""
    d = _daily_revenue(spark, sf_dir)
    m = d.agg(F.avg("rev").alias("mu"), F.count("*").alias("n_days"))
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )  # bounded spine: O(days) rows, see module doc
    c = (
        d.crossJoin(F.broadcast(m))
        .withColumn("s", F.sum(F.col("rev") - F.col("mu")).over(w))
        .select(
            F.col("day").alias("cp_day"),
            F.round(F.abs("s"), 2).alias("max_abs_cusum_r"),
            "n_days",
        )
    )
    return c.orderBy(F.col("max_abs_cusum_r").desc(), "cp_day").limit(1)


_DOW_SQL = f"""
    WITH d AS ({_daily_sql()}),
    m AS (SELECT avg(rev) AS mu FROM d),
    g AS (
        SELECT isodow(day)::BIGINT AS dow,
               count(*) AS n_days,
               avg(rev) AS avg_rev,
               stddev_samp(rev) AS sd
        FROM d GROUP BY 1
    )
    SELECT dow, n_days,
           round(avg_rev, 2) AS avg_rev_r,
           round(avg_rev / m.mu, 6) AS seasonal_idx_r,
           round(sd, 2) AS resid_std_r
    FROM g CROSS JOIN m
"""


@register("dow_seasonal_profile", oracle=_DOW_SQL)
def dow_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal decomposition of daily revenue: per ISO weekday
    the mean level, the multiplicative seasonal index (dow mean ÷ overall
    mean — the classical-decomposition seasonal component), and the
    within-dow dispersion (the remainder scale once weekly seasonality is
    removed).

    Two aggregates over the spine (7-row output), normalizer broadcast as
    a 1-row cross join. Spark's ``weekday()`` (0=Mon) + 1 equals DuckDB's
    ``isodow`` (1=Mon) — pinned by the oracle hash."""
    d = _daily_revenue(spark, sf_dir)
    m = d.agg(F.avg("rev").alias("mu"))
    g = d.groupBy((F.weekday("day") + 1).cast("long").alias("dow")).agg(
        F.count("*").alias("n_days"),
        F.avg("rev").alias("avg_rev"),
        F.stddev_samp("rev").alias("sd"),
    )
    return g.crossJoin(F.broadcast(m)).select(
        "dow",
        "n_days",
        F.round("avg_rev", 2).alias("avg_rev_r"),
        F.round(F.col("avg_rev") / F.col("mu"), 6).alias("seasonal_idx_r"),
        F.round("sd", 2).alias("resid_std_r"),
    )


_STREAKS_SQL = f"""
    WITH d AS ({_daily_sql("o_orderpriority AS prio")}),
    m AS (SELECT prio, avg(rev) AS mu FROM d GROUP BY 1),
    r AS (
        SELECT d.prio, d.day, d.rev, m.mu,
               row_number() OVER (PARTITION BY d.prio ORDER BY d.day) AS rn
        FROM d JOIN m ON m.prio = d.prio
    ),
    hot AS (
        SELECT prio, day, rn,
               row_number() OVER (PARTITION BY prio ORDER BY day) AS rh
        FROM r WHERE rev > mu
    ),
    islands AS (
        SELECT prio, rn - rh AS grp,
               count(*) AS len, min(day) AS start_day
        FROM hot GROUP BY 1, 2
    ),
    best AS (
        SELECT prio, len, start_day,
               row_number() OVER (
                   PARTITION BY prio ORDER BY len DESC, start_day
               ) AS rk,
               sum(len) OVER (PARTITION BY prio) AS n_hot_days
        FROM islands
    )
    SELECT prio, n_hot_days::BIGINT AS n_hot_days,
           len AS max_streak, start_day AS streak_start
    FROM best WHERE rk = 1
"""


@register("revenue_streaks", oracle=_STREAKS_SQL)
def revenue_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: the longest run of consecutive above-average days
    per order priority (the classic SQL islands pattern via the
    row_number-difference trick — consecutive means consecutive rows of
    the observed-day series, so the island key ``rn − rn_hot`` is constant
    exactly along an unbroken hot run).

    Scale shape: every window is PARTITIONED BY the series key; islands
    then collapse in one grouped aggregate and the per-key winner is a
    rank-1 filter with a deterministic (len DESC, start) tiebreak. No
    self-join — the rn-difference replaces the quadratic
    island-by-neighbor-join formulation."""
    d = _daily_revenue(spark, sf_dir, F.col("o_orderpriority").alias("prio"))
    m = d.groupBy("prio").agg(F.avg("rev").alias("mu"))
    wall = Window.partitionBy("prio").orderBy("day")
    r = d.join(m, "prio").withColumn("rn", F.row_number().over(wall))
    hot = r.filter(F.col("rev") > F.col("mu")).withColumn(
        "rh", F.row_number().over(wall)
    )
    islands = hot.groupBy("prio", (F.col("rn") - F.col("rh")).alias("grp")).agg(
        F.count("*").alias("len"), F.min("day").alias("start_day")
    )
    wbest = Window.partitionBy("prio").orderBy(F.col("len").desc(), "start_day")
    wtot = Window.partitionBy("prio")
    best = islands.select(
        "prio",
        "len",
        "start_day",
        F.row_number().over(wbest).alias("rk"),
        F.sum("len").over(wtot).alias("n_hot_days"),
    )
    return best.filter(F.col("rk") == 1).select(
        "prio",
        F.col("n_hot_days").cast("long").alias("n_hot_days"),
        F.col("len").alias("max_streak"),
        F.col("start_day").alias("streak_start"),
    )


_ROLLING_MEDIAN_SQL = f"""
    WITH d AS ({_daily_sql("o_orderpriority AS prio")})
    SELECT prio, day, rev,
           round(quantile_cont(rev, 0.5) OVER (
               PARTITION BY prio ORDER BY day
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
           ), 3) AS med7_r
    FROM d
"""


@register("rolling_median", oracle=_ROLLING_MEDIAN_SQL)
def rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-observation rolling median of daily revenue per priority
    — the robust smoother (median ignores single-day spikes that drag a
    rolling mean). Spark's exact ``percentile`` in a framed window ≡
    DuckDB's ``quantile_cont`` (both linear-interpolate), pinned by the
    oracle hash.

    The window is PARTITIONED by the series key with a 7-row frame, so
    per-task state is one series' trailing buffer — constant memory per
    key at any scale."""
    d = _daily_revenue(spark, sf_dir, F.col("o_orderpriority").alias("prio"))
    w = (
        Window.partitionBy("prio")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    # round at 3, not 2: even-frame medians interpolate two 2-decimal
    # revenues, so true values sit ON the 0.005 grid — a 2-decimal round
    # is a .5-boundary coin-flip across engines, a 3-decimal round is not
    # (double error ≪ 0.0005 can't cross a .0005 boundary)
    return d.select(
        "prio",
        "day",
        "rev",
        F.round(F.expr("percentile(rev, 0.5)").over(w), 3).alias("med7_r"),
    )


_TWAP_SQL = """
    WITH d AS (
        SELECT user_id, value,
               lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) - t
                   AS dt
        FROM (SELECT user_id, value, event_id, epoch_us(ts) AS t
              FROM events)
    )
    SELECT user_id,
           count(dt) AS n_intervals,
           sum(dt)::BIGINT AS total_us,
           round(sum(value * dt) / sum(dt), 4) AS twap_r
    FROM d WHERE dt IS NOT NULL
    GROUP BY user_id
"""


@register("time_weighted_avg", oracle=_TWAP_SQL)
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of the event value per user (TWAP): each
    observation holds until the next one, so its weight is the gap to the
    next event — the correct mean for irregularly-sampled series, where
    the plain avg over-weights bursts.

    One `lead` window PARTITIONED by the series key in integer
    epoch-micros (exact weights, no interval types), then a grouped
    weighted mean on the same key — two map-side-combinable aggregates
    deep, scales with user cardinality. The open last interval per user
    is excluded (dt IS NULL), matching both engines' lead() semantics."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    d = e.select(
        "user_id", "value", "event_id", F.unix_micros("ts").alias("t")
    ).withColumn("dt", F.lead("t").over(w) - F.col("t"))
    return (
        d.filter(F.col("dt").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("dt").alias("n_intervals"),
            F.sum("dt").cast("long").alias("total_us"),
            F.round(F.sum(F.col("value") * F.col("dt")) / F.sum("dt"), 4).alias(
                "twap_r"
            ),
        )
    )


_DECOMP_SQL = f"""
    WITH d AS ({_daily_sql()}),
    t AS (
        SELECT day, rev,
               CASE WHEN count(rev) OVER w = 7
                    THEN round(avg(rev) OVER w, 2) END AS trend_r
        FROM d
        WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    s AS (
        SELECT day, rev, trend_r,
               round(avg(rev - trend_r) FILTER (WHERE trend_r IS NOT NULL)
                     OVER (PARTITION BY dayofweek(day)), 2) AS seasonal_r
        FROM t
    )
    SELECT day, rev, trend_r, seasonal_r,
           CASE WHEN trend_r IS NOT NULL
                THEN round(rev - trend_r - seasonal_r, 2) END AS resid_r
    FROM s
"""


@register("ts_decomposition", oracle=_DECOMP_SQL)
def ts_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of daily revenue: trend = centered
    7-day moving average (full windows only — edges stay NULL rather
    than biased), seasonal = day-of-week mean of the detrended series,
    residual = remainder. The explainable sibling of ``acf_lags``/
    ``dow_seasonal_profile``: it SPLITS the series instead of testing it.

    Scale shape: all three passes are windows/aggregates over the
    calendar-bounded day spine (the documented bounded-spine exception)
    — the fact table is collapsed once, decimal-exact, before any window.
    Rounding to 2 after each pass keeps both engines on the same cents
    grid (the spine values are exact, so subtraction stays exact).
    Day-of-week keys: Spark ``dayofweek`` ≡ DuckDB ``dayofweek()+1``
    — the oracle uses DuckDB's 0-based Sunday start, and grouping is
    unaffected because both partition the same 7 ways."""
    d = _daily_revenue(spark, sf_dir)
    w = Window.orderBy("day").rowsBetween(-3, 3)  # bounded day spine
    t = d.select(
        "day",
        "rev",
        F.when(
            F.count("rev").over(w) == 7, F.round(F.avg("rev").over(w), 2)
        ).alias("trend_r"),
    )
    ws = Window.partitionBy(F.dayofweek("day"))
    s = t.select(
        "day",
        "rev",
        "trend_r",
        F.round(
            F.avg(
                F.when(
                    F.col("trend_r").isNotNull(),
                    F.col("rev") - F.col("trend_r"),
                )
            ).over(ws),
            2,
        ).alias("seasonal_r"),
    )
    return s.select(
        "day",
        "rev",
        "trend_r",
        "seasonal_r",
        F.when(
            F.col("trend_r").isNotNull(),
            F.round(F.col("rev") - F.col("trend_r") - F.col("seasonal_r"), 2),
        ).alias("resid_r"),
    )


_SEAS_ANOM_SQL = f"""
    WITH d AS ({_daily_sql()}),
    t AS (
        SELECT day, rev,
               CASE WHEN count(rev) OVER w = 7
                    THEN round(avg(rev) OVER w, 2) END AS trend_r
        FROM d
        WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    s AS (
        SELECT day, rev, trend_r,
               round(avg(rev - trend_r) FILTER (WHERE trend_r IS NOT NULL)
                     OVER (PARTITION BY dayofweek(day)), 2) AS seasonal_r
        FROM t
    ),
    r AS (
        SELECT day, round(rev - trend_r - seasonal_r, 2) AS resid
        FROM s WHERE trend_r IS NOT NULL
    ),
    med AS (SELECT quantile_cont(resid, 0.5) AS m FROM r),
    mad AS (
        SELECT quantile_cont(abs(r.resid - med.m), 0.5) AS mad
        FROM r CROSS JOIN med
    )
    SELECT r.day, r.resid,
           round((r.resid - med.m) / (1.4826 * mad.mad), 4) AS robust_z_r
    FROM r CROSS JOIN med CROSS JOIN mad
    WHERE abs((r.resid - med.m) / (1.4826 * mad.mad)) > 3
"""


@register("seasonal_residual_anomaly", oracle=_SEAS_ANOM_SQL)
def seasonal_residual_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-adjusted anomaly detection: robust z-score (median/MAD,
    consistency constant 1.4826) of the DECOMPOSITION residual, flagging
    |z| > 3 days — the monitor ``ewma_anomaly`` can't be: it removes the
    weekly cycle first, so a normal Saturday dip no longer pages anyone.

    Scale shape: the trend/seasonal passes are ``ts_decomposition``'s
    bounded-day-spine windows; median and MAD are two exact 1-row
    percentile aggregates over the residual spine; the z-score is a
    codegen'd scalar on exact cents-grid residuals (quantile
    interpolation on the cents grid — ``rolling_median`` discipline)."""
    d = _daily_revenue(spark, sf_dir)
    w = Window.orderBy("day").rowsBetween(-3, 3)  # bounded day spine
    t = d.select(
        "day",
        "rev",
        F.when(
            F.count("rev").over(w) == 7, F.round(F.avg("rev").over(w), 2)
        ).alias("trend_r"),
    )
    ws = Window.partitionBy(F.dayofweek("day"))
    s = t.select(
        "day",
        "rev",
        "trend_r",
        F.round(
            F.avg(
                F.when(
                    F.col("trend_r").isNotNull(),
                    F.col("rev") - F.col("trend_r"),
                )
            ).over(ws),
            2,
        ).alias("seasonal_r"),
    )
    r = s.filter(F.col("trend_r").isNotNull()).select(
        "day",
        F.round(
            F.col("rev") - F.col("trend_r") - F.col("seasonal_r"), 2
        ).alias("resid"),
    )
    med = r.agg(F.percentile("resid", F.lit(0.5)).alias("m"))
    rm = r.crossJoin(F.broadcast(med))
    mad = rm.agg(
        F.percentile(F.abs(F.col("resid") - F.col("m")), F.lit(0.5)).alias(
            "mad"
        )
    )
    z = (F.col("resid") - F.col("m")) / (1.4826 * F.col("mad"))
    return (
        rm.crossJoin(F.broadcast(mad))
        .withColumn("robust_z_r", F.round(z, 4))
        .filter(F.abs(z) > 3)
        .select("day", "resid", "robust_z_r")
    )


_RATE_CP_SQL = """
    WITH d AS (
        SELECT date_trunc('day', ts)::TIMESTAMP AS day,
               count(*) AS n,
               sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT
                   AS e
        FROM events GROUP BY 1
    ),
    cum AS (
        SELECT day, n, e,
               sum(n) OVER w AS cn, sum(e) OVER w AS ce,
               sum(n) OVER () AS tn, sum(e) OVER () AS te
        FROM d
        WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)
    ),
    z AS (
        SELECT day,
               round(abs((ce * 1.0 / cn) - ((te - ce) * 1.0 / (tn - cn)))
                     / sqrt((te * 1.0 / tn) * (1 - te * 1.0 / tn)
                            * (1.0 / cn + 1.0 / (tn - cn))), 4) AS z_r,
               round(ce * 1.0 / cn, 6) AS rate_before_r,
               round((te - ce) * 1.0 / (tn - cn), 6) AS rate_after_r
        FROM cum WHERE cn > 0 AND cn < tn
    )
    SELECT day, z_r, rate_before_r, rate_after_r
    FROM z ORDER BY z_r DESC, day LIMIT 1
"""


@register("error_rate_changepoint", oracle=_RATE_CP_SQL)
def error_rate_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proportion changepoint: the day that best splits the error-RATE
    series into before/after (max two-sample proportion z under the
    pooled rate) — ``cusum_changepoint``'s sibling for rates, where a
    level CUSUM misfires when volume shifts but the rate doesn't.

    Scale shape: one grouped pass collapses events to the day spine
    (integer counts); prefix/total sums are bounded-spine windows; the
    argmax ranks the ROUNDED statistic with day tiebreak
    (TakeOrderedAndProject — FP-flip-proof). All rates derive from
    exact integer cumulative counts on identical trees."""
    e = table(spark, sf_dir, "events")
    d = e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("e"),
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )  # bounded day spine
    wt = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = d.select(
        "day",
        F.sum("n").over(w).alias("cn"),
        F.sum("e").over(w).alias("ce"),
        F.sum("n").over(wt).alias("tn"),
        F.sum("e").over(wt).alias("te"),
    ).filter((F.col("cn") > 0) & (F.col("cn") < F.col("tn")))
    p_pool = F.col("te") / F.col("tn")
    p_b = F.col("ce") / F.col("cn")
    p_a = (F.col("te") - F.col("ce")) / (F.col("tn") - F.col("cn"))
    z = F.abs(p_b - p_a) / F.sqrt(
        p_pool * (1 - p_pool) * (1.0 / F.col("cn") + 1.0 / (F.col("tn") - F.col("cn")))
    )
    return (
        cum.select(
            "day",
            F.round(z, 4).alias("z_r"),
            F.round(p_b, 6).alias("rate_before_r"),
            F.round(p_a, 6).alias("rate_after_r"),
        )
        .orderBy(F.col("z_r").desc(), "day")
        .limit(1)
    )


_MK_TS_SQL = f"""
    WITH d AS ({_daily_sql()}),
    idx AS (
        SELECT row_number() OVER (ORDER BY day) AS i, day, rev FROM d
    ),
    pairs AS (
        SELECT a.i AS i1, b.i AS i2, a.rev AS r1, b.rev AS r2,
               epoch_us(a.day) AS t1, epoch_us(b.day) AS t2
        FROM idx a JOIN idx b ON b.i > a.i
    ),
    s AS (
        SELECT sum(CASE WHEN r2 > r1 THEN 1
                        WHEN r2 < r1 THEN -1 ELSE 0 END)::BIGINT AS mk_s,
               count(*) AS n_pairs
        FROM pairs
    ),
    n AS (SELECT count(*) AS nd FROM d),
    slopes AS (
        SELECT round((r2 - r1) / ((t2 - t1) / 86400000000.0), 6) AS slope
        FROM pairs
    ),
    ts AS (SELECT round(quantile_cont(slope, 0.5), 4) AS theil_sen_r
           FROM slopes)
    SELECT s.mk_s, s.n_pairs,
           round(CASE WHEN s.mk_s > 0 THEN (s.mk_s - 1)
                      WHEN s.mk_s < 0 THEN (s.mk_s + 1)
                      ELSE 0 END
                 / sqrt(n.nd * (n.nd - 1.0) * (2 * n.nd + 5) / 18), 4)
               AS mk_z_r,
           ts.theil_sen_r
    FROM s CROSS JOIN n CROSS JOIN ts
"""


@register("mann_kendall_theil_sen", oracle=_MK_TS_SQL)
def mann_kendall_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test + Theil-Sen slope for daily
    revenue: the nonparametric trend pair — MK's S statistic is a pure
    SIGN count (no distributional assumption, exact integers), Theil-
    Sen is the median of all pairwise slopes (29% breakdown point,
    immune to the outlier days that wreck OLS). The robust companion
    to ``ols_regression``/``cusum_changepoint``.

    Scale shape: the pairwise join is day-spine × day-spine — bounded
    by CALENDAR span squared (~2.9M pairs for 8 years), independent of
    fact-table size, and a plain self-equi-free range join Spark
    executes as one shuffle + per-partition merge; MK's S and variance
    are exact integer arithmetic; slopes quantize at 6 before the
    exact median (quantize-before-rank). The normal approximation uses
    the standard continuity correction."""
    d = _daily_revenue(spark, sf_dir)
    w = Window.orderBy("day")  # bounded day spine
    idx = d.select(
        F.row_number().over(w).alias("i"),
        F.unix_micros("day").alias("t"),
        "rev",
    )
    a = idx.select(
        F.col("i").alias("i1"), F.col("t").alias("t1"), F.col("rev").alias("r1")
    )
    b = idx.select(
        F.col("i").alias("i2"), F.col("t").alias("t2"), F.col("rev").alias("r2")
    )
    pairs = a.join(b, F.col("i2") > F.col("i1"))
    s = pairs.agg(
        F.sum(
            F.when(F.col("r2") > F.col("r1"), 1)
            .when(F.col("r2") < F.col("r1"), -1)
            .otherwise(0)
        )
        .cast("long")
        .alias("mk_s"),
        F.count("*").alias("n_pairs"),
    )
    n = d.agg(F.count("*").alias("nd"))
    slopes = pairs.select(
        F.round(
            (F.col("r2") - F.col("r1"))
            / ((F.col("t2") - F.col("t1")) / 86_400_000_000.0),
            6,
        ).alias("slope")
    )
    ts = slopes.agg(
        F.round(F.percentile("slope", F.lit(0.5)), 4).alias("theil_sen_r")
    )
    cc = (
        F.when(F.col("mk_s") > 0, F.col("mk_s") - 1)
        .when(F.col("mk_s") < 0, F.col("mk_s") + 1)
        .otherwise(F.lit(0))
    )
    var = F.col("nd") * (F.col("nd") - 1.0) * (2 * F.col("nd") + 5) / 18
    return (
        s.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(ts))
        .select(
            "mk_s",
            "n_pairs",
            F.round(cc / F.sqrt(var), 4).alias("mk_z_r"),
            "theil_sen_r",
        )
    )


# ---------------------------------------- cross-correlation (lead/lag)

_CCF_MAX_LAG = 7

_CCF_SQL = f"""
    WITH d AS (
        SELECT date_trunc('day', o_orderdate)::TIMESTAMP AS day,
               {money_sum_sql('o_totalprice')}::DOUBLE
                   AS rev,
               count(*)::DOUBLE AS n_ord
        FROM orders GROUP BY 1
    ),
    l AS (
        SELECT rev,
               {", ".join(
                   f"lead(n_ord, {k}) OVER (ORDER BY day) AS lk_p{k}"
                   for k in range(1, _CCF_MAX_LAG + 1)
               )},
               n_ord AS lk_0,
               {", ".join(
                   f"lag(n_ord, {k}) OVER (ORDER BY day) AS lk_m{k}"
                   for k in range(1, _CCF_MAX_LAG + 1)
               )}
        FROM d
    ),
    a AS (
        SELECT {", ".join(
            f"corr(rev, lk_{t}) AS c_{t}, count(lk_{t}) AS n_{t}"
            for t in [f"m{k}" for k in range(_CCF_MAX_LAG, 0, -1)]
            + ["0"]
            + [f"p{k}" for k in range(1, _CCF_MAX_LAG + 1)]
        )}
        FROM l
    )
    {" UNION ALL ".join(
        f"SELECT {sig}::BIGINT AS lag_k, n_{t}::BIGINT AS n_pairs, "
        f"round(c_{t}, 6) AS ccf_r FROM a"
        for sig, t in [(str(-k), f"m{k}") for k in range(_CCF_MAX_LAG, 0, -1)]
        + [("0", "0")]
        + [(str(k), f"p{k}") for k in range(1, _CCF_MAX_LAG + 1)]
    )}
"""


@register("ccf_lead_lag", oracle=_CCF_SQL)
def ccf_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation between daily revenue and daily order count at
    lags −7..+7 (does volume LEAD revenue or follow it?) — the
    two-series sibling of ``acf_lags``, and the lead/lag read a demand
    forecaster does before picking exogenous features.

    Scale shape: one fact→spine collapse carries BOTH series (revenue
    decimal-exact-then-rounded, counts exact integers); all 15 shifted
    columns come out of ONE bounded-spine window sort; the 15 Pearson
    correlations accumulate in one aggregate pass over the paired
    subsets (corr's co-moment partials merge associatively); the melt
    to (lag_k, n_pairs, ccf_r) rows is an in-row explode of the 1-row
    result. Negative lags are ``lead``s in both engines — no negative
    lag-offset semantics to disagree on."""
    o = table(spark, sf_dir, "orders")
    d = o.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        money_sum(F.col("o_totalprice"))
        .cast("double")
        .alias("rev"),
        F.count("*").cast("double").alias("n_ord"),
    )
    w = Window.orderBy("day")  # bounded spine: O(days) rows, see module doc
    tags = (
        [(-k, f"m{k}") for k in range(_CCF_MAX_LAG, 0, -1)]
        + [(0, "0")]
        + [(k, f"p{k}") for k in range(1, _CCF_MAX_LAG + 1)]
    )
    shifted = d.select(
        "rev",
        *[
            (
                F.col("n_ord")
                if k == 0
                else (
                    F.lead("n_ord", k).over(w)
                    if k > 0
                    else F.lag("n_ord", -k).over(w)
                )
            ).alias(f"lk_{t}")
            for k, t in tags
        ],
    )
    a = shifted.agg(
        *[
            c
            for _, t in tags
            for c in (
                F.corr("rev", f"lk_{t}").alias(f"c_{t}"),
                F.count(f"lk_{t}").alias(f"n_{t}"),
            )
        ]
    )
    return a.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("long").alias("lag_k"),
                        F.col(f"n_{t}").alias("n_pairs"),
                        F.round(F.col(f"c_{t}"), 6).alias("ccf_r"),
                    )
                    for k, t in tags
                ]
            )
        ).alias("kv")
    ).select("kv.lag_k", "kv.n_pairs", "kv.ccf_r")


# ----------------------------------------------------- SAX motif mining

_SAX_SQL = f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST({money_sum_sql('o_totalprice')} * 100
                    AS BIGINT) AS x
        FROM orders GROUP BY 1
    ),
    mo AS (
        SELECT count(*)::HUGEINT AS n, sum(x)::HUGEINT AS s,
               sum((x::HUGEINT) * x) AS q
        FROM daily
    ),
    lab AS (
        SELECT d,
               CASE
                   WHEN (x * mo.n - mo.s) < 0
                        AND 10000 * (x * mo.n - mo.s) * (x * mo.n - mo.s)
                            > 4489 * (mo.n * mo.q - mo.s * mo.s)
                       THEN 'a'
                   WHEN (x * mo.n - mo.s) < 0 THEN 'b'
                   WHEN (x * mo.n - mo.s) >= 0
                        AND NOT (10000 * (x * mo.n - mo.s) * (x * mo.n - mo.s)
                                 >= 4489 * (mo.n * mo.q - mo.s * mo.s))
                       THEN 'c'
                   ELSE 'd'
               END AS letter
        FROM daily CROSS JOIN mo
    ),
    grams AS (
        SELECT letter
               || lead(letter, 1) OVER (ORDER BY d)
               || lead(letter, 2) OVER (ORDER BY d) AS motif
        FROM lab
    )
    SELECT motif, count(*) AS n_occ
    FROM grams WHERE length(motif) = 3
    GROUP BY 1
    ORDER BY n_occ DESC, motif
    LIMIT 10
"""


@register("sax_motifs", oracle=_SAX_SQL)
def sax_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolic motif mining (Lin et al. 2003) over the daily revenue
    series: z-normalize, discretize into a 4-letter alphabet at the
    standard-normal quartile breakpoints (±0.6745 ≈ ±0.67), and count the
    top-10 3-letter motifs — the symbolic-sequence view that turns a
    numeric series into n-gram analytics.

    Exactness: the z-comparison z ≷ ±0.67 is evaluated WITHOUT computing
    z — with d = x·n − S and V = n·Σx² − S², sign(z) = sign(d) and
    |z| > 0.67 ⟺ 10000·d² > 4489·V, all exact integer arithmetic (the
    breakpoint squared is the exact rational 4489/10000), so no float
    mean/std can flip a borderline letter between engines.

    Scale shape: the series is the calendar-day spine (bounded domain —
    one groupBy collapses the fact scan); moments are one 1-row
    aggregate broadcast back; the two ``lead``s share a single ordered
    window over the bounded spine (audited in the partitionless
    allowlist); motif counting is a ≤64-key aggregate."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        (money_sum(F.col("o_totalprice")) * 100)
        .cast("long")
        .alias("x")
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    mo = daily.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum(dec("x")).alias("s"),
        F.sum(dec("x") * F.col("x")).alias("q"),
    )
    j = daily.crossJoin(F.broadcast(mo))
    d_ = dec("x") * F.col("n") - F.col("s")
    v_ = F.col("n") * F.col("q") - F.col("s") * F.col("s")
    lab = j.select(
        "d",
        F.when((d_ < 0) & (10000 * d_ * d_ > 4489 * v_), "a")
        .when(d_ < 0, "b")
        .when((d_ >= 0) & ~(10000 * d_ * d_ >= 4489 * v_), "c")
        .otherwise("d")
        .alias("letter"),
    )
    w = Window.orderBy("d")  # bounded calendar-day spine
    grams = lab.select(
        F.concat(
            "letter", F.lead("letter", 1).over(w), F.lead("letter", 2).over(w)
        ).alias("motif")
    )
    return (
        grams.filter(F.length("motif") == 3)
        .groupBy("motif")
        .agg(F.count("*").alias("n_occ"))
        .orderBy(F.col("n_occ").desc(), "motif")
        .limit(10)
    )


# ------------------------------------- inter-arrival burstiness

_INTERARRIVAL_SQL = """
    WITH seq AS (
        SELECT event_type,
               epoch_us(ts) - epoch_us(lag(ts) OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts, event_id)) AS gap_us
        FROM events
    ),
    s AS (
        SELECT event_type,
               count(gap_us) AS n_gaps,
               sum(gap_us)::HUGEINT AS sg,
               sum((gap_us::HUGEINT) * gap_us) AS qg
        FROM seq WHERE gap_us IS NOT NULL
        GROUP BY 1
    )
    SELECT event_type, n_gaps,
           round(sg::DOUBLE / n_gaps / 1e6, 4) AS mean_gap_s_r,
           round(sqrt((n_gaps * qg - sg * sg)::DOUBLE
                      / (n_gaps::DOUBLE * (n_gaps - 1)))
                 / (sg::DOUBLE / n_gaps), 4) AS cv_r,
           round((sqrt((n_gaps * qg - sg * sg)::DOUBLE
                       / (n_gaps::DOUBLE * (n_gaps - 1)))
                  - sg::DOUBLE / n_gaps)
                 / (sqrt((n_gaps * qg - sg * sg)::DOUBLE
                         / (n_gaps::DOUBLE * (n_gaps - 1)))
                    + sg::DOUBLE / n_gaps), 4) AS burstiness_r
    FROM s
"""


@register("interarrival_burstiness", oracle=_INTERARRIVAL_SQL)
def interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time burstiness per event type (Goh & Barabási
    2008): coefficient of variation of the gaps between a user's
    consecutive same-type events, and B = (σ−μ)/(σ+μ) — B≈0 is Poisson
    (CV 1), B→1 is bursty, B→−1 is periodic. The INTERVAL-based sibling
    of ``burstiness_fano`` (which bins counts); the two disagree exactly
    when bursts hide inside bins.

    Exactness: gaps are integer MICROseconds from a user-partitioned lag
    (the event timestamps carry sub-second precision, so whole-second
    truncation would diverge between engines);
    moments accumulate as exact integers (Σg, Σg² as decimals) and the
    σ/μ combination runs once per event-type row in double.

    Scale shape: the lag window partitions on (user, type) — fact-keyed,
    never global; the moment aggregate is keyed on the 5-value type
    domain."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    seq = e.select(
        "event_type",
        (
            F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
        ).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = seq.groupBy("event_type").agg(
        F.count("gap_us").alias("n_gaps"),
        F.sum(dec("gap_us")).alias("sg"),
        F.sum(dec("gap_us") * F.col("gap_us")).alias("qg"),
    )
    mean = F.col("sg").cast("double") / F.col("n_gaps")
    sd = F.sqrt(
        (F.col("n_gaps") * F.col("qg") - F.col("sg") * F.col("sg")).cast("double")
        / (F.col("n_gaps").cast("double") * (F.col("n_gaps") - 1))
    )
    return s.select(
        "event_type",
        "n_gaps",
        F.round(mean / 1e6, 4).alias("mean_gap_s_r"),
        F.round(sd / mean, 4).alias("cv_r"),
        F.round((sd - mean) / (sd + mean), 4).alias("burstiness_r"),
    )


# ----------------------------------------- Wald–Wolfowitz runs test

_RUNS_SQL = f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST({money_sum_sql('o_totalprice')} * 100
                    AS BIGINT) AS x
        FROM orders GROUP BY 1
    ),
    cells AS (SELECT x, count(*) AS c FROM daily GROUP BY 1),
    walk AS (
        SELECT x, sum(c) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cum,
               sum(c) OVER () AS n
        FROM cells
    ),
    med AS (SELECT min(CASE WHEN 2 * cum >= n THEN x END) AS med_x FROM walk),
    lab AS (
        SELECT d, CASE WHEN daily.x > m.med_x THEN 1 ELSE 0 END AS up
        FROM daily CROSS JOIN med m
        WHERE daily.x <> m.med_x
    ),
    seq AS (
        SELECT up, lag(up) OVER (ORDER BY d) AS prev_up
        FROM lab
    ),
    s AS (
        SELECT count(*) AS n,
               sum(up)::BIGINT AS n_plus,
               (count(*) - sum(up))::BIGINT AS n_minus,
               (1 + sum(CASE WHEN prev_up IS NOT NULL AND up <> prev_up
                             THEN 1 ELSE 0 END))::BIGINT AS runs
        FROM seq
    )
    SELECT n, n_plus, n_minus, runs,
           round((runs - (2.0 * n_plus * n_minus / n + 1))
                 / sqrt(2.0 * n_plus * n_minus
                        * (2.0 * n_plus * n_minus - n)
                        / (n::DOUBLE * n * (n - 1))), 4) AS z_r
    FROM s
"""


@register("runs_test_randomness", oracle=_RUNS_SQL)
def runs_test_randomness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test on the daily revenue series: days are
    labeled above/below the ATTAINED median (exact-median days dropped,
    the standard convention), runs of same-label days are counted, and
    the z statistic compares the observed run count against the
    randomness expectation — too few runs means regime persistence the
    ACF family measures parametrically; this is the distribution-free
    check.

    Exactness: revenue is exact cents, the median is an attained value
    by integer rank inequality, the run count is an integer from one lag
    over the bounded day spine, and z is a single final double
    expression.

    Scale shape: everything after the one fact aggregation lives on the
    bounded calendar-day / value spines (both allowlisted bounded-spine
    windows)."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        (money_sum(F.col("o_totalprice")) * 100)
        .cast("long")
        .alias("x")
    )
    cells = daily.groupBy("x").agg(F.count("*").alias("c"))
    wv = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    walk = cells.select(
        "x",
        F.sum("c").over(wv).alias("cum"),
        F.sum("c").over(
            Window.orderBy("x").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    med = walk.agg(
        F.min(F.when(2 * F.col("cum") >= F.col("n"), F.col("x"))).alias("med_x")
    )
    lab = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("x") != F.col("med_x"))
        .select("d", (F.col("x") > F.col("med_x")).cast("int").alias("up"))
    )
    wd = Window.orderBy("d")
    seq = lab.select("up", F.lag("up").over(wd).alias("prev_up"))
    s = seq.agg(
        F.count("*").alias("n"),
        F.sum("up").cast("long").alias("n_plus"),
        (F.count("*") - F.sum("up")).cast("long").alias("n_minus"),
        (
            1
            + F.sum(
                F.when(
                    F.col("prev_up").isNotNull()
                    & (F.col("up") != F.col("prev_up")),
                    1,
                ).otherwise(0)
            )
        )
        .cast("long")
        .alias("runs"),
    )
    n_d = F.col("n").cast("double")
    npm = 2.0 * F.col("n_plus") * F.col("n_minus")
    return s.select(
        "n",
        "n_plus",
        "n_minus",
        "runs",
        F.round(
            (F.col("runs") - (npm / F.col("n") + 1))
            / F.sqrt(
                npm * (npm - F.col("n")) / (n_d * n_d * (n_d - 1))
            ),
            4,
        ).alias("z_r"),
    )


# --------------------------------------- PACF via Durbin–Levinson

_PACF_SQL = f"""
    WITH d AS ({_daily_sql()}),
    m AS (SELECT avg(rev) AS mu FROM d),
    s AS (SELECT sum((rev - m.mu) * (rev - m.mu)) AS ss
          FROM d CROSS JOIN m),
    l AS (
        SELECT rev,
               lag(rev, 1) OVER (ORDER BY day) AS l1,
               lag(rev, 2) OVER (ORDER BY day) AS l2,
               lag(rev, 3) OVER (ORDER BY day) AS l3
        FROM d
    ),
    a AS (
        SELECT sum((l.rev - m.mu) * (l.l1 - m.mu)) AS c1,
               sum((l.rev - m.mu) * (l.l2 - m.mu)) AS c2,
               sum((l.rev - m.mu) * (l.l3 - m.mu)) AS c3
        FROM l CROSS JOIN m
    ),
    rho AS (
        SELECT round(a.c1 / s.ss, 6) AS r1,
               round(a.c2 / s.ss, 6) AS r2,
               round(a.c3 / s.ss, 6) AS r3
        FROM a CROSS JOIN s
    ),
    dl AS (
        SELECT r1, r2, r3,
               r1 AS p11,
               (r2 - r1 * r1) / (1 - r1 * r1) AS p22
        FROM rho
    )
    SELECT round(p11, 6) AS pacf1_r,
           round(p22, 6) AS pacf2_r,
           round((r3 - (r1 * (1 - p22)) * r2 - p22 * r1)
                 / (1 - (r1 * (1 - p22)) * r1 - p22 * r2), 6) AS pacf3_r
    FROM dl
"""


@register("pacf_lags", oracle=_PACF_SQL)
def pacf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of daily revenue at lags 1–3 via the
    Durbin–Levinson recursion UNROLLED into closed scalar form (the
    recursion over a fixed small order is a deterministic expression, not
    an iterative job): φ11 = ρ1, φ22 = (ρ2−ρ1²)/(1−ρ1²), and φ33 from
    the level-2 coefficients. PACF is what separates an AR(1) world
    (φ22 ≈ 0 even when ρ2 is large) from genuine higher-order structure —
    the model-order evidence ``acf_lags`` alone cannot give.

    Determinism: the ρ's are QUANTIZED at 6 decimals first (both
    engines), so the recursion consumes identical inputs and every
    downstream coefficient is bit-identical; all series work happens on
    the same bounded day spine/one-aggregate shape as ``acf_lags``."""
    d = _daily_revenue(spark, sf_dir)
    m = d.agg(F.avg("rev").alias("mu"))
    dm = d.crossJoin(F.broadcast(m))
    s = dm.agg(
        F.sum((F.col("rev") - F.col("mu")) * (F.col("rev") - F.col("mu"))).alias("ss")
    )
    w = Window.orderBy("day")  # bounded calendar-day spine
    lagged = dm.select(
        "rev",
        "mu",
        *[F.lag("rev", k).over(w).alias(f"l{k}") for k in (1, 2, 3)],
    )
    a = lagged.agg(
        *[
            F.sum(
                (F.col("rev") - F.col("mu")) * (F.col(f"l{k}") - F.col("mu"))
            ).alias(f"c{k}")
            for k in (1, 2, 3)
        ]
    )
    rho = a.crossJoin(F.broadcast(s)).select(
        *[F.round(F.col(f"c{k}") / F.col("ss"), 6).alias(f"r{k}") for k in (1, 2, 3)]
    )
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    p22 = (r2 - r1 * r1) / (1 - r1 * r1)
    p21 = r1 * (1 - p22)
    return rho.select(
        F.round(r1, 6).alias("pacf1_r"),
        F.round(p22, 6).alias("pacf2_r"),
        F.round(
            (r3 - p21 * r2 - p22 * r1) / (1 - p21 * r1 - p22 * r2), 6
        ).alias("pacf3_r"),
    )


# ----------------------------------------- forecast method bakeoff

_BAKEOFF_SQL = f"""
    WITH d AS ({_daily_sql()}),
    idx AS (
        SELECT day, rev,
               row_number() OVER (ORDER BY day) AS i,
               count(*) OVER () AS n
        FROM d
    ),
    train AS (SELECT * FROM idx WHERE i <= n - 28),
    test AS (SELECT * FROM idx WHERE i > n - 28),
    anchor AS (
        SELECT max(CASE WHEN i = n - 28 THEN rev END) AS last_rev,
               max(CASE WHEN i = 1 THEN rev END) AS first_rev,
               max(n) - 28 AS n_train
        FROM idx
    ),
    f AS (
        SELECT t.i, t.rev,
               a.last_rev AS f_naive,
               (SELECT s.rev FROM idx s
                WHERE s.i = t.i - 7 * (((t.i - (a.n_train + 1)) // 7) + 1))
                   AS f_snaive,
               a.last_rev + (a.last_rev - a.first_rev)
                   / (a.n_train - 1) * (t.i - a.n_train) AS f_drift
        FROM test t CROSS JOIN anchor a
    )
    SELECT method, n_days,
           round(mape, 4) AS mape_r
    FROM (
        SELECT 'naive' AS method, count(*) AS n_days,
               avg(abs(rev - f_naive) / rev) * 100 AS mape
        FROM f
        UNION ALL
        SELECT 'seasonal_naive', count(*),
               avg(abs(rev - f_snaive) / rev) * 100
        FROM f
        UNION ALL
        SELECT 'drift', count(*),
               avg(abs(rev - f_drift) / rev) * 100
        FROM f
    )
"""


@register("forecast_method_bakeoff", oracle=_BAKEOFF_SQL)
def forecast_method_bakeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-forward forecast bakeoff on the last 28 observed days of
    daily revenue: naive (last training value), seasonal naive (value
    from the most recent same-weekday slot in training, reached by
    stepping back whole weeks), and drift (linear extrapolation of the
    training endpoints) — MAPE each, the model-selection harness
    ``seasonal_naive_mape`` is one arm of.

    Determinism: the series index is a row_number over the bounded day
    spine (ties impossible — one row per day), forecasts are arithmetic
    on anchored values, and MAPE averages 28 identical doubles in both
    engines before one rounding.

    Scale shape: everything after the one fact aggregation is
    spine-sized; the seasonal lookup is a keyed self-join of the 28-row
    test slice against the spine."""
    d = _daily_revenue(spark, sf_dir)
    w = Window.orderBy("day")
    wall = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    idx = d.select(
        "day",
        "rev",
        F.row_number().over(w).alias("i"),
        F.count("*").over(wall).alias("n"),
    )
    anchor = idx.agg(
        F.max(F.when(F.col("i") == F.col("n") - 28, F.col("rev"))).alias(
            "last_rev"
        ),
        F.max(F.when(F.col("i") == 1, F.col("rev"))).alias("first_rev"),
        (F.max("n") - 28).alias("n_train"),
    )
    test = idx.filter(F.col("i") > F.col("n") - 28).crossJoin(F.broadcast(anchor))
    # seasonal-naive source index: step back whole weeks into training
    test = test.withColumn(
        "src_i",
        F.col("i")
        - 7
        * (
            F.expr("(i - (n_train + 1)) div 7") + 1
        ),
    )
    src = idx.select(F.col("i").alias("src_i"), F.col("rev").alias("f_snaive"))
    f = test.join(src, "src_i").select(
        "rev",
        F.col("last_rev").alias("f_naive"),
        "f_snaive",
        (
            F.col("last_rev")
            + (F.col("last_rev") - F.col("first_rev"))
            / (F.col("n_train") - 1)
            * (F.col("i") - F.col("n_train"))
        ).alias("f_drift"),
    )
    # one aggregate pass for all three methods, then an in-row unpivot —
    # a 3-way union would re-execute the whole spine subtree per branch
    m = f.agg(
        F.count("*").alias("n_days"),
        *[
            F.round(
                F.avg(F.abs(F.col("rev") - F.col(col)) / F.col("rev")) * 100, 4
            ).alias(f"m_{col}")
            for col in ("f_naive", "f_snaive", "f_drift")
        ],
    )
    return m.select(
        F.expr(
            "stack(3, 'naive', m_f_naive, 'seasonal_naive', m_f_snaive,"
            " 'drift', m_f_drift)"
        ).alias("method", "mape_r"),
        "n_days",
    ).select("method", "n_days", "mape_r")


# ------------------------------------------------------ max drawdown

_DRAWDOWN_SQL = f"""
    WITH d AS ({_daily_sql()}),
    c AS (
        SELECT day, rev,
               max(rev) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                   AS run_max
        FROM d
    ),
    dd AS (SELECT day, rev, run_max, run_max - rev AS drawdown FROM c),
    mx AS (SELECT max(drawdown) AS max_dd FROM dd),
    trough AS (
        SELECT min(day) AS trough_day FROM dd CROSS JOIN mx
        WHERE drawdown = max_dd
    )
    SELECT round(m.max_dd, 2) AS max_drawdown_r,
           t.trough_day,
           round((SELECT max(run_max) FROM dd WHERE day <= t.trough_day), 2)
               AS peak_level_r,
           round(m.max_dd / (SELECT max(run_max) FROM dd
                             WHERE day <= t.trough_day), 6)
               AS dd_pct_r
    FROM mx m CROSS JOIN trough t
"""


@register("max_drawdown_daily", oracle=_DRAWDOWN_SQL)
def max_drawdown_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the daily revenue series: the largest drop
    from a running peak to a later day, with the trough date (earliest
    on ties) and the drawdown as a share of the peak — the
    worst-case-decline statistic (finance's risk lens applied to the
    revenue stream; ``cusum_changepoint`` finds WHERE the level shifted,
    this measures HOW BAD the deepest excursion was).

    Determinism: revenues are the decimal-exact daily sums shared by the
    ACF family; running max and differences are exact; ties on the
    trough break to the earliest day.

    Scale shape: one fact aggregation, then a running-max window plus
    two bounded aggregates over the calendar-day spine."""
    d = _daily_revenue(spark, sf_dir)
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    dd = d.select(
        "day", "rev", F.max("rev").over(w).alias("run_max")
    ).withColumn("drawdown", F.col("run_max") - F.col("rev"))
    mx = dd.agg(F.max("drawdown").alias("max_dd"))
    trough = (
        dd.crossJoin(F.broadcast(mx))
        .filter(F.col("drawdown") == F.col("max_dd"))
        .agg(F.min("day").alias("trough_day"))
    )
    peak = (
        dd.crossJoin(F.broadcast(trough))
        .filter(F.col("day") <= F.col("trough_day"))
        .agg(F.max("run_max").alias("peak_level"))
    )
    return (
        mx.crossJoin(F.broadcast(trough))
        .crossJoin(F.broadcast(peak))
        .select(
            F.round("max_dd", 2).alias("max_drawdown_r"),
            "trough_day",
            F.round("peak_level", 2).alias("peak_level_r"),
            F.round(F.col("max_dd") / F.col("peak_level"), 6).alias("dd_pct_r"),
        )
    )


# --------------------------------------------- SPC control chart

_SPC_SQL = f"""
    WITH d AS ({_daily_sql()}),
    m AS (
        SELECT count(*) AS n, sum(rev) AS s, sum(rev * rev) AS q
        FROM d
    ),
    lim AS (
        SELECT s / n AS mu,
               sqrt((q - s * s / n) / (n - 1)) AS sigma
        FROM m
    ),
    lab AS (
        SELECT day, rev,
               CASE WHEN rev > l.mu + 3 * l.sigma THEN 1
                    WHEN rev < l.mu - 3 * l.sigma THEN -1
                    ELSE 0 END AS rule1,
               CASE WHEN rev > l.mu THEN 1 ELSE -1 END AS side
        FROM d CROSS JOIN lim l
    ),
    runs AS (
        SELECT day, rule1, side,
               row_number() OVER (ORDER BY day)
                 - row_number() OVER (PARTITION BY side ORDER BY day)
                   AS grp
        FROM lab
    ),
    rule2 AS (
        SELECT count(*) AS n_rule2_runs
        FROM (SELECT side, grp, count(*) AS len
              FROM runs GROUP BY 1, 2 HAVING count(*) >= 9)
    )
    SELECT (SELECT count(*) FROM lab WHERE rule1 = 1) AS n_above_3sigma,
           (SELECT count(*) FROM lab WHERE rule1 = -1) AS n_below_3sigma,
           r2.n_rule2_runs,
           (SELECT count(*) FROM lab) AS n_days
    FROM rule2 r2
"""


@register("spc_control_chart", oracle=_SPC_SQL)
def spc_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-process-control chart over daily revenue: Western
    Electric rule 1 (points beyond μ±3σ) and rule 2 (runs of ≥9
    consecutive days on one side of the mean, found with the classic
    gaps-and-islands double row_number) — the monitoring layer above
    ``ewma_anomaly``/``cusum_changepoint``: rules an operator can read
    off a chart, not a tuned detector.

    Determinism: daily sums are decimal-exact; μ/σ and the ±3σ
    comparisons run on the same doubles in both engines (identical
    expression over identical inputs); run grouping is integer
    row_number arithmetic over the bounded day spine."""
    d = _daily_revenue(spark, sf_dir)
    m = d.agg(
        F.count("*").alias("n"),
        F.sum("rev").alias("s"),
        F.sum(F.col("rev") * F.col("rev")).alias("q"),
    )
    lim = m.select(
        (F.col("s") / F.col("n")).alias("mu"),
        F.sqrt(
            (F.col("q") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1)
        ).alias("sigma"),
    )
    lab = d.crossJoin(F.broadcast(lim)).select(
        "day",
        "rev",
        F.when(F.col("rev") > F.col("mu") + 3 * F.col("sigma"), 1)
        .when(F.col("rev") < F.col("mu") - 3 * F.col("sigma"), -1)
        .otherwise(0)
        .alias("rule1"),
        F.when(F.col("rev") > F.col("mu"), 1).otherwise(-1).alias("side"),
    )
    w_all = Window.orderBy("day")
    w_side = Window.partitionBy("side").orderBy("day")
    runs = lab.select(
        "side",
        (F.row_number().over(w_all) - F.row_number().over(w_side)).alias("grp"),
    )
    rule2 = (
        runs.groupBy("side", "grp")
        .agg(F.count("*").alias("len"))
        .filter(F.col("len") >= 9)
        .agg(F.count("*").alias("n_rule2_runs"))
    )
    stats = lab.agg(
        F.sum(F.when(F.col("rule1") == 1, 1).otherwise(0)).alias("n_above_3sigma"),
        F.sum(F.when(F.col("rule1") == -1, 1).otherwise(0)).alias(
            "n_below_3sigma"
        ),
        F.count("*").alias("n_days"),
    )
    return stats.crossJoin(F.broadcast(rule2)).select(
        "n_above_3sigma", "n_below_3sigma", "n_rule2_runs", "n_days"
    )


# ------------------------------------------- matrix profile (daily)

_MATRIX_PROFILE_SQL = f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST({money_sum_sql('o_totalprice')} * 100
                    AS BIGINT) AS x
        FROM orders GROUP BY 1
    ),
    idx AS (
        SELECT d, x, row_number() OVER (ORDER BY d) AS i FROM daily
    ),
    win AS (
        SELECT i, d,
               [x, lead(x, 1) OVER w, lead(x, 2) OVER w, lead(x, 3) OVER w,
                lead(x, 4) OVER w, lead(x, 5) OVER w, lead(x, 6) OVER w] AS v
        FROM idx WINDOW w AS (ORDER BY i)
        QUALIFY lead(x, 6) OVER w IS NOT NULL
    ),
    pairs AS (
        SELECT a.i AS i, a.d AS d, b.i AS j,
               (SELECT sum((p.a1 - p.b1) * (p.a1 - p.b1))
                FROM (SELECT unnest(a.v)::HUGEINT AS a1,
                             unnest(b.v)::HUGEINT AS b1) p) AS dist2
        FROM win a JOIN win b ON abs(a.i - b.i) >= 7
    ),
    prof AS (
        SELECT i, d, dist2 AS nn_dist2, j AS nn_j FROM (
            SELECT *, row_number() OVER (
                PARTITION BY i ORDER BY dist2, j) AS rn
            FROM pairs
        ) WHERE rn = 1
    ),
    top AS (
        SELECT 'discord' AS kind, i, d, nn_j, nn_dist2,
               row_number() OVER (ORDER BY nn_dist2 DESC, i) AS rk
        FROM prof
        UNION ALL
        SELECT 'motif', i, d, nn_j, nn_dist2,
               row_number() OVER (ORDER BY nn_dist2 ASC, i) AS rk
        FROM prof
    )
    SELECT kind, rk, i, d, nn_j, nn_dist2::BIGINT AS nn_dist2
    FROM top WHERE rk <= 5
"""


@register("matrix_profile_daily", oracle=_MATRIX_PROFILE_SQL)
def matrix_profile_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matrix profile of the daily revenue series (Yeh et al. 2016,
    window m=7): for every 7-day window, the exact squared Euclidean
    distance to its nearest NON-OVERLAPPING window (trivial matches
    |i−j| < m excluded); the five largest profile values are the
    DISCORDS (the week least like any other — anomaly detection with
    zero training) and the five smallest are the MOTIFS (the most
    repeated weekly shape).

    Exactness: windows are exact integer cent 7-vectors, distances are
    exact integer sums of squares, argmins tie-break on (distance, j) —
    nothing floats until never. The sum-of-squares runs in LONG (fully
    codegen'd) when the series' runtime range bound proves it cannot
    overflow (7·(max−min)² < 2⁶³ — one 1-row aggregate probe), else in
    DECIMAL(38,0); both paths are the identical exact integer.

    Scale shape: the all-pairs comparison is over the CALENDAR-DOMAIN-
    bounded window spine (~2,400 windows at every SF — the spine does
    not grow with fact rows), broadcast on one side so the product plans
    as BroadcastNestedLoopJoin — and only the j ≥ i+7 HALF is computed
    (d(i,j)=d(j,i)); each half-pair mirrors into both directions with a
    2-struct explode before the grouped min(struct) argmin. The top-5
    cuts are 2 spine-sized rank windows; the fact scan contributes only
    the one daily aggregation."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        (money_sum(F.col("o_totalprice")) * 100)
        .cast("long")
        .alias("x")
    )
    daily = cut(daily, "matrix_profile_daily.daily")  # probe + spine share one scan
    rng = daily.agg((F.max("x") - F.min("x")).alias("m")).first()["m"] or 0
    long_safe = 7 * rng * rng < (1 << 63)  # Python ints: no overflow here
    w = Window.orderBy("d")
    idx = daily.select("d", "x", F.row_number().over(w).alias("i"))
    wl = Window.orderBy("i")
    win = idx.select(
        "i",
        "d",
        F.array(
            F.col("x"),
            *[F.lead("x", k).over(wl) for k in range(1, 7)],
        ).alias("v"),
    ).filter(F.element_at("v", 7).isNotNull())
    a = win.select(F.col("i"), F.col("d"), F.col("v").alias("va"))
    b = win.select(
        F.col("i").alias("j"), F.col("d").alias("dj"), F.col("v").alias("vb")
    )
    # unrolled scalar terms (no per-pair array allocation, whole-stage
    # codegen end to end) — element_at is 1-based
    def _term(k):
        p, q = F.element_at("va", k), F.element_at("vb", k)
        if long_safe:
            return (p - q) * (p - q)
        return (p - q).cast("decimal(38,0)") * (p - q)

    terms = [_term(k) for k in range(1, 8)]
    acc = terms[0]
    for t in terms[1:]:
        acc = acc + t
    # Keep dist2 a LONG on the long-safe path (r16, guide §5): the former
    # unconditional decimal(38,0) cast boxed a BigDecimal per half-pair —
    # ~2.9 M allocations flowing through the symmetry explode, the
    # min(struct) agg and both rank windows; profiled as the pair stage's
    # per-core CPU inflating ~8× under 32-way concurrency (allocation/GC
    # bandwidth, not arithmetic). Values are identical integers on either
    # type: comparisons order the same and the output column is cast to
    # long at the end of the plan in both cases. The decimal path remains
    # for series whose range bound cannot prove 7·(max−min)² < 2⁶³.
    dist2 = acc if long_safe else acc.cast("decimal(38,0)")
    # The window spine leaves the global row_number's SINGLE partition on
    # the stream side, so the broadcast-NLJ (and the dist2 projection over
    # ~N²/2 pairs) would run as ONE task — measured 6.3 s of a 7.1 s wall
    # on one core with 31 idle at sf0.1 (guide §2.6). Fan the stream side
    # out to the scheduler's width first: a round-robin exchange of the
    # ~2,400-row spine costs microseconds and parallelizes the whole
    # pair stage. Exactness unchanged — dist2 is per-pair integer math and
    # the downstream argmin is an order-free min(struct).
    par = spark.sparkContext.defaultParallelism
    half = (
        a.repartition(par)
        .join(F.broadcast(b), F.col("j") >= F.col("i") + 7)
        .select("i", "d", "j", "dj", dist2.alias("dist2"))
    )
    # each computed half-pair serves BOTH directions (d(i,j)=d(j,i)): the
    # date rides each struct so no third pass over the window spine is
    # ever planned
    sym = half.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("i").alias("ii"), F.col("d").alias("dd"),
                    F.col("j").alias("jj"), "dist2",
                ),
                F.struct(
                    F.col("j").alias("ii"), F.col("dj").alias("dd"),
                    F.col("i").alias("jj"), "dist2",
                ),
            )
        ).alias("t")
    ).select("t.*")
    prof = (
        sym.groupBy("ii", "dd")
        .agg(F.min(F.struct("dist2", F.col("jj"))).alias("m"))
        .select(
            F.col("ii").alias("i"),
            F.col("dd").alias("d"),
            F.col("m.jj").alias("nn_j"),
            F.col("m.dist2").alias("nn_dist2"),
        )
    )
    # Both top-5 cuts come off ONE profile subtree: a union of two ranked
    # branches would recompute the all-pairs join twice, so instead rank
    # twice over the same spine and explode (kind, rk) pairs.
    wdisc = Window.orderBy(F.col("nn_dist2").desc(), F.col("i"))
    wmot = Window.orderBy(F.col("nn_dist2").asc(), F.col("i"))
    ranked = prof.select(
        "i",
        "d",
        "nn_j",
        "nn_dist2",
        F.row_number().over(wdisc).alias("rk_disc"),
        F.row_number().over(wmot).alias("rk_mot"),
    ).filter((F.col("rk_disc") <= 5) | (F.col("rk_mot") <= 5))
    top = ranked.select(
        F.explode(
            F.filter(
                F.array(
                    F.struct(
                        F.lit("discord").alias("kind"), F.col("rk_disc").alias("rk")
                    ),
                    F.struct(F.lit("motif").alias("kind"), F.col("rk_mot").alias("rk")),
                ),
                lambda t: t["rk"] <= 5,
            )
        ).alias("t"),
        "i",
        "d",
        "nn_j",
        "nn_dist2",
    )
    return top.select(
        F.col("t.kind").alias("kind"),
        F.col("t.rk").alias("rk"),
        "i",
        "d",
        "nn_j",
        F.col("nn_dist2").cast("long").alias("nn_dist2"),
    )


# ------------------------------------------ Granger causality (lag 1)

_GRANGER_SQL = f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST({money_sum_sql('o_totalprice')} * 100
                    AS BIGINT) AS x,
               count(*)::BIGINT AS y
        FROM orders GROUP BY 1
    ),
    lagged AS (
        SELECT d, x AS x0,
               lag(x) OVER (ORDER BY d) AS x1,
               lag(y) OVER (ORDER BY d) AS y1
        FROM daily
    ),
    m AS (
        SELECT count(*)::HUGEINT AS n,
               sum(x0)::HUGEINT AS s0, sum(x1)::HUGEINT AS s1,
               sum(y1)::HUGEINT AS sy,
               sum(x0::HUGEINT * x0) AS s00, sum(x0::HUGEINT * x1) AS s01,
               sum(x0::HUGEINT * y1) AS s0y, sum(x1::HUGEINT * x1) AS s11,
               sum(x1::HUGEINT * y1) AS s1y, sum(y1::HUGEINT * y1) AS syy
        FROM lagged WHERE x1 IS NOT NULL
    ),
    a AS (
        SELECT n::DOUBLE AS nd,
               (n * s00 - s0 * s0)::DOUBLE AS a00,
               (n * s01 - s0 * s1)::DOUBLE AS a0x,
               (n * s0y - s0 * sy)::DOUBLE AS a0y,
               (n * s11 - s1 * s1)::DOUBLE AS axx,
               (n * s1y - s1 * sy)::DOUBLE AS axy,
               (n * syy - sy * sy)::DOUBLE AS ayy
        FROM m
    ),
    s AS (
        SELECT nd,
               (a00 - a0x * a0x / axx) / nd AS ssr_r,
               (a00 - (a0x * (a0x * ayy - a0y * axy)
                       + a0y * (a0y * axx - a0x * axy))
                      / (axx * ayy - axy * axy)) / nd AS ssr_u
        FROM a
    )
    SELECT nd::BIGINT AS n,
           round(ln(ssr_r), 6) AS ln_ssr_r,
           round(ln(ssr_u), 6) AS ln_ssr_u,
           round((ssr_r - ssr_u) / (ssr_u / (nd - 3)), 6) AS granger_f_r
    FROM s
"""


@register("granger_f_lite", oracle=_GRANGER_SQL)
def granger_f_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger causality (1969), lag 1: does yesterday's ORDER COUNT help
    predict today's REVENUE beyond yesterday's revenue? F compares the
    restricted regression x_t ~ x_{t−1} against the unrestricted
    x_t ~ x_{t−1} + y_{t−1}, both solved in CLOSED FORM from exact
    n-scaled centered moments (the chow_test discipline: raw moments
    accumulate in DECIMAL(38,0)/HUGEINT, the A_ab = n·S_ab − S_a·S_b
    centering is exact, ONE double cast each, and the 2×2 Cramer solve +
    SSR cancellation run on identical IEEE trees in both engines). SSRs
    reported on the log scale (a raw SSR's last ulp is ~4e3 at these
    magnitudes; ln is 1e-16-relative per ulp).

    Scale shape: one fact pass to the calendar-bounded daily spine, one
    lag window over that spine, ONE moment aggregate (map-combinable),
    then scalar arithmetic on a 1-row panel."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        (money_sum(F.col("o_totalprice")) * 100)
        .cast("long")
        .alias("x"),
        F.count("*").alias("y"),
    )
    w = Window.orderBy("d")
    lagged = daily.select(
        F.col("x").alias("x0"),
        F.lag("x").over(w).alias("x1"),
        F.lag("y").over(w).alias("y1"),
    ).filter(F.col("x1").isNotNull())
    d38 = "decimal(38,0)"
    c = lambda name: F.col(name).cast(d38)  # noqa: E731
    m = lagged.agg(
        F.count("*").cast(d38).alias("n"),
        F.sum(c("x0")).alias("s0"),
        F.sum(c("x1")).alias("s1"),
        F.sum(c("y1")).alias("sy"),
        F.sum(c("x0") * F.col("x0")).alias("s00"),
        F.sum(c("x0") * F.col("x1")).alias("s01"),
        F.sum(c("x0") * F.col("y1")).alias("s0y"),
        F.sum(c("x1") * F.col("x1")).alias("s11"),
        F.sum(c("x1") * F.col("y1")).alias("s1y"),
        F.sum(c("y1") * F.col("y1")).alias("syy"),
    )
    a = m.select(
        F.col("n").cast("double").alias("nd"),
        (F.col("n") * F.col("s00") - F.col("s0") * F.col("s0"))
        .cast("double")
        .alias("a00"),
        (F.col("n") * F.col("s01") - F.col("s0") * F.col("s1"))
        .cast("double")
        .alias("a0x"),
        (F.col("n") * F.col("s0y") - F.col("s0") * F.col("sy"))
        .cast("double")
        .alias("a0y"),
        (F.col("n") * F.col("s11") - F.col("s1") * F.col("s1"))
        .cast("double")
        .alias("axx"),
        (F.col("n") * F.col("s1y") - F.col("s1") * F.col("sy"))
        .cast("double")
        .alias("axy"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        .cast("double")
        .alias("ayy"),
    )
    ssr_r = (F.col("a00") - F.col("a0x") * F.col("a0x") / F.col("axx")) / F.col("nd")
    ssr_u = (
        F.col("a00")
        - (
            F.col("a0x") * (F.col("a0x") * F.col("ayy") - F.col("a0y") * F.col("axy"))
            + F.col("a0y") * (F.col("a0y") * F.col("axx") - F.col("a0x") * F.col("axy"))
        )
        / (F.col("axx") * F.col("ayy") - F.col("axy") * F.col("axy"))
    ) / F.col("nd")
    s = a.select(F.col("nd"), ssr_r.alias("ssr_r"), ssr_u.alias("ssr_u"))
    return s.select(
        F.col("nd").cast("long").alias("n"),
        F.round(F.log("ssr_r"), 6).alias("ln_ssr_r"),
        F.round(F.log("ssr_u"), 6).alias("ln_ssr_u"),
        F.round(
            (F.col("ssr_r") - F.col("ssr_u")) / (F.col("ssr_u") / (F.col("nd") - 3)),
            6,
        ).alias("granger_f_r"),
    )


# ------------------------------------------ dynamic time warping (7x7)

def _dtw_sql() -> str:
    # unrolled 7x7 DP as chained CTEs (the recurrence is sequential; a
    # textual inline of d77 would be exponentially large)
    ctes, prev = [], "base"
    for i in range(1, 8):
        for j in range(1, 8):
            cost = f"abs(a{i} - b{j})"
            if i == 1 and j == 1:
                e = cost
            elif i == 1:
                e = f"{cost} + d1{j-1}"
            elif j == 1:
                e = f"{cost} + d{i-1}1"
            else:
                e = f"{cost} + least(d{i-1}{j}, d{i}{j-1}, d{i-1}{j-1})"
            name = f"s{i}{j}"
            ctes.append(f"{name} AS (SELECT *, {e} AS d{i}{j} FROM {prev})")
            prev = name
    base_cost = " + ".join(f"abs(a{k} - b{k})" for k in range(1, 8))
    return f"""
    WITH dow AS (
        SELECT dayofweek(CAST(o.o_orderdate AS DATE)) + 1 AS dw,
               c.c_nationkey AS nat,
               {cents_sql('o.o_totalprice')} AS v
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_nationkey IN (0, 1)
    ),
    base AS (
        SELECT
            {", ".join(f"sum(CASE WHEN nat = 0 AND dw = {k} THEN v ELSE 0 END)::BIGINT AS a{k}" for k in range(1, 8))},
            {", ".join(f"sum(CASE WHEN nat = 1 AND dw = {k} THEN v ELSE 0 END)::BIGINT AS b{k}" for k in range(1, 8))}
        FROM dow
    ),
    {", ".join(ctes)}
    SELECT d77 AS dtw_c, ({base_cost}) AS lockstep_c,
           round(d77 * 1.0 / ({base_cost}), 6) AS ratio_r
    FROM {prev}
"""


_DTW_SQL = _dtw_sql()


@register("dtw_weekly_profiles", oracle=_DTW_SQL)
def dtw_weekly_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dynamic time warping (Sakoe-Chiba 1978, full 7×7 grid)
    between nation 0's and nation 1's day-of-week revenue profiles: the
    minimal cumulative |aᵢ−bⱼ| alignment cost allowing local time
    shifts — vs the lockstep (Manhattan) baseline Σ|aₖ−bₖ|. DTW ≤
    lockstep always; a ratio well under 1 means the two nations share
    the same weekly shape on shifted days. The DP recurrence is
    SEQUENTIAL, so it is unrolled cell-by-cell over the FIXED 7×7 grid
    (49 integer expressions — both engines evaluate the identical
    chain; a general-length DTW would be a Pandas-UDF op instead).

    Exactness: per-cell costs and the running minima are exact longs;
    the only double is the final ratio.

    Scale shape: one fact join + ONE conditional-sum aggregate to a
    single 14-column row; the DP is scalar arithmetic on that row.
    DOW convention: Spark dayofweek is 1-based, DuckDB 0-based —
    aligned in the oracle (the holiday_lift discipline)."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    dow = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .filter(F.col("c_nationkey").isin(0, 1))
        .select(
            F.dayofweek(F.to_date("o_orderdate")).alias("dw"),
            F.col("c_nationkey").alias("nat"),
            cents(F.col("o_totalprice")).alias("v"),
        )
    )
    row = dow.agg(
        *[
            F.sum(F.when((F.col("nat") == 0) & (F.col("dw") == k), F.col("v")).otherwise(0)).alias(f"a{k}")
            for k in range(1, 8)
        ],
        *[
            F.sum(F.when((F.col("nat") == 1) & (F.col("dw") == k), F.col("v")).otherwise(0)).alias(f"b{k}")
            for k in range(1, 8)
        ],
    )
    for i in range(1, 8):
        for j in range(1, 8):
            cost = F.abs(F.col(f"a{i}") - F.col(f"b{j}"))
            if i == 1 and j == 1:
                e = cost
            elif i == 1:
                e = cost + F.col(f"d1{j-1}")
            elif j == 1:
                e = cost + F.col(f"d{i-1}1")
            else:
                e = cost + F.least(
                    F.col(f"d{i-1}{j}"), F.col(f"d{i}{j-1}"), F.col(f"d{i-1}{j-1}")
                )
            row = row.withColumn(f"d{i}{j}", e)
    lockstep = None
    for k in range(1, 8):
        t = F.abs(F.col(f"a{k}") - F.col(f"b{k}"))
        lockstep = t if lockstep is None else lockstep + t
    return row.select(
        F.col("d77").alias("dtw_c"),
        lockstep.alias("lockstep_c"),
        F.round(F.col("d77") * F.lit(1.0) / lockstep, 6).alias("ratio_r"),
    )


# ------------------------------------------ Hurst exponent (R/S lite)

_HURST_SCALES = [16, 32, 64, 128]
_HURST_SCALES_SQL = ", ".join(f"({s})" for s in _HURST_SCALES)

_HURST_SQL = f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST({money_sum_sql('o_totalprice')} * 100
                    AS BIGINT) AS x
        FROM orders GROUP BY 1
    ),
    idx AS (
        SELECT x, row_number() OVER (ORDER BY d) AS i FROM daily
    ),
    scales(s) AS (VALUES {_HURST_SCALES_SQL}),
    blk AS (
        SELECT sc.s, (ix.i - 1) // sc.s AS b, ix.i, ix.x
        FROM idx ix CROSS JOIN scales sc
        WHERE ix.i <= ((SELECT count(*) FROM idx) // sc.s) * sc.s
    ),
    bs AS (
        SELECT s, b, sum(x)::HUGEINT AS sx, sum(x::HUGEINT * x) AS sxx,
               count(*)::BIGINT AS n
        FROM blk GROUP BY 1, 2
    ),
    z AS (
        SELECT k.s, k.b,
               k.s * sum(k.x) OVER (PARTITION BY k.s, k.b ORDER BY k.i
                                    ROWS UNBOUNDED PRECEDING)
               - (row_number() OVER (PARTITION BY k.s, k.b ORDER BY k.i))
                 * t.sx AS sz
        FROM blk k JOIN bs t ON t.s = k.s AND t.b = k.b
    ),
    zr AS (
        SELECT s, b, max(sz) - min(sz) AS zrange FROM z GROUP BY 1, 2
    ),
    rs AS (
        SELECT t.s,
               avg(ln((zr.zrange::DOUBLE)
                      / sqrt((t.s * t.sxx - t.sx * t.sx)::DOUBLE))) AS mlog
        FROM zr JOIN bs t ON t.s = zr.s AND t.b = zr.b
        WHERE zr.zrange > 0
        GROUP BY 1
    ),
    fit AS (
        SELECT count(*)::BIGINT AS k,
               sum(ln(s::DOUBLE)) AS su, sum(mlog) AS sv,
               sum(ln(s::DOUBLE) * ln(s::DOUBLE)) AS suu,
               sum(ln(s::DOUBLE) * mlog) AS suv
        FROM rs
    )
    SELECT r.s, round(r.mlog, 6) AS mean_ln_rs_r,
           round((f.k * f.suv - f.su * f.sv)
                 / (f.k * f.suu - f.su * f.su), 6) AS hurst_r
    FROM rs r CROSS JOIN fit f
"""


@register("hurst_rs_lite", oracle=_HURST_SQL)
def hurst_rs_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent by rescaled-range analysis (Hurst 1951; Mandelbrot-
    Wallis): per scale s ∈ {16,32,64,128} the daily-revenue series splits
    into blocks of s days; each block's R/S = (max−min of the cumulative
    deviation walk) / (block σ), and H is the log-log slope of the mean
    ln(R/S) against ln(s) — H≈0.5 is memoryless, H>0.5 long-range
    persistent, the capacity-planning diagnostic for whether demand
    excursions cluster.

    Exactness: the deviation walk is kept INTEGER by s-scaling
    (s·Z_k = s·Σxₖ − k·S_block), the block range and the variance
    radicand (s·Σx² − S²) are exact HUGEINT/DECIMAL(38,0), so each
    block's ln(R/S) is ln of a ratio of one exact integer to one sqrt of
    an exact integer — identical trees; the per-scale means and the
    4-point slope are small-panel double sums (the anova discipline).

    Scale shape: one fact pass to the calendar-bounded daily spine; the
    ×4 scale explode and the per-(scale, block) walks are keyed windows
    over that bounded spine; everything after lives on a ≤(4×blocks)
    panel."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        (money_sum(F.col("o_totalprice")) * 100)
        .cast("long")
        .alias("x")
    )
    daily = cut(daily, "hurst_rs_lite.daily")  # count probe + spine share
    n_days = daily.count()
    w = Window.orderBy("d")
    # cut ABOVE the spine row_number: blk feeds three consumers and would
    # otherwise re-plan the daily window per branch
    idx = cut(daily.select("x", F.row_number().over(w).alias("i")), "hurst_rs_lite.idx")
    scales = const_df(spark, [(s,) for s in _HURST_SCALES], "s INT")
    blk = (
        idx.crossJoin(F.broadcast(scales))
        .filter(F.col("i") <= F.expr(f"({n_days} DIV s) * s"))
        .select("s", F.expr("(i - 1) DIV s").alias("b"), "i", "x")
    )
    d38 = "decimal(38,0)"
    bs = blk.groupBy("s", "b").agg(
        F.sum(F.col("x").cast(d38)).alias("sx"),
        F.sum(F.col("x").cast(d38) * F.col("x")).alias("sxx"),
    )
    wk = (
        Window.partitionBy("s", "b")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wr = Window.partitionBy("s", "b").orderBy("i")
    z = blk.join(bs, ["s", "b"]).select(
        "s",
        "b",
        (
            F.col("s").cast(d38) * F.sum(F.col("x").cast(d38)).over(wk)
            - F.row_number().over(wr).cast(d38) * F.col("sx")
        ).alias("sz"),
    )
    zr = z.groupBy("s", "b").agg((F.max("sz") - F.min("sz")).alias("zrange"))
    rs = (
        zr.join(bs, ["s", "b"])
        .filter(F.col("zrange") > 0)
        .groupBy("s")
        .agg(
            F.avg(
                F.log(
                    F.col("zrange").cast("double")
                    / F.sqrt(
                        (
                            F.col("s").cast(d38) * F.col("sxx")
                            - F.col("sx") * F.col("sx")
                        ).cast("double")
                    )
                )
            ).alias("mlog")
        )
    )
    lu = F.log(F.col("s").cast("double"))
    fit = rs.agg(
        F.count("*").alias("k"),
        F.sum(lu).alias("su"),
        F.sum("mlog").alias("sv"),
        F.sum(lu * lu).alias("suu"),
        F.sum(lu * F.col("mlog")).alias("suv"),
    )
    return rs.crossJoin(F.broadcast(fit)).select(
        "s",
        F.round("mlog", 6).alias("mean_ln_rs_r"),
        F.round(
            (F.col("k") * F.col("suv") - F.col("su") * F.col("sv"))
            / (F.col("k") * F.col("suu") - F.col("su") * F.col("su")),
            6,
        ).alias("hurst_r"),
    )


# ------------------------------------------------------------------ round 8

_PGRAM_K = 8  # bounded frequency grid: periods N/1 .. N/8

_PGRAM_SQL = f"""
    WITH d AS ({_daily_sql()}),
    idx AS (
        SELECT rev, row_number() OVER (ORDER BY day) - 1 AS t,
               count(*) OVER () AS n, avg(rev) OVER () AS mu
        FROM d
    ),
    ks AS (
        {" UNION ALL ".join(f"SELECT {k} AS k" for k in range(1, _PGRAM_K + 1))}
    ),
    terms AS (
        SELECT ks.k,
               sum((rev - mu) * cos(2 * pi() * ks.k * t / n)) AS c,
               sum((rev - mu) * sin(2 * pi() * ks.k * t / n)) AS s,
               sum((rev - mu) * (rev - mu)) AS ss
        FROM idx CROSS JOIN ks
        GROUP BY ks.k
    )
    SELECT k, round((c * c + s * s) / ss, 6) AS norm_power
    FROM terms
"""


@register("periodogram_peaks", oracle=_PGRAM_SQL)
def periodogram_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-Fourier periodogram of the demeaned daily-revenue series at
    a bounded frequency grid (k = 1..8 cycles over the observed span):
    I(k) = [(Σ x̃_t cos(2πkt/N))² + (Σ x̃_t sin(2πkt/N))²] / Σ x̃_t² —
    the classical spectral screen for hidden periodicity (Schuster 1898)
    complementing the lag-domain ``acf_lags``.

    Scale shape: fact → day spine (one shuffle, calendar-bounded), then the
    k-grid is a broadcast 8-row spine crossed onto the spine rows — each
    frequency's cos/sin sums are ONE map-side partial aggregation; no
    all-pairs, no per-row Python. The three partitionless windows (t-index,
    N, mean) run on the bounded day spine. Power is reported NORMALIZED by
    the series' sum of squared deviations (ADVICE r8: raw (sum x*cos)^2/N
    grows with SF^2, so absolute ULP noise eventually swamps any fixed
    rounding margin; the normalized ratio is scale-free — cross-engine
    divergence stays relative ~1e-13 — so 6-decimal rounding holds at
    every SF)."""
    d = _daily_revenue(spark, sf_dir)
    w = Window.orderBy("day")
    idx = d.select(
        "rev",
        (F.row_number().over(w) - 1).alias("t"),
        F.count("*").over(Window.partitionBy()).alias("n"),
        F.avg("rev").over(Window.partitionBy()).alias("mu"),
    )
    ks = spark.range(1, _PGRAM_K + 1).select(F.col("id").alias("k"))
    ang = 2 * F.lit(math.pi) * F.col("k") * F.col("t") / F.col("n")
    terms = (
        idx.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.sum((F.col("rev") - F.col("mu")) * F.cos(ang)).alias("c"),
            F.sum((F.col("rev") - F.col("mu")) * F.sin(ang)).alias("s"),
            F.sum(
                (F.col("rev") - F.col("mu")) * (F.col("rev") - F.col("mu"))
            ).alias("ss"),
        )
    )
    return terms.select(
        "k",
        F.round(
            (F.col("c") * F.col("c") + F.col("s") * F.col("s")) / F.col("ss"), 6
        ).alias("norm_power"),
    )


_BOLLINGER_SQL = f"""
    WITH d AS ({_daily_sql()}),
    c AS (
        SELECT day, rev,
               CAST(CAST(rev AS DECIMAL(18,2)) * 100 AS HUGEINT) AS cents
        FROM d
    ),
    b AS (
        SELECT day, rev,
               sum(cents) OVER w AS s1c,
               sum(cents * cents) OVER w AS s2c,
               count(*) OVER w AS nw
        FROM c
        WINDOW w AS (ORDER BY day ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ),
    m AS (
        SELECT day, rev,
               -- mean at cents precision via INTEGER half-up division:
               -- s1/20 lands exactly on half-cents, where double round()
               -- diverges between engines
               ((s1c + 10) // 20)::DOUBLE / 100 AS ma20,
               s1c::DOUBLE / 100 / 20 AS ma,
               sqrt((s2c::DOUBLE / 10000
                     - (s1c::DOUBLE / 100) * (s1c::DOUBLE / 100) / 20) / 19)
                   AS sd
        FROM b WHERE nw = 20
    )
    SELECT day, rev,
           ma20,
           round(ma + 2 * sd, 2) AS upper_band,
           round(ma - 2 * sd, 2) AS lower_band,
           CASE WHEN rev > ma + 2 * sd THEN 'above'
                WHEN rev < ma - 2 * sd THEN 'below'
                ELSE 'inside' END AS band_pos
    FROM m
"""


@register("bollinger_bands", oracle=_BOLLINGER_SQL)
def bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands (Bollinger 1992) on daily revenue: 20-day trailing
    moving average ± 2 trailing sample standard deviations, each day
    classified above/inside/below. Days without a full 20-day window are
    excluded (both engines agree exactly instead of differing on partial-
    window stddev).

    Scale shape: fact → day spine, then ONE partitionless sliding window
    over the calendar-bounded spine (the documented bounded-spine
    exception); per-SKU banding would partition by key and scale with
    cardinality. Float discipline: daily revenue quantizes to integer
    CENTS, and the window accumulates Σc and Σc² as 128-bit integers
    (exact, order-independent — plain 64-bit Σc² overflows past ~1e9-cent
    days × 20); mean/stddev derive from those two exact scalars in double,
    so both engines compute identical values (a float stddev_samp window
    differs in the last cent between engines)."""
    d = _daily_revenue(spark, sf_dir)
    w = Window.orderBy("day").rowsBetween(-19, 0)
    cents = (F.col("rev").cast("decimal(18,2)") * 100).cast("decimal(38,0)")
    agg = d.select(
        "day",
        "rev",
        F.sum(cents).over(w).alias("s1c"),
        F.sum(cents * cents).over(w).alias("s2c"),
        F.count("*").over(w).alias("nw"),
    ).filter(F.col("nw") == 20)
    s1d = F.col("s1c").cast("double") / 100
    s2d = F.col("s2c").cast("double") / 10000
    half_up = F.col("s1c") + 10
    b = agg.select(
        "day",
        "rev",
        ((half_up - half_up % 20) / 20).cast("long").alias("ma_c"),
        (s1d / 20).alias("ma"),
        F.sqrt((s2d - s1d * s1d / 20) / 19).alias("sd"),
    )
    return b.select(
        "day",
        "rev",
        (F.col("ma_c").cast("double") / 100).alias("ma20"),
        F.round(F.col("ma") + 2 * F.col("sd"), 2).alias("upper_band"),
        F.round(F.col("ma") - 2 * F.col("sd"), 2).alias("lower_band"),
        F.when(F.col("rev") > F.col("ma") + 2 * F.col("sd"), "above")
        .when(F.col("rev") < F.col("ma") - 2 * F.col("sd"), "below")
        .otherwise("inside")
        .alias("band_pos"),
    )


# Newey-West (1987) HAC long-run variance of daily revenue, Bartlett
# kernel, lag 3. Everything up to the final division is exact 128-bit
# integer arithmetic on cents: with S = Σc and n days, the lag-k
# autocovariance scaled by n³ is Γ_k = Σ_t (n·c_t − S)(n·c_{t+k} − S),
# and lrv·4n³·10⁴ = (4Γ0 + 2Σ_{k=1..3}(4−k)Γ_k)·… — both engines divide
# the same exact integers once.
_NW_SQL = f"""
    WITH d AS ({_daily_sql()}),
    c AS (
        SELECT day, CAST(CAST(rev AS DECIMAL(18,2)) * 100 AS HUGEINT) AS c
        FROM d
    ),
    l AS (
        SELECT c,
               lead(c, 1) OVER (ORDER BY day) AS c1,
               lead(c, 2) OVER (ORDER BY day) AS c2,
               lead(c, 3) OVER (ORDER BY day) AS c3,
               sum(c) OVER () AS s, count(*) OVER () AS n
        FROM c
    ),
    g AS (
        SELECT max(n) AS n,
               sum((n*c - s) * (n*c - s)) AS g0,
               sum(CASE WHEN c1 IS NOT NULL
                        THEN (n*c - s) * (n*c1 - s) END) AS g1,
               sum(CASE WHEN c2 IS NOT NULL
                        THEN (n*c - s) * (n*c2 - s) END) AS g2,
               sum(CASE WHEN c3 IS NOT NULL
                        THEN (n*c - s) * (n*c3 - s) END) AS g3
        FROM l
    )
    SELECT n::BIGINT AS n_days,
           round(CAST(g0 AS DOUBLE)
                 / (CAST(n AS DOUBLE)**3) / 10000, 2) AS var0_r,
           round(CAST(4*g0 + 2*(3*g1 + 2*g2 + 1*g3) AS DOUBLE)
                 / (4 * CAST(n AS DOUBLE)**3) / 10000, 2) AS lrv_r,
           round(sqrt(CAST(4*g0 + 2*(3*g1 + 2*g2 + 1*g3) AS DOUBLE)
                      / (4 * CAST(n AS DOUBLE)**3) / 10000
                      / CAST(n AS DOUBLE)), 4) AS se_mean_r
    FROM g
"""


@register("newey_west_variance", oracle=_NW_SQL)
def newey_west_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newey-West HAC long-run variance of the daily revenue series
    (Bartlett kernel, 3 lags): the autocorrelation-robust standard error
    for the series mean that the iid variance (``var0_r``) understates
    when days are serially correlated — the inference companion to
    ``acf_lags``.

    Exactness: lag products are 128-bit integer arithmetic on cents (the
    n-scaled demeaning trick n·c_t − S avoids the rational mean), summed
    exactly; the Bartlett weights (1 − k/4) enter as integer multiples of
    4Γ_k; both engines perform identical final divisions. The four
    partitionless windows run on the calendar-bounded day spine."""
    d = _daily_revenue(spark, sf_dir)
    w = Window.orderBy("day")
    wall = Window.partitionBy()
    c = d.select(
        "day",
        (F.col("rev").cast("decimal(18,2)") * 100).cast("decimal(38,0)").alias("c"),
    )
    lagd = c.select(
        "c",
        F.lead("c", 1).over(w).alias("c1"),
        F.lead("c", 2).over(w).alias("c2"),
        F.lead("c", 3).over(w).alias("c3"),
        F.sum("c").over(wall).alias("s"),
        F.count("*").over(wall).alias("n"),
    )
    n, s = F.col("n"), F.col("s")
    dev = n * F.col("c") - s

    def gk(col: str):
        return F.sum(
            F.when(F.col(col).isNotNull(), dev * (n * F.col(col) - s))
        )

    g = lagd.agg(
        F.max("n").alias("n"),
        F.sum(dev * dev).alias("g0"),
        gk("c1").alias("g1"),
        gk("c2").alias("g2"),
        gk("c3").alias("g3"),
    )
    nd = F.col("n").cast("double")
    lrv_num = (
        4 * F.col("g0") + 2 * (3 * F.col("g1") + 2 * F.col("g2") + F.col("g3"))
    ).cast("double")
    return g.select(
        F.col("n").cast("long").alias("n_days"),
        F.round(F.col("g0").cast("double") / F.pow(nd, 3) / 10000, 2).alias("var0_r"),
        F.round(lrv_num / (4 * F.pow(nd, 3)) / 10000, 2).alias("lrv_r"),
        F.round(F.sqrt(lrv_num / (4 * F.pow(nd, 3)) / 10000 / nd), 4).alias(
            "se_mean_r"
        ),
    )


# Generalized-ESD-style outlier screen (Rosner 1983, statistic side): 3
# unrolled rounds, each reporting the most extreme studentized day of the
# REMAINING series and removing it. Because the round's denominator is a
# constant, the argmax reduces to an exact integer argmax of |n·c − S|
# (ties → earliest day) — the float residual is computed only for the
# report.
_ESD_SQL = f"""
    WITH d AS ({_daily_sql()}),
    c0 AS (
        SELECT day, CAST(CAST(rev AS DECIMAL(18,2)) * 100 AS HUGEINT) AS c
        FROM d
    )
    {{rounds}}
    SELECT * FROM ({{union}})
"""


def _esd_round_sql(i: int) -> str:
    prev = "c0" if i == 1 else f"c{i - 1}"
    return f"""
    s{i} AS (
        SELECT count(*) AS n, sum(c) AS s, sum(c * c) AS q FROM {prev}
    ),
    r{i} AS (
        SELECT p.day, p.c, t.n, t.s, t.q,
               abs(t.n * p.c - t.s) AS num
        FROM {prev} p CROSS JOIN s{i} t
    ),
    w{i} AS (
        SELECT day, c, n,
               CAST(num AS DOUBLE)
               / (CAST(n AS DOUBLE)
                  * sqrt(CAST(n*q - s*s AS DOUBLE)
                         / (CAST(n AS DOUBLE) * (n - 1)))) AS resid
        FROM r{i} ORDER BY num DESC, day ASC LIMIT 1
    ),
    c{i} AS (
        SELECT p.day, p.c FROM {prev} p
        WHERE p.day NOT IN (SELECT day FROM w{i})
    )"""


_ESD_SQL = _ESD_SQL.format(
    rounds="," + ",".join(_esd_round_sql(i).strip().rstrip(",") for i in (1, 2, 3)),
    union=" UNION ALL ".join(
        f"SELECT {i}::BIGINT AS round_i, day, n::BIGINT AS n_remaining, "
        f"round(resid, 6) AS resid_r FROM w{i}"
        for i in (1, 2, 3)
    ),
)


@register("esd_outlier_stats", oracle=_ESD_SQL)
def esd_outlier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized-ESD outlier screen on daily revenue (Rosner 1983): 3
    unrolled remove-the-extreme rounds, each reporting the remaining
    series' most studentized day — the multi-outlier-robust alternative to
    one-shot ``mad_outliers``/z-scores, which masked secondary outliers
    inflate.

    Exactness: each round's argmax is the exact integer argmax of
    |n·c − S| (the denominator is round-constant), ties to the earliest
    day; the reported residual divides exact integers once.

    Scale shape: the fact collapses to the calendar-bounded day spine
    once (~2.4k days per 7 years at any scale), coalesced to one
    partition; the rounds are ONE chain over that spine that carries the
    round a day was removed in as a column. Each round takes n/S/Q as
    conditional partitionless window aggregates over the days still in
    the series (3 specs) and picks its argmax with a partitionless
    ``row_number`` (1 spec) — 12 specs over the spine in all, no union of
    per-round branches, no exchange after the fact shuffle."""
    whole = Window.partitionBy()
    cur = (
        _daily_revenue(spark, sf_dir)
        .coalesce(1)
        .select(
            "day",
            (F.col("rev").cast("decimal(18,2)") * 100)
            .cast("decimal(38,0)")
            .alias("c"),
            F.lit(None).cast("long").alias("round_i"),
            F.lit(None).cast("long").alias("n_remaining"),
            F.lit(None).cast("double").alias("resid"),
        )
    )
    alive = F.col("round_i").isNull()
    c, n, s, q = F.col("c"), F.col("n"), F.col("s"), F.col("q")
    for i in (1, 2, 3):
        stats = cur.select(
            "*",
            F.count(F.when(alive, 1)).over(whole).alias("n"),
            F.sum(F.when(alive, c)).over(whole).alias("s"),
            F.sum(F.when(alive, c * c)).over(whole).alias("q"),
        )
        num = F.when(alive, F.abs(n * c - s))
        scored = stats.select(
            "*",
            num.alias("num"),
            (
                num.cast("double")
                / (
                    n.cast("double")
                    * F.sqrt(
                        (n * q - s * s).cast("double")
                        / (n.cast("double") * (n - 1).cast("double"))
                    )
                )
            ).alias("resid_i"),
        )
        argmax = Window.orderBy(alive.desc(), F.col("num").desc(), F.col("day").asc())
        cur = scored.withColumn("pick", F.row_number().over(argmax) == 1).select(
            "day",
            "c",
            *(
                F.when(F.col("pick"), new).otherwise(F.col(old)).alias(old)
                for old, new in (
                    ("round_i", F.lit(i).cast("long")),
                    ("n_remaining", n),
                    ("resid", F.col("resid_i")),
                )
            ),
        )
    return cur.filter(~alive).select(
        "round_i", "day", "n_remaining", F.round("resid", 6).alias("resid_r")
    )


# Trend/seasonal strength (Wang, Smith & Hyndman 2006; FPP3 §4.5) on the
# classical decomposition: F_T = max(0, 1 − Var(R)/Var(T+R)),
# F_S = max(0, 1 − Var(R)/Var(S+R)), restricted to days with a full trend
# window. Components are exact cents after the decomposition's round(…,2),
# so the variances reduce to 128-bit integer n·Σx² − (Σx)² — identical
# across engines up to the two final divisions.
_SEASONAL_STRENGTH_SQL = f"""
    WITH dec AS ({_DECOMP_SQL.strip()}),
    cents AS (
        SELECT CAST(CAST(round(rev - trend_r - seasonal_r, 2)
                         AS DECIMAL(18,2)) * 100 AS HUGEINT) AS r,
               CAST(CAST(round(rev - seasonal_r, 2)
                         AS DECIMAL(18,2)) * 100 AS HUGEINT) AS tr,
               CAST(CAST(round(rev - trend_r, 2)
                         AS DECIMAL(18,2)) * 100 AS HUGEINT) AS sr
        FROM dec WHERE trend_r IS NOT NULL
    ),
    v AS (
        SELECT count(*) AS n,
               sum(r) AS s_r,   sum(r * r) AS q_r,
               sum(tr) AS s_tr, sum(tr * tr) AS q_tr,
               sum(sr) AS s_sr, sum(sr * sr) AS q_sr
        FROM cents
    )
    SELECT n::BIGINT AS n_days_used,
           round(greatest(0, 1 - CAST(n * q_r - s_r * s_r AS DOUBLE)
                                 / CAST(n * q_tr - s_tr * s_tr AS DOUBLE)),
                 6) AS f_trend_r,
           round(greatest(0, 1 - CAST(n * q_r - s_r * s_r AS DOUBLE)
                                 / CAST(n * q_sr - s_sr * s_sr AS DOUBLE)),
                 6) AS f_seasonal_r
    FROM v
"""


@register("seasonal_strength", oracle=_SEASONAL_STRENGTH_SQL)
def seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend and seasonal strength of daily revenue (Wang, Smith &
    Hyndman 2006): F_T = max(0, 1 − Var(R)/Var(T+R)) and
    F_S = max(0, 1 − Var(R)/Var(S+R)) over ``ts_decomposition``'s
    components — the scalar summaries that rank thousands of series by
    how trended/seasonal they are before a human looks at any of them.

    Exactness: component values are exact cents (the decomposition rounds
    every pass at 2), so each variance is 128-bit integer n·Σx² − (Σx)²;
    the two ratios are the only float ops. One windowed pass over the
    calendar-bounded day spine + a single 1-row aggregate."""
    d = _daily_revenue(spark, sf_dir)
    w = Window.orderBy("day").rowsBetween(-3, 3)
    t = d.select(
        "day",
        "rev",
        F.when(
            F.count("rev").over(w) == 7, F.round(F.avg("rev").over(w), 2)
        ).alias("trend_r"),
    )
    ws = Window.partitionBy(F.dayofweek("day"))
    s = t.select(
        "day",
        "rev",
        "trend_r",
        F.round(
            F.avg(
                F.when(
                    F.col("trend_r").isNotNull(),
                    F.col("rev") - F.col("trend_r"),
                )
            ).over(ws),
            2,
        ).alias("seasonal_r"),
    ).filter(F.col("trend_r").isNotNull())

    def cent(expr):
        return (
            (F.round(expr, 2).cast("decimal(18,2)") * 100).cast("decimal(38,0)")
        )

    cents = s.select(
        cent(F.col("rev") - F.col("trend_r") - F.col("seasonal_r")).alias("r"),
        cent(F.col("rev") - F.col("seasonal_r")).alias("tr"),
        cent(F.col("rev") - F.col("trend_r")).alias("sr"),
    )
    v = cents.agg(
        F.count("*").alias("n"),
        F.sum("r").alias("s_r"),
        F.sum(F.col("r") * F.col("r")).alias("q_r"),
        F.sum("tr").alias("s_tr"),
        F.sum(F.col("tr") * F.col("tr")).alias("q_tr"),
        F.sum("sr").alias("s_sr"),
        F.sum(F.col("sr") * F.col("sr")).alias("q_sr"),
    )
    n = F.col("n")
    var_r = (n * F.col("q_r") - F.col("s_r") * F.col("s_r")).cast("double")
    var_tr = (n * F.col("q_tr") - F.col("s_tr") * F.col("s_tr")).cast("double")
    var_sr = (n * F.col("q_sr") - F.col("s_sr") * F.col("s_sr")).cast("double")
    return v.select(
        n.cast("long").alias("n_days_used"),
        F.round(F.greatest(F.lit(0.0), 1 - var_r / var_tr), 6).alias("f_trend_r"),
        F.round(F.greatest(F.lit(0.0), 1 - var_r / var_sr), 6).alias("f_seasonal_r"),
    )


# ------------------------------------------------------------------ round 9

# Gumbel block-maxima fit: monthly maxima of daily revenue in exact cents,
# method-of-moments Gumbel parameters, and 1/5/10-year return levels.
_EULER_GAMMA = 0.57721566490153286
_GUMBEL_SQL = f"""
    WITH d AS ({_daily_sql()}),
    blocks AS (
        SELECT date_trunc('month', day) AS mon,
               max(CAST(CAST(rev AS DECIMAL(18,2)) * 100 AS HUGEINT)) AS mx_c
        FROM d GROUP BY 1
    ),
    mom AS (
        SELECT count(*)::BIGINT AS n_blocks,
               sum(mx_c) AS s1, sum(mx_c * mx_c) AS s2
        FROM blocks
    ),
    fit AS (
        SELECT n_blocks,
               s1::DOUBLE / n_blocks / 100 AS m,
               sqrt((s2::DOUBLE / 10000
                     - (s1::DOUBLE / 100) * (s1::DOUBLE / 100) / n_blocks)
                    / (n_blocks - 1)) AS sd
        FROM mom
    )
    SELECT n_blocks,
           round(m - {_EULER_GAMMA} * (sd * sqrt(6) / pi()), 4) AS mu_r,
           round(sd * sqrt(6) / pi(), 4) AS beta_r,
           round((m - {_EULER_GAMMA} * (sd * sqrt(6) / pi()))
                 - (sd * sqrt(6) / pi()) * ln(-ln(1 - 1.0/12)), 4) AS rl_1y_r,
           round((m - {_EULER_GAMMA} * (sd * sqrt(6) / pi()))
                 - (sd * sqrt(6) / pi()) * ln(-ln(1 - 1.0/60)), 4) AS rl_5y_r,
           round((m - {_EULER_GAMMA} * (sd * sqrt(6) / pi()))
                 - (sd * sqrt(6) / pi()) * ln(-ln(1 - 1.0/120)), 4) AS rl_10y_r
    FROM fit
"""


@register("gumbel_block_maxima", oracle=_GUMBEL_SQL)
def gumbel_block_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme-value analysis via the Gumbel block-maxima method (Gumbel
    1958; the Fisher–Tippett type-I limit for light-tailed block maxima):
    monthly maxima of daily revenue, method-of-moments fit (β̂ = s·√6/π,
    μ̂ = x̄ − γβ̂), and the 1/5/10-year return levels
    x_T = μ̂ − β̂·ln(−ln(1−1/T)) — the capacity-planning complement to
    ``hill_tail_index`` (which estimates the tail exponent, not return
    levels) and ``max_drawdown_daily``.

    Exactness: block maxima are exact cents (max of exact values); the
    two moments come from exact HUGEINT/DECIMAL(38) Σ and Σ²; every
    double expression after that is computed from identical integers by
    the identical formula in both engines, then rounded to 4.

    Scale shape: fact → day spine (one shuffle) → ≤84-month block spine
    (second keyed aggregate) → 1-row moments; nothing downstream of the
    first aggregate scales with fact rows."""
    d = _daily_revenue(spark, sf_dir)
    blocks = (
        d.groupBy(F.date_trunc("month", F.col("day")).alias("mon"))
        .agg(
            F.max(
                (F.col("rev").cast("decimal(18,2)") * 100).cast("decimal(38,0)")
            ).alias("mx_c")
        )
    )
    mom = blocks.agg(
        F.count("*").cast("long").alias("n_blocks"),
        F.sum("mx_c").alias("s1"),
        F.sum(F.col("mx_c") * F.col("mx_c")).alias("s2"),
    )
    m = F.col("s1").cast("double") / F.col("n_blocks") / 100
    sd = F.sqrt(
        (
            F.col("s2").cast("double") / 10000
            - (F.col("s1").cast("double") / 100)
            * (F.col("s1").cast("double") / 100)
            / F.col("n_blocks")
        )
        / (F.col("n_blocks") - 1)
    )
    beta = sd * F.sqrt(F.lit(6.0)) / F.lit(math.pi)
    mu = m - F.lit(_EULER_GAMMA) * beta
    def _rl(t: int):
        return mu - beta * F.log(-F.log(F.lit(1.0) - F.lit(1.0) / t))
    return mom.select(
        "n_blocks",
        F.round(mu, 4).alias("mu_r"),
        F.round(beta, 4).alias("beta_r"),
        F.round(_rl(12), 4).alias("rl_1y_r"),
        F.round(_rl(60), 4).alias("rl_5y_r"),
        F.round(_rl(120), 4).alias("rl_10y_r"),
    )


# Page–Hinkley sequential drift detector on the normalized daily series.
_PH_DELTA = 0.005   # drift allowance (in units of the series mean)
_PH_LAMBDA = 2.0    # alarm threshold

_PH_SQL = f"""
    WITH d AS ({_daily_sql()}),
    c AS (
        SELECT day, CAST(CAST(rev AS DECIMAL(18,2)) * 100 AS HUGEINT) AS cents
        FROM d
    ),
    u AS (
        SELECT day,
               round(cents::DOUBLE / (sum(cents) OVER ()::DOUBLE
                                      / count(*) OVER ()), 8)::DECIMAL(38,8)
                   AS uq
        FROM c
    ),
    pre AS (
        SELECT day, uq,
               sum(uq) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS su,
               row_number() OVER (ORDER BY day) AS i
        FROM u
    ),
    terms AS (
        SELECT day,
               round(uq::DOUBLE - su::DOUBLE / i - {_PH_DELTA}, 8)
                   ::DECIMAL(38,8) AS term
        FROM pre
    ),
    m AS (
        SELECT day,
               sum(term) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS mt
        FROM terms
    ),
    ph AS (
        SELECT day,
               mt - min(mt) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                                  PRECEDING AND CURRENT ROW) AS pht
        FROM m
    )
    SELECT count(*)::BIGINT AS n_days,
           round(max(pht)::DOUBLE, 6) AS max_ph_r,
           min(CASE WHEN pht > {_PH_LAMBDA} THEN day END) AS first_alarm_day,
           sum(CASE WHEN pht > {_PH_LAMBDA} THEN 1 ELSE 0 END)::BIGINT
               AS n_alarm_days
    FROM ph
"""


@register("page_hinkley_drift", oracle=_PH_SQL)
def page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page–Hinkley sequential drift detector (Page 1954; Hinkley 1971) on
    the mean-normalized daily-revenue series: m_t = Σ_{{i≤t}}(u_i − ū_i − δ),
    PH_t = m_t − min_{{s≤t}} m_s, alarm when PH_t > λ. The SEQUENTIAL
    companion of the batch changepoint tests (``cusum_changepoint`` locates
    one retrospective break; ``error_rate_changepoint``/``psi_drift`` watch
    rates) — PH is the classic streaming-monitor statistic with O(1) state,
    the shape a ``foreachBatch`` monitor would checkpoint.

    Exactness: the series is normalized by its global mean (identical
    double from identical exact cents), each term is quantized to
    DECIMAL(38,8) BEFORE the prefix sums — both engines' window-sum trees
    (sequential vs segment-tree) give the same exact decimal total, the
    ULP hazard a raw double cumsum would carry. Running min on exact
    decimals; the alarm comparison is exact.

    Scale shape: the prefix windows run on the calendar-bounded day spine
    (one fact shuffle upstream), not fact rows — the documented
    bounded-spine exception; a production stream replaces the spine scan
    with incremental state."""
    d = _daily_revenue(spark, sf_dir)
    c = d.select(
        "day",
        (F.col("rev").cast("decimal(18,2)") * 100).cast("decimal(38,0)").alias("cents"),
    )
    wall = Window.partitionBy()
    u = c.select(
        "day",
        F.round(
            F.col("cents").cast("double")
            / (
                F.sum("cents").over(wall).cast("double")
                / F.count("*").over(wall)
            ),
            8,
        )
        .cast("decimal(38,8)")
        .alias("uq"),
    )
    wseq = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wrow = Window.orderBy("day")
    pre = u.select(
        "day",
        "uq",
        F.sum("uq").over(wseq).alias("su"),
        F.row_number().over(wrow).alias("i"),
    )
    terms = pre.select(
        "day",
        F.round(
            F.col("uq").cast("double")
            - F.col("su").cast("double") / F.col("i")
            - F.lit(_PH_DELTA),
            8,
        )
        .cast("decimal(38,8)")
        .alias("term"),
    )
    m = terms.select("day", F.sum("term").over(wseq).alias("mt"))
    ph = m.select("day", (F.col("mt") - F.min("mt").over(wseq)).alias("pht"))
    alarm = F.col("pht") > _PH_LAMBDA
    return ph.agg(
        F.count("*").cast("long").alias("n_days"),
        F.round(F.max("pht").cast("double"), 6).alias("max_ph_r"),
        F.min(F.when(alarm, F.col("day"))).alias("first_alarm_day"),
        F.sum(F.when(alarm, 1).otherwise(0)).cast("long").alias("n_alarm_days"),
    )


# ----------------------------- binary-segmentation changepoints (r11)

_BINSEG_SQL = f"""
    WITH d AS ({_daily_sql()}),
    c AS (
        SELECT day, CAST(CAST(rev AS DECIMAL(18,2)) * 100 AS HUGEINT) AS cents
        FROM d
    ),
    m1 AS (SELECT sum(cents)::DOUBLE / count(*) AS mu, count(*)::BIGINT AS n
           FROM c),
    t1 AS (
        SELECT day,
               sum(round(cents::DOUBLE - m1.mu, 8)::DECIMAL(38,8)) OVER (
                   ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
               m1.n
        FROM c CROSS JOIN m1
    ),
    cp1 AS (
        SELECT day AS cp_day, round(abs(s)::DOUBLE, 4) AS stat, n
        FROM t1 ORDER BY round(abs(s)::DOUBLE, 4) DESC, day LIMIT 1
    ),
    seg AS (
        SELECT c.day, c.cents,
               CASE WHEN c.day <= cp1.cp_day THEN 0 ELSE 1 END AS seg_id
        FROM c CROSS JOIN cp1
    ),
    m2 AS (
        SELECT seg_id, sum(cents)::DOUBLE / count(*) AS mu,
               count(*)::BIGINT AS n
        FROM seg GROUP BY 1
    ),
    t2 AS (
        SELECT s.seg_id, s.day,
               sum(round(s.cents::DOUBLE - m2.mu, 8)::DECIMAL(38,8)) OVER (
                   PARTITION BY s.seg_id ORDER BY s.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s2,
               m2.n
        FROM seg s JOIN m2 ON m2.seg_id = s.seg_id
    ),
    cp2 AS (
        SELECT seg_id, day, stat, n FROM (
            SELECT seg_id, day, round(abs(s2)::DOUBLE, 4) AS stat, n,
                   row_number() OVER (
                       PARTITION BY seg_id
                       ORDER BY round(abs(s2)::DOUBLE, 4) DESC, day) AS rn
            FROM t2
        ) WHERE rn = 1
    )
    SELECT 1 AS level, 0::BIGINT AS seg_id, cp_day, stat AS max_abs_cusum_r,
           n AS n_days_seg
    FROM cp1
    UNION ALL
    SELECT 2 AS level, seg_id::BIGINT, day AS cp_day,
           stat AS max_abs_cusum_r, n AS n_days_seg
    FROM cp2
"""


@register("binary_segmentation_changepoints", oracle=_BINSEG_SQL)
def binary_segmentation_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-level binary segmentation (Scott & Knott / the standard
    recursive CUSUM splitting): the level-1 CUSUM argmax splits the daily
    revenue series, then each half gets its own CUSUM argmax against its
    own mean — the multi-changepoint extension of ``cusum_changepoint``
    (which locates exactly one break). Output: 3 candidate changepoints
    (1 level-1 + 2 level-2) with their peak |CUSUM| in cents.

    Exactness: daily revenue collapses to exact integer cents; each
    CUSUM term (cents − μ) is quantized to DECIMAL(38,8) BEFORE the
    ordered prefix sum (the ``page_hinkley_drift`` discipline — exact
    decimal window sums are add-order-free where a raw double cumsum is
    not); argmaxes rank the ROUNDED statistic with the day as tiebreak in
    both engines.

    Scale shape: everything after the one fact→day aggregate runs on the
    calendar-bounded day spine (the documented bounded-spine exception);
    level 2's windows are partitioned by segment. Unrolling deeper levels
    repeats the same two shuffles per level."""
    d = _daily_revenue(spark, sf_dir)
    c = d.select(
        "day",
        (F.col("rev").cast("decimal(18,2)") * 100)
        .cast("decimal(38,0)")
        .alias("cents"),
    )
    m1 = c.agg(
        (F.sum("cents").cast("double") / F.count("*")).alias("mu"),
        F.count("*").cast("long").alias("n"),
    )
    wseq = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )  # bounded day spine
    t1 = c.crossJoin(F.broadcast(m1)).select(
        "day",
        F.sum(
            F.round(F.col("cents").cast("double") - F.col("mu"), 8).cast(
                "decimal(38,8)"
            )
        )
        .over(wseq)
        .alias("s"),
        "n",
    )
    cp1 = (
        t1.select(
            F.col("day").alias("cp_day"),
            F.round(F.abs(F.col("s").cast("double")), 4).alias("stat"),
            "n",
        )
        .orderBy(F.col("stat").desc(), "cp_day")
        .limit(1)
    )
    seg = c.crossJoin(F.broadcast(cp1.select("cp_day"))).select(
        "day",
        "cents",
        F.when(F.col("day") <= F.col("cp_day"), 0).otherwise(1).alias("seg_id"),
    )
    m2 = seg.groupBy("seg_id").agg(
        (F.sum("cents").cast("double") / F.count("*")).alias("mu"),
        F.count("*").cast("long").alias("n"),
    )
    wseg = Window.partitionBy("seg_id").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    t2 = seg.join(F.broadcast(m2), "seg_id").select(
        "seg_id",
        "day",
        F.sum(
            F.round(F.col("cents").cast("double") - F.col("mu"), 8).cast(
                "decimal(38,8)"
            )
        )
        .over(wseg)
        .alias("s2"),
        "n",
    )
    wrank = Window.partitionBy("seg_id").orderBy(
        F.round(F.abs(F.col("s2").cast("double")), 4).desc(), F.col("day")
    )
    cp2 = (
        t2.withColumn("rn", F.row_number().over(wrank))
        .filter(F.col("rn") == 1)
        .select(
            "seg_id",
            F.col("day").alias("cp_day"),
            F.round(F.abs(F.col("s2").cast("double")), 4).alias("stat"),
            "n",
        )
    )
    lvl1 = cp1.select(
        F.lit(1).alias("level"),
        F.lit(0).cast("long").alias("seg_id"),
        "cp_day",
        F.col("stat").alias("max_abs_cusum_r"),
        F.col("n").alias("n_days_seg"),
    )
    lvl2 = cp2.select(
        F.lit(2).alias("level"),
        F.col("seg_id").cast("long").alias("seg_id"),
        "cp_day",
        F.col("stat").alias("max_abs_cusum_r"),
        F.col("n").alias("n_days_seg"),
    )
    return lvl1.unionAll(lvl2)


# ------------------------------------------- sample entropy (r11)

_SAMPEN_SQL = f"""
    WITH d AS ({_daily_sql()}),
    c AS (
        SELECT day, CAST(CAST(rev AS DECIMAL(18,2)) * 100 AS HUGEINT) AS x
        FROM d
    ),
    seq AS (
        SELECT row_number() OVER (ORDER BY day) AS i, x,
               lead(x) OVER (ORDER BY day) AS xn
        FROM c
    ),
    mom AS (SELECT count(*)::HUGEINT AS n, sum(x) AS sx, sum(x * x) AS sxx
            FROM c),
    rr AS (
        SELECT greatest(1, CAST(floor(0.2 * sqrt(
                   ((n * sxx - sx * sx)::DOUBLE)
                   / (n::DOUBLE * (n::DOUBLE - 1)))) AS BIGINT)) AS r
        FROM mom
    ),
    t AS (
        SELECT i, x, xn, x // rr.r AS b, rr.r AS r
        FROM seq CROSS JOIN rr WHERE xn IS NOT NULL
    ),
    fan AS (SELECT t.*, unnest([b - 1, b, b + 1]) AS key FROM t),
    pairs AS (
        SELECT a.x AS xa, bb.x AS xb, a.xn AS na, bb.xn AS nb, a.r
        FROM fan a JOIN t bb ON bb.b = a.key AND a.i < bb.i
    ),
    cnt AS (
        SELECT max(r) AS r,
               sum((abs(xa - xb) <= r)::INT)::BIGINT AS b_pairs,
               sum((abs(xa - xb) <= r AND abs(na - nb) <= r)::INT)::BIGINT
                   AS a_pairs
        FROM pairs
    )
    SELECT (SELECT count(*) FROM c)::BIGINT AS n_days,
           r::BIGINT AS r_cents, b_pairs, a_pairs,
           round(-ln(a_pairs * 1.0 / nullif(b_pairs, 0)), 6) AS sampen_r
    FROM cnt
"""


@register("sample_entropy_daily", oracle=_SAMPEN_SQL)
def sample_entropy_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample entropy SampEn(m=1, r=0.2σ) of the daily-revenue series
    (Richman & Moorman 2000): −ln(A/B) where B counts template pairs with
    |x_i−x_j| ≤ r and A the pairs whose NEXT days also match — the
    regularity/complexity statistic complementing ``hurst_rs_lite``
    (long-range dependence) and ``entropy_rate_bigram`` (symbolic): low
    SampEn = repetitive dynamics, high = irregularity.

    Exactness: the series is exact integer cents; r is an integer
    (floor(0.2·σ) from exact 128-bit moments, identical doubles); every
    match test is an integer comparison, A and B are integer counts, and
    the one float (−ln(A/B)) is a single rounded expression.

    Scale shape: the all-pairs template comparison is BUCKETED, never a
    cartesian — templates equi-join on floor(x/r) with a ±1 neighbor
    fan-out (the ``spatial_grid_radius_join`` trick in value space), so
    only bucket-adjacent pairs are ever generated; everything runs on the
    calendar-bounded day spine (the documented bounded-spine exception —
    the two partitionless specs are the spine's row index and next-day
    lead, pinned in test_plan_sweep)."""
    d = _daily_revenue(spark, sf_dir)
    c = d.select(
        "day",
        (F.col("rev").cast("decimal(18,2)") * 100)
        .cast("decimal(38,0)")
        .alias("x"),
    )
    wday = Window.orderBy("day")  # bounded day spine
    seq = c.select(
        F.row_number().over(wday).alias("i"),
        "x",
        F.lead("x").over(wday).alias("xn"),
    )
    mom = c.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
    )
    rr = mom.select(
        F.greatest(
            F.lit(1).cast("long"),
            F.floor(
                0.2
                * F.sqrt(
                    (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                    .cast("double")
                    / (
                        F.col("n").cast("double")
                        * (F.col("n").cast("double") - 1)
                    )
                )
            ).cast("long"),
        ).alias("r")
    )
    t = (
        seq.crossJoin(F.broadcast(rr))
        .filter(F.col("xn").isNotNull())
        .select(
            "i",
            "x",
            "xn",
            F.expr("CAST(x div r AS LONG)").alias("b"),
            "r",
        )
    )
    fan = t.select(
        "i", "x", "xn", "r", F.explode(F.expr("array(b - 1, b, b + 1)")).alias("key")
    )
    tb = t.select(
        F.col("i").alias("j"),
        F.col("x").alias("xb"),
        F.col("xn").alias("nb"),
        F.col("b").alias("kb"),
    )
    pairs = fan.join(tb, (F.col("kb") == F.col("key")) & (F.col("i") < F.col("j")))
    near = F.abs(F.col("x") - F.col("xb")) <= F.col("r")
    near_next = F.abs(F.col("xn") - F.col("nb")) <= F.col("r")
    cnt = pairs.agg(
        F.max("r").alias("r"),
        F.sum(near.cast("int")).cast("long").alias("b_pairs"),
        F.sum((near & near_next).cast("int")).cast("long").alias("a_pairs"),
    )
    n_days = c.agg(F.count("*").cast("long").alias("n_days"))
    return n_days.crossJoin(F.broadcast(cnt)).select(
        "n_days",
        F.col("r").cast("long").alias("r_cents"),
        "b_pairs",
        "a_pairs",
        F.round(
            -F.log(
                F.col("a_pairs")
                * 1.0
                / F.nullif(F.col("b_pairs"), F.lit(0)).cast("double")
            ),
            6,
        ).alias("sampen_r"),
    )


# ------------------------------------------ ADF unit-root test (lag 1)

_ADF_SQL = f"""
    WITH d AS ({_daily_sql()}),
    c AS (
        SELECT day, CAST(CAST(rev AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        FROM d
    ),
    lagged AS (
        SELECT x - lag(x) OVER (ORDER BY day) AS z,
               lag(x) OVER (ORDER BY day) AS u,
               lag(x) OVER (ORDER BY day)
                   - lag(x, 2) OVER (ORDER BY day) AS v
        FROM c
    ),
    m AS (
        SELECT count(*)::HUGEINT AS n,
               sum(z)::HUGEINT AS s_z, sum(u)::HUGEINT AS s_u,
               sum(v)::HUGEINT AS s_v,
               sum(z::HUGEINT * z) AS s_zz, sum(z::HUGEINT * u) AS s_zu,
               sum(z::HUGEINT * v) AS s_zv, sum(u::HUGEINT * u) AS s_uu,
               sum(u::HUGEINT * v) AS s_uv, sum(v::HUGEINT * v) AS s_vv
        FROM lagged WHERE v IS NOT NULL
    ),
    a AS (
        SELECT n::DOUBLE AS nd,
               (n * s_zz - s_z * s_z)::DOUBLE AS azz,
               (n * s_zu - s_z * s_u)::DOUBLE AS azu,
               (n * s_zv - s_z * s_v)::DOUBLE AS azv,
               (n * s_uu - s_u * s_u)::DOUBLE AS auu,
               (n * s_uv - s_u * s_v)::DOUBLE AS auv,
               (n * s_vv - s_v * s_v)::DOUBLE AS avv
        FROM m
    ),
    fit AS (
        SELECT nd,
               (azu * avv - azv * auv) / (auu * avv - auv * auv) AS rho,
               (azv * auu - azu * auv) / (auu * avv - auv * auv) AS phi,
               azz, azu, azv, auu, auv, avv
        FROM a
    ),
    stat AS (
        SELECT nd, rho, phi,
               ((azz - rho * azu - phi * azv) / nd) / (nd - 3) AS s2,
               nd * avv / (auu * avv - auv * auv) AS inv11
        FROM fit
    )
    SELECT nd::BIGINT AS n,
           round(rho, 6) AS rho_r,
           round(phi, 6) AS phi_r,
           round(rho / sqrt(s2 * inv11), 4) AS t_adf_r,
           CASE WHEN rho / sqrt(s2 * inv11) < -2.86 THEN 1 ELSE 0 END
               AS stationary_5pct
    FROM stat
"""


@register("adf_stationarity_lite", oracle=_ADF_SQL)
def adf_stationarity_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Augmented Dickey–Fuller unit-root test (lag 1, with drift) on the
    daily-revenue series: Δy_t ~ α + ρ·y_{t−1} + φ·Δy_{t−1}; the τ
    statistic on ρ against the 5% Dickey–Fuller critical value (−2.86,
    drift case, large n) decides stationarity — the formal companion to
    ``mann_kendall_theil_sen`` (monotone trend) and the precondition check
    for ``granger_f_lite``-style regressions on levels.

    Exactness: the granger/chow discipline end-to-end — integer-cent
    series, exact n-scaled centered moments in DECIMAL(38,0)/HUGEINT,
    ONE double cast per moment, then the 2×2 Cramer solve, SSR, and the
    diagonal of (XᵀX)⁻¹ computed on identical IEEE trees; τ uses
    Var(ρ̂) = s²·n·Avv/(Auu·Avv − Auv²) so no matrix inverse is ever
    materialized.

    Scale shape: one fact pass to the calendar-bounded daily spine, two
    lag windows over the spine, one map-combinable moment aggregate,
    scalar arithmetic on the 1-row panel."""
    d = _daily_revenue(spark, sf_dir)
    c = d.select(
        "day",
        (F.col("rev").cast("decimal(18,2)") * 100).cast("long").alias("x"),
    )
    wday = Window.orderBy("day")  # bounded day spine
    lagged = c.select(
        (F.col("x") - F.lag("x").over(wday)).alias("z"),
        F.lag("x").over(wday).alias("u"),
        (F.lag("x").over(wday) - F.lag("x", 2).over(wday)).alias("v"),
    ).filter(F.col("v").isNotNull())
    d38 = "decimal(38,0)"
    cc = lambda name: F.col(name).cast(d38)  # noqa: E731
    m = lagged.agg(
        F.count("*").cast(d38).alias("n"),
        F.sum(cc("z")).alias("s_z"),
        F.sum(cc("u")).alias("s_u"),
        F.sum(cc("v")).alias("s_v"),
        F.sum(cc("z") * F.col("z")).alias("s_zz"),
        F.sum(cc("z") * F.col("u")).alias("s_zu"),
        F.sum(cc("z") * F.col("v")).alias("s_zv"),
        F.sum(cc("u") * F.col("u")).alias("s_uu"),
        F.sum(cc("u") * F.col("v")).alias("s_uv"),
        F.sum(cc("v") * F.col("v")).alias("s_vv"),
    )
    a = m.select(
        F.col("n").cast("double").alias("nd"),
        *[
            (F.col("n") * F.col(f"s_{p}") - F.col(f"s_{p[0]}") * F.col(f"s_{p[1]}"))
            .cast("double")
            .alias(f"a{p}")
            for p in ("zz", "zu", "zv", "uu", "uv", "vv")
        ],
    )
    det = F.col("auu") * F.col("avv") - F.col("auv") * F.col("auv")
    rho = (F.col("azu") * F.col("avv") - F.col("azv") * F.col("auv")) / det
    phi = (F.col("azv") * F.col("auu") - F.col("azu") * F.col("auv")) / det
    fit = a.select(
        "nd",
        rho.alias("rho"),
        phi.alias("phi"),
        "azz",
        "azu",
        "azv",
        "auu",
        "auv",
        "avv",
    )
    s2 = (
        (F.col("azz") - F.col("rho") * F.col("azu") - F.col("phi") * F.col("azv"))
        / F.col("nd")
    ) / (F.col("nd") - 3)
    inv11 = (
        F.col("nd")
        * F.col("avv")
        / (F.col("auu") * F.col("avv") - F.col("auv") * F.col("auv"))
    )
    stat = fit.select(
        "nd", "rho", "phi", s2.alias("s2"), inv11.alias("inv11")
    )
    t = F.col("rho") / F.sqrt(F.col("s2") * F.col("inv11"))
    return stat.select(
        F.col("nd").cast("long").alias("n"),
        F.round("rho", 6).alias("rho_r"),
        F.round("phi", 6).alias("phi_r"),
        F.round(t, 4).alias("t_adf_r"),
        F.when(t < -2.86, 1).otherwise(0).alias("stationary_5pct"),
    )


# --------------------------------------- permutation entropy (order 3)

_PERMENT_SQL = f"""
    WITH d AS ({_daily_sql()}),
    c AS (
        SELECT day, CAST(CAST(rev AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        FROM d
    ),
    tri AS (
        SELECT x AS a,
               lead(x) OVER (ORDER BY day) AS b,
               lead(x, 2) OVER (ORDER BY day) AS c2
        FROM c
        QUALIFY b IS NOT NULL AND c2 IS NOT NULL
    ),
    pat AS (
        SELECT ((CASE WHEN b < a THEN 1 ELSE 0 END)
                + (CASE WHEN c2 < a THEN 1 ELSE 0 END)) * 100
               + ((CASE WHEN a <= b THEN 1 ELSE 0 END)
                + (CASE WHEN c2 < b THEN 1 ELSE 0 END)) * 10
               + ((CASE WHEN a <= c2 THEN 1 ELSE 0 END)
                + (CASE WHEN b <= c2 THEN 1 ELSE 0 END)) AS pattern
        FROM tri
    ),
    cells AS (
        SELECT pattern, count(*)::BIGINT AS n FROM pat GROUP BY 1
    ),
    tot AS (SELECT sum(n)::BIGINT AS n_all FROM cells),
    scored AS (
        SELECT c.pattern, c.n, t.n_all,
               -(c.n::DOUBLE / t.n_all) * ln(c.n::DOUBLE / t.n_all) AS h_term
        FROM cells c CROSS JOIN tot t
    )
    SELECT pattern, n,
           round(n::DOUBLE / n_all, 6) AS p_r,
           round((SELECT sum(h_term) FROM scored) / ln(6.0), 6)
               AS pe_norm_r
    FROM scored
    ORDER BY pattern
"""


@register("permutation_entropy_daily", oracle=_PERMENT_SQL)
def permutation_entropy_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation entropy (Bandt & Pompe 2002), order m=3: every 3-day
    window of the daily-revenue series is reduced to its ordinal pattern
    (which of the 6 orderings the triple realizes, ties broken by time
    index), and the normalized Shannon entropy of the pattern histogram
    measures dynamical complexity — 1.0 = orderings are uniform (noise),
    low = a few motifs dominate (trend/periodicity). The symbolic
    companion to ``sample_entropy_daily`` (value-distance regularity) and
    ``runs_test_randomness`` (sign patterns); robust to monotone
    transforms of the series by construction.

    Exactness: integer-cent series, so every ordinal comparison is an
    integer predicate and the pattern histogram is exact; the entropy sum
    spans ≤ 6 cells (one double term each, identical trees).

    Scale shape: two leads over the calendar-bounded day spine, a ≤ 6-key
    combinable groupBy, scalar arithmetic on the 6-row panel."""
    d = _daily_revenue(spark, sf_dir)
    c = d.select(
        "day",
        (F.col("rev").cast("decimal(18,2)") * 100).cast("long").alias("x"),
    )
    wday = Window.orderBy("day")  # bounded day spine
    tri = c.select(
        F.col("x").alias("a"),
        F.lead("x").over(wday).alias("b"),
        F.lead("x", 2).over(wday).alias("c2"),
    ).filter(F.col("b").isNotNull() & F.col("c2").isNotNull())
    one = lambda cond: F.when(cond, 1).otherwise(0)  # noqa: E731
    pattern = (
        (one(F.col("b") < F.col("a")) + one(F.col("c2") < F.col("a"))) * 100
        + (one(F.col("a") <= F.col("b")) + one(F.col("c2") < F.col("b"))) * 10
        + (one(F.col("a") <= F.col("c2")) + one(F.col("b") <= F.col("c2")))
    )
    cells = (
        tri.select(pattern.alias("pattern"))
        .groupBy("pattern")
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = cells.agg(F.sum("n").alias("n_all"))
    scored = cells.crossJoin(F.broadcast(tot)).select(
        "pattern",
        "n",
        "n_all",
        (
            -(F.col("n").cast("double") / F.col("n_all"))
            * F.log(F.col("n").cast("double") / F.col("n_all"))
        ).alias("h_term"),
    )
    htot = scored.agg(F.sum("h_term").alias("h"))
    return (
        scored.crossJoin(F.broadcast(htot))
        .select(
            "pattern",
            "n",
            F.round(F.col("n").cast("double") / F.col("n_all"), 6).alias(
                "p_r"
            ),
            F.round(F.col("h") / F.log(F.lit(6.0)), 6).alias("pe_norm_r"),
        )
        .orderBy("pattern")
    )


# ---------------------------------------------- Theil–Sen robust trend (r13)

_THEIL_SEN_SQL = f"""
    WITH d AS ({_daily_sql()}),
    pts AS (
        SELECT date_diff('day', (SELECT min(day) FROM d), day)::BIGINT AS x,
               CAST(round(rev * 100, 0) AS BIGINT) AS y
        FROM d
    ),
    prs AS (
        SELECT b.y - a.y AS dy, b.x - a.x AS dx
        FROM pts a JOIN pts b ON b.x > a.x
    ),
    ranked AS (
        SELECT dy, dx, dy * 1.0 / dx AS sl,
               row_number() OVER (ORDER BY dy * 1.0 / dx, dy, dx) AS rn
        FROM prs
    ),
    cnt AS (SELECT count(*) AS np, (count(*) + 1) // 2 AS mid FROM prs),
    sen AS (
        SELECT round(r.sl / 100, 6) AS slope
        FROM ranked r CROSS JOIN cnt c WHERE r.rn = c.mid
    ),
    res AS (
        SELECT p.y / 100.0 - s.slope * p.x AS resid, p.x
        FROM pts p CROSS JOIN sen s
    ),
    rr AS (
        SELECT resid, row_number() OVER (ORDER BY resid, x) AS rn FROM res
    ),
    nc AS (SELECT count(*) AS nd, (count(*) + 1) // 2 AS mid FROM pts)
    SELECT nc.nd::BIGINT AS n_days,
           c.np::BIGINT AS n_pairs,
           s.slope AS sen_slope_r,
           round(rr.resid, 2) AS intercept_r
    FROM sen s
    CROSS JOIN cnt c
    CROSS JOIN nc
    JOIN rr ON rr.rn = nc.mid
"""


@register("theil_sen_trend", oracle=_THEIL_SEN_SQL)
def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of daily revenue (Theil 1950 / Sen 1968):
    the slope is the LOWER MEDIAN of all pairwise slopes
    (y_j−y_i)/(x_j−x_i) over the day spine, the intercept the lower
    median of the residuals y_i − slope·x_i — the standard
    outlier-resistant alternative to OLS trend (breakdown point ~29%,
    where one corrupted day drags least squares arbitrarily). The robust
    sibling of the module's exact-moment regressions, and the trend
    number a revenue-monitoring job actually wants on spiky data.

    Exactness: days and revenue-cents are exact integers, so every
    pairwise slope is a ratio of integers — both engines compute the
    identical exactly-rounded IEEE double dy/dx and rank with (dy, dx)
    tiebreaks (quantize-free but deterministic: equal doubles tie-break
    on the exact integers); the selected slope is 6-rounded BEFORE the
    residual pass so the second median sees identical inputs in both
    engines; lower-median indices (m = (n+1)//2) are exact integer
    arithmetic.

    Scale shape: the pair set is days² — CALENDAR-bounded (the
    hodges_lehmann discipline: ~365² ≈ 66k rows per year, independent of
    fact-row count); the two global rank windows run on that bounded
    spine (PARTITIONLESS_ALLOWED, documented there); everything upstream
    is the shared one-shuffle daily collapse."""
    d = _daily_revenue(spark, sf_dir)
    base = d.agg(F.min("day").alias("d0"))
    pts = cut(
        d.crossJoin(F.broadcast(base))
        .select(
            F.datediff(F.col("day"), F.col("d0")).cast("long").alias("x"),
            F.round(F.col("rev") * 100, 0).cast("long").alias("y"),
        ),
        "theil_sen_trend.pts",
    )
    par = spark.sparkContext.defaultParallelism
    a, b = pts.repartition(par).alias("a"), pts.alias("b")
    # repartition the STREAM side first: pts inherits the daily agg's single
    # post-AQE partition, so the non-equi pair join AND everything fed by it
    # ran as one task (measured: a 1-task stage writing the 71.6 MB pair
    # set, then a 1-task 3.2 s global sort — guide §2.6)
    prs = a.join(b, F.col("b.x") > F.col("a.x")).select(
        (F.col("b.y") - F.col("a.y")).alias("dy"),
        (F.col("b.x") - F.col("a.x")).alias("dx"),
    )
    sl = F.col("dy") * F.lit(1.0) / F.col("dx")
    # TWO-LEVEL exact median selection instead of row_number over one
    # partitionless window. The key is a double slope, so this offsets
    # range partitions rather than ``prefix_sums``'s integer key buckets:
    # range-partition the days² pair set by the full sort key so
    # partitions are globally ordered, rank WITHIN partitions in parallel,
    # and add each partition's prefix-count offset (a ≤
    # defaultParallelism-row window).
    # global_rank = offset(pid) + rank_in(pid) — exact for any boundary
    # placement, identical tie-breaks (sl, dy, dx), and the 2.9M-row sort
    # runs on every core instead of one.
    # cut: the two-level rank depends on BOTH consumers of
    # `slopes` (the per-pid counts and the per-pid window) observing the
    # same spark_partition_id assignment. Exchange reuse currently
    # guarantees that, but spark_partition_id is documented
    # nondeterministic and nothing pinned the subtree against double
    # execution under AQE replanning or task retry (ADVICE r15) — cut the
    # lineage so the pid-stamped partitioning is materialized once.
    slopes = cut(
        prs.select("dy", "dx", sl.alias("sl")).repartitionByRange(
            par, F.col("sl"), F.col("dy"), F.col("dx")
        ).select("*", F.spark_partition_id().alias("__pid")),
        "theil_sen_trend.slopes",
    )
    pc = slopes.groupBy("__pid").agg(F.count("*").alias("__n"))
    w_off = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    off = pc.select(
        "__pid", (F.sum("__n").over(w_off) - F.col("__n")).alias("__off")
    )
    w_in = Window.partitionBy("__pid").orderBy("sl", F.col("dy"), F.col("dx"))
    ranked = slopes.withColumn("rn_in", F.row_number().over(w_in)).join(
        F.broadcast(off), "__pid"
    )
    cnt = prs.agg(
        F.count("*").alias("np"),
        ((F.count("*") + 1) / 2).cast("long").alias("mid"),
    )
    sen = (
        ranked.crossJoin(F.broadcast(cnt))
        .filter(F.col("__off") + F.col("rn_in") == F.col("mid"))
        .select(F.round(F.col("sl") / 100, 6).alias("slope"))
    )
    res = pts.crossJoin(F.broadcast(sen)).select(
        (F.col("y") / F.lit(100.0) - F.col("slope") * F.col("x")).alias("resid"),
        "x",
        "slope",
    )
    wr = Window.orderBy(F.col("resid"), F.col("x"))
    rr = res.withColumn("rn", F.row_number().over(wr))
    nc = pts.agg(
        F.count("*").alias("nd"),
        ((F.count("*") + 1) / 2).cast("long").alias("midd"),
    )
    return (
        rr.crossJoin(F.broadcast(nc))
        .filter(F.col("rn") == F.col("midd"))
        .crossJoin(F.broadcast(cnt.select("np")))
        .select(
            F.col("nd").cast("long").alias("n_days"),
            F.col("np").cast("long").alias("n_pairs"),
            F.col("slope").alias("sen_slope_r"),
            F.round(F.col("resid"), 2).alias("intercept_r"),
        )
    )
