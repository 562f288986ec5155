"""Temporal interval allocation (round-6 widening of the time-series
family): spread each order's revenue evenly over its 7-day fulfillment
window and report the resulting calendar-day revenue curve.

This is the standard "allocate an interval-valued measure onto a calendar
spine" warehouse operation (revenue recognition, subscription
amortization, capacity planning): the existing calendar queries either
place the full amount on one day (``mom_revenue_growth``) or fill gaps in
an already-daily series (``time_bucket_gapfill``); this one SPLITS each
fact across the days it spans.

Exactness: the split is pure integer arithmetic — each of the 7 days gets
``rev_c div 7`` cents and the first ``rev_c mod 7`` days get one extra
cent, so the allocation sums back to the original cents EXACTLY (no
pennies lost to float division) and both engines agree bit-for-bit.

Scale shape: a constant ×7 explode of the orders scan (sequence literal,
no shuffle), then one partial-aggregated groupBy keyed on the calendar
day — a DATE-DOMAIN-BOUNDED key (≤ ~2,600 distinct days at any SF). No
joins, no windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ab_inbev_big_data_case_spark.functions.money import cents, cents_sql
from ab_inbev_big_data_case_spark.registry import register
from ab_inbev_big_data_case_spark.sources.readers import table

_ALLOC_SQL = f"""
    WITH o AS (
        SELECT CAST(o_orderdate AS DATE) AS d0,
               {cents_sql('o_totalprice')} AS rev_c
        FROM orders
    ),
    x AS (
        SELECT d0 + t.i::INTEGER AS alloc_day,
               rev_c // 7
                 + CASE WHEN t.i < rev_c % 7 THEN 1 ELSE 0 END AS alloc_c
        FROM o CROSS JOIN range(7) t(i)
    )
    SELECT alloc_day,
           count(*) AS n_orders,
           sum(alloc_c)::BIGINT AS alloc_rev_c
    FROM x GROUP BY 1
"""


@register("interval_allocation_daily", oracle=_ALLOC_SQL)
def interval_allocation_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily revenue curve with each order's total spread exactly (integer
    div/mod cent split) over the 7 days starting at its order date.

    The ``sequence(0,6)`` explode is a narrow constant fan-out; the final
    groupBy key is the bounded calendar-day domain (see module docstring).
    """
    o = table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("d0"),
        cents(F.col("o_totalprice")).alias("rev_c"),
    )
    x = o.select(
        "d0",
        "rev_c",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
    ).select(
        F.date_add("d0", F.col("i")).alias("alloc_day"),
        (
            F.expr("rev_c div 7")
            + F.when(F.col("i") < F.col("rev_c") % 7, 1).otherwise(0)
        ).alias("alloc_c"),
    )
    return x.groupBy("alloc_day").agg(
        F.count("*").alias("n_orders"),
        F.sum("alloc_c").alias("alloc_rev_c"),
    )


# ----------------------------------------- proportional seat apportionment

_APPORTION_SQL = """
    WITH votes AS (
        SELECT c.c_nationkey AS nation, count(*) AS n_orders
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1
    ),
    tot AS (SELECT sum(n_orders) AS t FROM votes),
    ham AS (
        SELECT v.nation, v.n_orders,
               (v.n_orders * 1000) // t.t AS floor_seats,
               (v.n_orders * 1000) % t.t AS remainder
        FROM votes v CROSS JOIN tot t
    ),
    hamrk AS (
        SELECT nation, n_orders, floor_seats, remainder,
               row_number() OVER (ORDER BY remainder DESC, nation) AS rr,
               1000 - sum(floor_seats) OVER () AS leftover
        FROM ham
    ),
    hamilton AS (
        SELECT nation, n_orders,
               floor_seats + CASE WHEN rr <= leftover THEN 1 ELSE 0 END
                   AS seats_hamilton
        FROM hamrk
    ),
    quot AS (
        SELECT v.nation, v.n_orders * 1.0 / d.d AS q,
               row_number() OVER (
                   ORDER BY v.n_orders * 1.0 / d.d DESC, v.nation, d.d
               ) AS qr
        FROM votes v, generate_series(1, 1000) AS d(d)
    ),
    dhondt AS (
        SELECT nation, count(*) AS seats_dhondt
        FROM quot WHERE qr <= 1000 GROUP BY 1
    )
    SELECT h.nation, h.n_orders, h.seats_hamilton::BIGINT AS seats_hamilton,
           coalesce(d.seats_dhondt, 0)::BIGINT AS seats_dhondt
    FROM hamilton h LEFT JOIN dhondt d ON d.nation = h.nation
"""


@register("seat_apportionment", oracle=_APPORTION_SQL)
def seat_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proportional apportionment of 1000 'seats' (shards, samples, budget
    units) across nations by order volume, under BOTH classic methods:
    Hamilton largest-remainder (exact integer floors + remainder ranking)
    and D'Hondt highest-averages (top-1000 of the nation/divisor quotient
    grid). The pair is the canonical quota-vs-divisor contrast — Hamilton
    matches quotas but suffers the Alabama paradox, D'Hondt is monotone
    but favors large parties; a data platform meets the same trade when
    it splits a fixed sampling budget across strata
    (cf. ``neyman_allocation``, ``source_quota_sample``).

    Exactness: Hamilton is INTEGER end-to-end (multiply-then-divide,
    remainder ranking); D'Hondt quotients are single IEEE divisions of
    integers — exactly rounded and identical in both engines, never
    summed.

    Scale shape: one fact join collapses to a 25-row vote panel;
    everything after is panel-sized (25×1000 quotient grid = 25k rows,
    two bounded rank windows, a broadcast total)."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    votes = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_nationkey").alias("nation"))
        .agg(F.count("*").alias("n_orders"))
    )
    tot = votes.agg(F.sum("n_orders").alias("t"))
    ham = votes.crossJoin(F.broadcast(tot)).select(
        "nation",
        "n_orders",
        F.floor(F.col("n_orders") * 1000 / F.col("t")).alias("floor_seats"),
        ((F.col("n_orders") * 1000) % F.col("t")).alias("remainder"),
    )
    from pyspark.sql import Window as W

    hamrk = ham.select(
        "nation",
        "n_orders",
        "floor_seats",
        F.row_number()
        .over(W.orderBy(F.col("remainder").desc(), F.col("nation")))
        .alias("rr"),
        (1000 - F.sum("floor_seats").over(W.partitionBy())).alias("leftover"),
    )
    hamilton = hamrk.select(
        "nation",
        "n_orders",
        (
            F.col("floor_seats")
            + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)
        ).alias("seats_hamilton"),
    )
    divisors = spark.range(1, 1001).select(F.col("id").alias("d"))
    quot = votes.crossJoin(F.broadcast(divisors)).select(
        "nation",
        F.row_number()
        .over(
            W.orderBy(
                (F.col("n_orders") * 1.0 / F.col("d")).desc(),
                F.col("nation"),
                F.col("d"),
            )
        )
        .alias("qr"),
    )
    dhondt = (
        quot.filter(F.col("qr") <= 1000)
        .groupBy("nation")
        .agg(F.count("*").alias("seats_dhondt"))
    )
    return hamilton.join(dhondt, "nation", "left").select(
        "nation",
        "n_orders",
        F.col("seats_hamilton").cast("long").alias("seats_hamilton"),
        F.coalesce(F.col("seats_dhondt"), F.lit(0)).cast("long").alias("seats_dhondt"),
    )
