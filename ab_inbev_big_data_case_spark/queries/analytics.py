"""Composed analytical queries: subqueries (scalar / IN / correlated
EXISTS / NOT IN), CTE pipelines, and TPC-H-shaped multi-join reports.

These prove the engine handles real composed analytics, not just isolated
operators — Catalyst decorrelates the subqueries into joins (SURVEY.md §4.2),
so each of these still executes as broadcast/sort-merge join plans.
Expressed through the SQL API (temp views over the fixture scans) — the
DataFrame and SQL paths produce identical Catalyst plans, and SQL is the
clearer notation at this altitude.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ab_inbev_big_data_case_spark.functions.money import (
    cents,
    cents_sql,
    money,
    money_sql,
    money_sum,
    money_sum_sql,
)
from ab_inbev_big_data_case_spark.registry import register
from ab_inbev_big_data_case_spark.sources.readers import const_df, load_tables
from ab_inbev_big_data_case_spark.operators.lineage import cut


def _sql(spark: SparkSession, sf_dir: str, tables: tuple[str, ...], sql: str) -> DataFrame:
    load_tables(spark, sf_dir, tables)
    return spark.sql(sql)


_SCALAR_SUBQ = """
    SELECT c_custkey, c_name, round(c_acctbal, 2) AS bal_r
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
"""


@register("scalar_subquery", oracle=_SCALAR_SUBQ)
def scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery (above-average filter)."""
    return _sql(spark, sf_dir, ("customer",), _SCALAR_SUBQ)


_IN_SUBQ = """
    SELECT p_partkey, p_brand
    FROM part
    WHERE p_partkey IN (
        SELECT l_partkey FROM lineitem WHERE l_quantity > 45
    )
"""


@register("in_subquery", oracle=_IN_SUBQ)
def in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN subquery → decorrelated to a left-semi join by Catalyst."""
    return _sql(spark, sf_dir, ("part", "lineitem"), _IN_SUBQ)


_CORR_EXISTS = """
    SELECT o_orderkey, o_orderpriority
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAYS
    )
"""

_CORR_EXISTS_DUCK = """
    SELECT o_orderkey, o_orderpriority
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    )
"""


@register("correlated_exists", oracle=_CORR_EXISTS_DUCK)
def correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS with a non-equi correlated predicate (late-shipping
    orders — TPC-H Q4 shape)."""
    return _sql(spark, sf_dir, ("orders", "lineitem"), _CORR_EXISTS)


_NOT_IN_SUBQ = """
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey NOT IN (
        SELECT l_suppkey FROM lineitem
        WHERE l_discount > 0.09 AND l_quantity > 49
    )
"""


@register("not_in_subquery", oracle=_NOT_IN_SUBQ)
def not_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN (null-aware anti join — the subtle one; fixture keys are
    non-null so the semantics match DuckDB's)."""
    return _sql(spark, sf_dir, ("supplier", "lineitem"), _NOT_IN_SUBQ)


_TPCH_Q3 = f"""
    SELECT l.l_orderkey,
           {money_sum_sql('l.l_extendedprice * (1 - l.l_discount)')}::DOUBLE
               AS revenue,
           o.o_orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
"""


@register("tpch_q3_shape", oracle=_TPCH_Q3)
def tpch_q3_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping-priority) shape: selective dim filter + two fact
    joins + grouped revenue. Full result set (no LIMIT) so the oracle hash
    covers every group."""
    return _sql(spark, sf_dir, ("customer", "orders", "lineitem"), _TPCH_Q3)


_TPCH_Q5 = f"""
    SELECT n.n_name,
           {money_sum_sql('l.l_extendedprice * (1 - l.l_discount)')}::DOUBLE
               AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE year(o.o_orderdate) = 1995
    GROUP BY n.n_name
"""


@register("tpch_q5_shape", oracle=_TPCH_Q5)
def tpch_q5_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six-table star join (region→nation→supplier dims all
    broadcast; the two fact joins sort-merge)."""
    return _sql(
        spark, sf_dir,
        ("customer", "orders", "lineitem", "supplier", "nation", "region"),
        _TPCH_Q5,
    )


_CTE_PIPELINE = f"""
    WITH cust_orders AS (
        SELECT o_custkey, count(*) AS n_orders,
               {money_sum_sql('o_totalprice')} AS spend
        FROM orders GROUP BY o_custkey
    ),
    tiers AS (
        SELECT o_custkey, n_orders, spend,
               CASE WHEN spend > 1500000 THEN 'platinum'
                    WHEN spend > 750000 THEN 'gold'
                    ELSE 'standard' END AS tier
        FROM cust_orders
    )
    SELECT t.tier,
           count(*) AS n_customers,
           round(avg(t.n_orders), 4)::DOUBLE AS avg_orders,
           round(sum(t.spend), 2)::DOUBLE AS tier_spend
    FROM tiers t
    GROUP BY t.tier
"""


@register("cte_pipeline", oracle=_CTE_PIPELINE)
def cte_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-stage CTE pipeline (aggregate → derive tier → re-aggregate) —
    the medallion pattern expressed in one SQL statement."""
    return _sql(spark, sf_dir, ("orders",), _CTE_PIPELINE)


_TPCH_Q6 = f"""
    SELECT {money_sum_sql('l_extendedprice * l_discount')}::DOUBLE
               AS promo_revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
"""


@register("tpch_q6_shape", oracle=_TPCH_Q6)
def tpch_q6_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: highly selective conjunctive filter + global agg —
    every predicate pushes into the parquet scan (row-group skipping at
    scale), zero joins, one partial+final agg."""
    return _sql(spark, sf_dir, ("lineitem",), _TPCH_Q6)


_TPCH_Q12 = """
    SELECT l.l_returnflag,
           sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
           sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END)::BIGINT AS low_line_count
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1995-07-01 00:00:00'
    GROUP BY l.l_returnflag
"""


@register("tpch_q12_shape", oracle=_TPCH_Q12)
def tpch_q12_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: fact-fact join + conditional counting."""
    return _sql(spark, sf_dir, ("orders", "lineitem"), _TPCH_Q12)


_TPCH_Q18 = f"""
    SELECT o.o_orderkey, o.o_custkey,
           {money_sum_sql('l.l_quantity')}::DOUBLE AS total_qty
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, o.o_custkey
    HAVING sum({money_sql('l.l_quantity')}) > 250
"""


@register("tpch_q18_shape", oracle=_TPCH_Q18)
def tpch_q18_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): join + group + HAVING on
    the aggregate (decimal-exact so the cut is engine-identical)."""
    return _sql(spark, sf_dir, ("orders", "lineitem"), _TPCH_Q18)


_TPCH_Q19 = f"""
    SELECT {money_sum_sql('l.l_extendedprice * (1 - l.l_discount)')}::DOUBLE
               AS revenue,
           count(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity >= 5)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 25 AND l.l_quantity >= 15)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 35 AND l.l_quantity >= 25)
"""


@register("tpch_q19_shape", oracle=_TPCH_Q19)
def tpch_q19_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive multi-attribute join predicates (the
    OR-of-ANDs pattern Catalyst splits into join + residual filter)."""
    return _sql(spark, sf_dir, ("lineitem", "part"), _TPCH_Q19)


_TPCH_Q2_CORR = """
    SELECT p.p_partkey, p.p_brand, l.l_suppkey, round(l.l_extendedprice, 2) AS price_r
    FROM part p
    JOIN lineitem l ON l.l_partkey = p.p_partkey
    WHERE l.l_extendedprice = (
        SELECT min(l2.l_extendedprice)
        FROM lineitem l2
        WHERE l2.l_partkey = p.p_partkey
    )
"""


@register("correlated_scalar_min", oracle=_TPCH_Q2_CORR)
def correlated_scalar_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated scalar subquery (cheapest line per part) —
    Catalyst decorrelates to an aggregate + join."""
    return _sql(spark, sf_dir, ("part", "lineitem"), _TPCH_Q2_CORR)


_TPCH_Q7 = f"""
    SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
           year(l.l_shipdate) AS l_year,
           {money_sum_sql('l.l_extendedprice * (1 - l.l_discount)')}::DOUBLE
               AS volume
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1  ON n1.n_nationkey = c.c_nationkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n2  ON n2.n_nationkey = s.s_nationkey
    WHERE n1.n_nationkey < 3 AND n2.n_nationkey < 3
      AND n1.n_nationkey != n2.n_nationkey
    GROUP BY 1, 2, 3
"""


@register("tpch_q7_shape", oracle=_TPCH_Q7)
def tpch_q7_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: the same dim table joined twice under different roles
    (customer nation vs supplier nation) + cross-nation filter."""
    return _sql(
        spark, sf_dir,
        ("lineitem", "orders", "customer", "nation", "supplier"),
        _TPCH_Q7,
    )


_TPCH_Q10 = f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           {money_sum_sql('l.l_extendedprice * (1 - l.l_discount)')}::DOUBLE
               AS revenue,
           count(*) AS n_returned_lines
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1995-04-01 00:00:00'
    GROUP BY 1, 2, 3
"""


@register("tpch_q10_shape", oracle=_TPCH_Q10)
def tpch_q10_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-items customer report (selective fact
    filter + three joins + grouped revenue)."""
    return _sql(
        spark, sf_dir, ("customer", "orders", "lineitem", "nation"), _TPCH_Q10
    )


_TPCH_Q1 = f"""
    SELECT l_returnflag, l_linestatus,
           {money_sum_sql('l_quantity')}::DOUBLE AS sum_qty,
           {money_sum_sql('l_extendedprice')}::DOUBLE AS sum_base_price,
           {money_sum_sql('l_extendedprice * (1 - l_discount)')}::DOUBLE
               AS sum_disc_price,
           {money_sum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)')}::DOUBLE
               AS sum_charge,
           round(CAST(sum({money_sql('l_quantity')}) AS DOUBLE) / count(*), 4)
               AS avg_qty,
           round(CAST(sum({money_sql('l_extendedprice')}) AS DOUBLE) / count(*), 4)
               AS avg_price,
           round(CAST(sum({money_sql('l_discount')}) AS DOUBLE) / count(*), 4)
               AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
"""


@register("tpch_q1_shape", oracle=_TPCH_Q1)
def tpch_q1_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape (pricing summary report): the canonical scan-heavy
    aggregate — full lineitem pass, 4-group rollup, partial+final agg with
    zero joins. Sums are money sums (``functions/money.py``) so both engines
    agree at any row count; averages divide the exact decimal sum by count
    in double."""
    return _sql(spark, sf_dir, ("lineitem",), _TPCH_Q1)


_TPCH_Q2 = f"""
    WITH ps AS (
        SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
               round(CAST(min({money_sql('l_extendedprice')}
                              * (1 - {money_sql('l_discount')})) AS DOUBLE), 2)
                   AS ps_supplycost
        FROM lineitem
        GROUP BY 1, 2
    )
    SELECT round(s.s_acctbal, 2) AS s_acctbal_r, s.s_name, n.n_name,
           p.p_partkey, p.p_brand
    FROM part p
    JOIN ps ON p.p_partkey = ps.ps_partkey
    JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE p.p_size <= 5 AND p.p_type = 'SMALL'
      AND r.r_name = 'EUROPE'
      AND ps.ps_supplycost = (
          SELECT min(ps2.ps_supplycost)
          FROM ps ps2
          JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
          JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
          JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
          WHERE ps2.ps_partkey = p.p_partkey AND r2.r_name = 'EUROPE'
      )
"""


@register("tpch_q2_shape", oracle=_TPCH_Q2)
def tpch_q2_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): the fixture has no partsupp,
    so the supply-offer table is derived as min effective price per
    (part, supplier) from lineitem, then the classic correlated MIN subquery
    picks each part's cheapest in-region supplier. Catalyst decorrelates the
    subquery into an aggregate + join over the same CTE; region/nation dims
    broadcast. Supply cost is decimal-exact then rounded before the double
    equality so both engines compare identical values."""
    return _sql(
        spark, sf_dir, ("lineitem", "part", "supplier", "nation", "region"), _TPCH_Q2
    )


_TPCH_Q14 = f"""
    SELECT round(100.0 * CAST(sum(CASE WHEN p.p_type = 'PROMO'
                   THEN {money_sql('l.l_extendedprice * (1 - l.l_discount)')}
                   ELSE {money_sql('0')} END) AS DOUBLE) /
               CAST(sum({money_sql('l.l_extendedprice * (1 - l.l_discount)')})
                    AS DOUBLE), 4) AS promo_revenue_pct
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1995-10-01 00:00:00'
"""


@register("tpch_q14_shape", oracle=_TPCH_Q14)
def tpch_q14_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): conditional revenue share over a
    fact⋈dim join — two decimal-exact sums in one pass, ratio in double."""
    return _sql(spark, sf_dir, ("lineitem", "part"), _TPCH_Q14)


_TPCH_Q17 = f"""
    SELECT round(CAST(sum({money_sql('l.l_extendedprice')}) AS DOUBLE) / 7.0, 2)
               AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1' AND p.p_size <= 5
      AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                          FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
"""


@register("tpch_q17_shape", oracle=_TPCH_Q17)
def tpch_q17_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): correlated scalar AVG
    per part — Catalyst decorrelates into an aggregate + join; the classic
    'below 20% of the part's average' filter."""
    return _sql(spark, sf_dir, ("lineitem", "part"), _TPCH_Q17)


_TPCH_Q22 = f"""
    SELECT c.c_nationkey AS cntry,
           count(*) AS numcust,
           {money_sum_sql('c.c_acctbal')}::DOUBLE AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
                         WHERE c2.c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 200000)
    GROUP BY 1
"""


@register("tpch_q22_shape", oracle=_TPCH_Q22)
def tpch_q22_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): scalar subquery threshold
    + anti-join (NOT EXISTS) + grouped rollup. Adapted to the fixture:
    nation key stands in for the missing phone prefix, and 'never ordered'
    becomes 'no high-value order' (every fixture customer has some order,
    which would make the literal Q22 predicate vacuously empty)."""
    return _sql(spark, sf_dir, ("customer", "orders"), _TPCH_Q22)


_RECURSIVE_SPINE = f"""
    WITH RECURSIVE months(ym) AS (
        SELECT 199501
        UNION ALL
        SELECT CASE WHEN ym % 100 = 12 THEN ym + 89 ELSE ym + 1 END
        FROM months WHERE ym < 199812
    )
    SELECT m.ym,
           count(o.o_orderkey) AS n_orders,
           round(coalesce(sum({money_sql('o.o_totalprice')}), 0), 2)::DOUBLE
               AS month_revenue
    FROM months m
    LEFT JOIN orders o
      ON year(o.o_orderdate) * 100 + month(o.o_orderdate) = m.ym
    GROUP BY 1
"""


@register("recursive_month_spine", oracle=_RECURSIVE_SPINE)
def recursive_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE surface (Spark 4.x WITH RECURSIVE, UNION ALL mode):
    generate a 1995-01..1998-12 month spine recursively, then left join
    monthly order rollups so empty months appear as zero rows — the
    gaps-included report a plain GROUP BY can't produce. (Spark's recursive
    CTEs don't yet support UNION-distinct, so cyclic-graph recursion stays
    on the fixed-round label propagation in `dup_clusters_cc`.)"""
    return _sql(spark, sf_dir, ("orders",), _RECURSIVE_SPINE)


_TPCH_Q21 = """
    SELECT s.s_suppkey, s.s_name,
           count(DISTINCT l1.l_orderkey) AS n_waiting_orders
    FROM supplier s
    JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
    WHERE l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey != l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey != l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY 1, 2
"""


@register("tpch_q21_shape", oracle=_TPCH_Q21)
def tpch_q21_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): the hardest
    subquery composition in the suite — a fact join plus BOTH a correlated
    EXISTS and a correlated NOT EXISTS against the same fact under
    different aliases (Catalyst plans one semi and one anti join).
    l_returnflag = 'R' stands in for the fixture's missing receipt-delay
    column; the operator composition is Q21's."""
    return _sql(spark, sf_dir, ("supplier", "lineitem"), _TPCH_Q21)


_TPCH_Q13 = """
    SELECT n_orders, count(*) AS n_customers
    FROM (
        SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                          AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    GROUP BY n_orders
"""


@register("tpch_q13_shape", oracle=_TPCH_Q13)
def tpch_q13_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer distribution): outer join with a filter ON
    the join condition (not WHERE — zero-order customers must survive),
    then a distribution over the grouped counts (two-level aggregation)."""
    return _sql(spark, sf_dir, ("customer", "orders"), _TPCH_Q13)


_TPCH_Q15 = f"""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               {money_sum_sql('l_extendedprice * (1 - l_discount)')}
                   AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1995-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue::DOUBLE AS total_revenue
    FROM supplier s
    JOIN revenue r ON r.supplier_no = s.s_suppkey
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


@register("tpch_q15_shape", oracle=_TPCH_Q15)
def tpch_q15_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): CTE revenue view referenced twice —
    once as the join input and once inside a scalar MAX subquery (the
    classic view + self-referential aggregate; ties all surface, no
    arbitrary pick). Decimal-exact revenue so the equality predicate is
    engine-stable."""
    return _sql(spark, sf_dir, ("supplier", "lineitem"), _TPCH_Q15)


_FUNNEL = """
    WITH firsts AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        FROM events GROUP BY user_id
    )
    SELECT count(*) AS n_users,
           sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS stage_view,
           sum(CASE WHEN t_click > t_view THEN 1 ELSE 0 END)::BIGINT AS stage_click,
           sum(CASE WHEN t_click > t_view AND t_purchase > t_click
                    THEN 1 ELSE 0 END)::BIGINT AS stage_purchase
    FROM firsts
"""


@register("funnel_analysis", oracle=_FUNNEL)
def funnel_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view → click → purchase): per-user first
    occurrence of each stage via conditional MIN (one pass, one shuffle on
    user), then ordering predicates count who progressed IN SEQUENCE —
    NULL-safe because a missing stage makes the > comparison NULL→false in
    both engines. The event-analytics bread-and-butter at any event volume:
    no self-joins, no window, cost = one grouped scan."""
    return _sql(spark, sf_dir, ("events",), _FUNNEL)


_RETENTION = """
    WITH ua AS (
        SELECT DISTINCT user_id,
               CAST(floor((day(ts) - 1) / 7.0) AS BIGINT) AS wk
        FROM events
    ),
    cohort AS (SELECT user_id, min(wk) AS cohort_wk FROM ua GROUP BY user_id)
    SELECT c.cohort_wk, a.wk, count(*) AS n_active
    FROM cohort c JOIN ua a ON a.user_id = c.user_id
    GROUP BY 1, 2
"""


@register("retention_cohorts", oracle=_RETENTION)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohort grid: cohort = first active week, one row per
    (cohort, activity week) with active-user counts. Distinct user-week
    activity first (collapses event volume to users×weeks before any join),
    then cohort assignment joins back on the user key only."""
    return _sql(spark, sf_dir, ("events",), _RETENTION)


_TPCH_Q4 = """
    SELECT o.o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1995-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 45 DAY)
    GROUP BY o.o_orderpriority
"""


@register("tpch_q4_shape", oracle=_TPCH_Q4)
def tpch_q4_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order priority checking): date-window scan + correlated
    EXISTS with a non-equi correlated predicate, rolled up by priority.
    'l_shipdate > o_orderdate + 45 days' stands in for the fixture's missing
    commit/receipt columns; Catalyst plans the EXISTS as a left-semi join so
    the lineitem side never inflates the order rows it proves."""
    return _sql(spark, sf_dir, ("orders", "lineitem"), _TPCH_Q4)


_TPCH_Q8 = f"""
    WITH volumes AS (
        SELECT year(o.o_orderdate) AS o_year,
               {money_sql('l.l_extendedprice * (1 - l.l_discount)')} AS volume,
               s.s_nationkey AS supp_nation
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
        JOIN region r   ON cn.n_regionkey = r.r_regionkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN part p     ON l.l_partkey = p.p_partkey
        WHERE r.r_name = 'AMERICA' AND p.p_type = 'STANDARD'
    )
    SELECT o_year,
           round(CAST(sum(CASE WHEN supp_nation = 1 THEN volume
                               ELSE {money_sql('0')} END) AS DOUBLE)
                 / CAST(sum(volume) AS DOUBLE), 4) AS mkt_share
    FROM volumes
    GROUP BY o_year
"""


@register("tpch_q8_shape", oracle=_TPCH_Q8)
def tpch_q8_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): the widest join tree in the
    suite — fact ⋈ orders ⋈ customer ⋈ nation ⋈ region ⋈ supplier ⋈ part
    (7 relations), then a conditional-share rollup per year. Every dim side
    is broadcast-sized so Catalyst chains BroadcastHashJoins over one fact
    scan; the share divides two decimal-exact sums in double."""
    return _sql(
        spark, sf_dir,
        ("lineitem", "orders", "customer", "nation", "region", "supplier", "part"),
        _TPCH_Q8,
    )


_TPCH_Q9 = f"""
    SELECT n.n_name AS supp_nation, year(o.o_orderdate) AS o_year,
           {money_sum_sql('l.l_extendedprice * (1 - l.l_discount)'
                          ' - 0.6 * p.p_retailprice * l.l_quantity')}::DOUBLE
               AS sum_profit
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    WHERE p.p_name LIKE '%o%'
    GROUP BY 1, 2
"""


@register("tpch_q9_shape", oracle=_TPCH_Q9)
def tpch_q9_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): multi-dim star join with a LIKE
    dim filter and a per-row profit expression (0.6·p_retailprice·quantity
    proxies the fixture's missing ps_supplycost), grouped by supplier nation
    × year. Per-row arithmetic is IEEE-identical across engines; the sum
    accumulates in exact decimal before the final round."""
    return _sql(
        spark, sf_dir, ("lineitem", "supplier", "part", "orders", "nation"), _TPCH_Q9
    )


_TPCH_Q11 = f"""
    SELECT l_partkey, {money_sum_sql('l_extendedprice')}::DOUBLE
               AS part_value
    FROM lineitem
    GROUP BY l_partkey
    HAVING CAST(sum({money_sql('l_extendedprice')}) AS DOUBLE) >
           (SELECT CAST(sum({money_sql('l_extendedprice')}) AS DOUBLE) * 0.0006
            FROM lineitem)
"""


@register("tpch_q11_shape", oracle=_TPCH_Q11)
def tpch_q11_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): grouped rollup filtered by a HAVING
    whose threshold is a scalar subquery over the SAME fact (share-of-total).
    Both sums are decimal-exact; the comparison happens in double after both
    engines convert the identical exact decimals, so the cut is stable."""
    return _sql(spark, sf_dir, ("lineitem",), _TPCH_Q11)


_TPCH_Q16 = """
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
"""


@register("tpch_q16_shape", oracle=_TPCH_Q16)
def tpch_q16_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): dim-filtered join with a
    NOT IN blacklist subquery (negative-balance suppliers proxy the 'customer
    complaints' comment scan) and COUNT(DISTINCT) per (brand, type, size).
    The NOT IN side is tiny → broadcast null-aware anti join."""
    return _sql(spark, sf_dir, ("lineitem", "part", "supplier"), _TPCH_Q16)


_TPCH_Q20 = f"""
    WITH part_ship AS (
        SELECT l.l_partkey, l.l_suppkey,
               sum({money_sql('l.l_quantity')}) AS qty
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
          AND p.p_type = 'PROMO'
        GROUP BY 1, 2
    ),
    part_tot AS (
        SELECT l_partkey AS pk, sum(qty) AS total_qty FROM part_ship GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE s.s_suppkey IN (
        SELECT ps.l_suppkey
        FROM part_ship ps JOIN part_tot t ON ps.l_partkey = t.pk
        WHERE CAST(ps.qty AS DOUBLE) > 0.3 * CAST(t.total_qty AS DOUBLE)
    )
"""


@register("tpch_q20_shape", oracle=_TPCH_Q20)
def tpch_q20_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): nested IN over a derived
    aggregate joined to its own second-level rollup — suppliers who shipped
    >30% of a PROMO part's 1995 volume (availqty-vs-shipped recast for the
    fixture's missing partsupp). The CTE is referenced twice; quantities
    accumulate in exact decimal, the share test runs in double."""
    return _sql(spark, sf_dir, ("supplier", "lineitem", "part"), _TPCH_Q20)


_GAPFILL = f"""
    WITH agg AS (
        SELECT event_type, date_trunc('hour', ts)::TIMESTAMP AS bucket,
               count(*) AS n_events,
               {money_sum_sql('value')}::DOUBLE AS sum_value
        FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM agg),
    spine AS (
        SELECT t.event_type, g.bucket
        FROM (SELECT DISTINCT event_type FROM agg) t
        CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
                    FROM bounds) g
    )
    SELECT s.event_type, s.bucket,
           coalesce(a.n_events, 0)::BIGINT AS n_events,
           a.sum_value AS sum_value,
           last_value(a.sum_value IGNORE NULLS) OVER (
               PARTITION BY s.event_type ORDER BY s.bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
    FROM spine s LEFT JOIN agg a ON a.event_type = s.event_type AND a.bucket = s.bucket
"""


@register("time_bucket_gapfill", oracle=_GAPFILL)
def time_bucket_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style rollup with gap fill: hourly buckets per event_type,
    densified over a generated spine (``sequence`` + ``explode``) so silent
    hours surface as rows, zero-filled counts, and last-observation-carried-
    forward for the value metric (``last(ignorenulls)`` running window).

    Scale shape: one grouped scan of events collapses 100 TB to
    types x hours rows; the spine, bounds, and type list all derive from that
    small aggregate (cut, so its three consumers don't
    re-scan events); the LOCF window runs over the already-small densified
    grid. Sums accumulate in exact DECIMAL then round — engine-stable and
    partial-agg-order-independent."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from ab_inbev_big_data_case_spark.sources.readers import table

    e = table(spark, sf_dir, "events")
    agg = cut(
        e.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("bucket")
        )
        .agg(
            F.count("*").alias("n_events"),
            money_sum(F.col("value"))
            .cast("double")
            .alias("sum_value"),
        ),
        "time_bucket_gapfill.agg",
    )
    bounds = agg.agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
    hours = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("bucket")
    )
    spine = agg.select("event_type").distinct().crossJoin(F.broadcast(hours))
    w = W.partitionBy("event_type").orderBy("bucket").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return spine.join(F.broadcast(agg), ["event_type", "bucket"], "left").select(
        "event_type",
        "bucket",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        "sum_value",
        F.last("sum_value", ignorenulls=True).over(w).alias("filled_value"),
    )


# ------------------------------------------------------------- data layout

from pyspark.sql import functions as F  # noqa: E402

from ab_inbev_big_data_case_spark.operators.layout import (  # noqa: E402
    file_extent_stats,
    hilbert_oracle_ctes,
    scaled_bucket,
    with_hilbert_key,
    zorder_key,
    zorder_oracle_expr,
)
from ab_inbev_big_data_case_spark.sources.readers import table  # noqa: E402


#: orders -> 8-bit (x, y) buckets; shared by every layout-curve oracle
_ZBUCKET_SQL = """raw AS (
        SELECT o_custkey AS xr,
               datediff('day', DATE '1992-01-01', o_orderdate) AS yr
        FROM orders
    ),
    bounds AS (SELECT min(xr) x0, max(xr) x1, min(yr) y0, max(yr) y1 FROM raw),
    b AS (
        SELECT ((xr - x0) * 256) // (x1 - x0 + 1) AS x,
               ((yr - y0) * 256) // (y1 - y0 + 1) AS y
        FROM raw CROSS JOIN bounds
    )"""

#: shared by zorder_layout_extents and zorder_pruning_audit oracles
_ZORDER_EXT_SQL = f"""
    {_ZBUCKET_SQL},
    t AS (
        SELECT x, y,
               ntile(32) OVER (ORDER BY {zorder_oracle_expr('x', 'y', 8)},
                               x, y) AS file_id
        FROM b
    ),
    ext AS (
        SELECT file_id::INT AS file_id, count(*)::BIGINT AS n_rows,
               min(x)::BIGINT AS min_x, max(x)::BIGINT AS max_x,
               min(y)::BIGINT AS min_y, max(y)::BIGINT AS max_y
        FROM t GROUP BY 1
    )
"""


@register(
    "zorder_layout_extents",
    oracle=f"""
    WITH {_ZORDER_EXT_SQL}
    SELECT file_id, n_rows, min_x, max_x, min_y, max_y FROM ext
    """,
)
def zorder_layout_extents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering quality report: orders keyed by the Morton
    interleave of (custkey-bucket, order-day-bucket), split into 32
    rank-equal "files", each reporting its min/max per dimension — the
    footer statistics a parquet reader prunes on. Both dims are scaled to
    8-bit buckets FIRST (``scaled_bucket``: unbalanced raw domains
    degenerate the curve into a single-column sort); under the balanced
    key every file covers a small extent in BOTH dims (pytest pins it
    beats a single-column sort), which is what makes selective filters on
    either column skip most of a 100 TB table. See ``operators/layout.py``."""
    o = table(spark, sf_dir, "orders")
    raw = o.select(
        F.col("o_custkey").alias("xr"),
        F.datediff("o_orderdate", F.lit("1992-01-01").cast("date"))
        .cast("long")
        .alias("yr"),
    )
    bounds = raw.agg(
        F.min("xr").alias("x0"),
        F.max("xr").alias("x1"),
        F.min("yr").alias("y0"),
        F.max("yr").alias("y1"),
    )
    b = raw.crossJoin(F.broadcast(bounds)).select(
        scaled_bucket(F.col("xr"), F.col("x0"), F.col("x1"), 8).alias("x"),
        scaled_bucket(F.col("yr"), F.col("y0"), F.col("y1"), 8).alias("y"),
    )
    keyed = b.withColumn("zkey", zorder_key(F.col("x"), F.col("y"), 8))
    return file_extent_stats(keyed, "zkey", ["x", "y"], n_files=32)


@register(
    "hilbert_layout_extents",
    oracle=f"""
    WITH {_ZBUCKET_SQL},
    {hilbert_oracle_ctes('x', 'y', 'b', 'x, y', bits=8)},
    t AS (
        SELECT x, y, ntile(32) OVER (ORDER BY hd, x, y) AS file_id
        FROM h8
    ),
    ext AS (
        SELECT file_id::INT AS file_id, count(*)::BIGINT AS n_rows,
               min(x)::BIGINT AS min_x, max(x)::BIGINT AS max_x,
               min(y)::BIGINT AS min_y, max(y)::BIGINT AS max_y
        FROM t GROUP BY 1
    )
    SELECT file_id, n_rows, min_x, max_x, min_y, max_y FROM ext
    """,
)
def hilbert_layout_extents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering quality report — the same 32-file extent
    audit as ``zorder_layout_extents`` but keyed by the Hilbert distance
    instead of the Morton interleave. The Hilbert curve has no quadrant
    jumps (every step moves one cell), so files that straddle what would
    be a Morton seam cover tighter extents; the round-14 pytest pins that
    the summed extent AREA under Hilbert is <= the Z-order layout's on the
    fixture, making the "which curve should OPTIMIZE use" question
    answerable from registered evidence instead of folklore. Same scale
    shape as the Z-order twin: bucketize (broadcast 1-row bounds),
    ``with_hilbert_key``'s 8 chained integer projections, and the
    distributed rank-split of ``file_extent_stats`` — no partitionless
    window, no UDF."""
    o = table(spark, sf_dir, "orders")
    raw = o.select(
        F.col("o_custkey").alias("xr"),
        F.datediff("o_orderdate", F.lit("1992-01-01").cast("date"))
        .cast("long")
        .alias("yr"),
    )
    bounds = raw.agg(
        F.min("xr").alias("x0"),
        F.max("xr").alias("x1"),
        F.min("yr").alias("y0"),
        F.max("yr").alias("y1"),
    )
    b = raw.crossJoin(F.broadcast(bounds)).select(
        scaled_bucket(F.col("xr"), F.col("x0"), F.col("x1"), 8).alias("x"),
        scaled_bucket(F.col("yr"), F.col("y0"), F.col("y1"), 8).alias("y"),
    )
    keyed = with_hilbert_key(b, "x", "y", 8, out="hkey")
    return file_extent_stats(keyed, "hkey", ["x", "y"], n_files=32)


# ----------------------------------------------- interval overlap join

_HOUR_US = 3_600_000_000
_DAY_US = 86_400_000_000

# Event "effect windows": [ts, ts + floor(value) seconds] — all arithmetic
# in integer epoch-micros so the two engines never touch interval types
# (DuckDB rounds double→int casts where Spark truncates; floor() first is
# the portable spelling).
_OVERLAP_SQL = f"""
    WITH iv AS (
        SELECT event_id, epoch_us(ts) AS s,
               epoch_us(ts) + floor(value)::BIGINT * 1000000 AS e
        FROM events
    ),
    b AS (
        SELECT event_id, s, e,
               unnest(generate_series(s // {_HOUR_US}, e // {_HOUR_US}))
                   AS bkt
        FROM iv
    ),
    pairs AS (
        SELECT DISTINCT a.event_id AS id1, c.event_id AS id2,
               greatest(a.s, c.s) AS ostart
        FROM b a JOIN b c
          ON a.bkt = c.bkt AND a.event_id < c.event_id
         AND a.s < c.e AND c.s < a.e
    )
    SELECT make_timestamp((ostart // {_DAY_US}) * {_DAY_US}) AS day,
           count(*) AS n_overlaps
    FROM pairs GROUP BY 1
"""


@register("interval_overlap_pairs", oracle=_OVERLAP_SQL)
def interval_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval overlap join via temporal binning — the 1-D
    spatial-join pattern Spark has no primitive for: each effect window
    explodes to the hour buckets it spans (≤ 2 here since durations ≤
    ~8 min), candidates come from a bucket EQUI-join, the true-overlap
    predicate filters, and DISTINCT collapses straddler double-counts.
    Daily overlap counts come off the deduped pair set.

    Scale shape: fan-out is per BUCKET occupancy (events/hour), never
    corpus² — the bin width is the tuning knob (match it to the typical
    interval length so each interval lands in O(1) buckets). All
    arithmetic stays in integer epoch-micros: no interval types, no
    engine-specific timestamp rounding in the join predicate."""
    e = table(spark, sf_dir, "events")
    iv = e.select(
        "event_id",
        F.unix_micros("ts").alias("s"),
        (
            F.unix_micros("ts")
            + F.floor("value").cast("long") * F.lit(1_000_000)
        ).alias("e"),
    )
    b = iv.select(
        "event_id",
        "s",
        "e",
        F.explode(
            F.sequence(
                (F.col("s") / _HOUR_US).cast("long"),
                (F.col("e") / _HOUR_US).cast("long"),
            )
        ).alias("bkt"),
    )
    a = b.select(
        F.col("event_id").alias("id1"),
        F.col("s").alias("s1"),
        F.col("e").alias("e1"),
        "bkt",
    )
    c = b.select(
        F.col("event_id").alias("id2"),
        F.col("s").alias("s2"),
        F.col("e").alias("e2"),
        "bkt",
    )
    pairs = (
        a.join(c, "bkt")
        .filter(
            (F.col("id1") < F.col("id2"))
            & (F.col("s1") < F.col("e2"))
            & (F.col("s2") < F.col("e1"))
        )
        .select(
            "id1", "id2", F.greatest("s1", "s2").alias("ostart")
        )
        .distinct()
    )
    return pairs.groupBy(
        F.timestamp_micros(
            (F.col("ostart") / _DAY_US).cast("long") * F.lit(_DAY_US)
        ).alias("day")
    ).agg(F.count("*").alias("n_overlaps"))


# ------------------------------------------- followed-by-within pattern

_FOLLOW_SQL = """
    WITH c AS (
        SELECT user_id, event_id, epoch_us(ts) AS t
        FROM events WHERE event_type = 'click'
    ),
    p AS (
        SELECT user_id, epoch_us(ts) AS t
        FROM events WHERE event_type = 'purchase'
    ),
    conv AS (
        SELECT DISTINCT c.user_id, c.event_id
        FROM c JOIN p ON p.user_id = c.user_id
                     AND p.t > c.t AND p.t <= c.t + 3600000000
    )
    SELECT c.user_id,
           count(*) AS n_clicks,
           count(conv.event_id) AS n_converted,
           round(count(conv.event_id) * 1.0 / count(*), 4) AS conv_rate_r
    FROM c LEFT JOIN conv ON conv.user_id = c.user_id
                         AND conv.event_id = c.event_id
    GROUP BY c.user_id
"""


@register("event_followed_by", oracle=_FOLLOW_SQL)
def event_followed_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern conversion: per user, the fraction of clicks
    followed by a purchase within one hour (A-then-B-within-T — the
    funnel primitive ``event_transitions``'s adjacent-pair mining can't
    express, since ANY later purchase in the window counts, not just the
    next event).

    Scale shape: the candidate join is keyed on user_id (equi) with the
    time range as a join filter — fan-out bounded per user's own event
    density, never cross-user; DISTINCT collapses multi-purchase windows
    to one conversion per click before the rate aggregate, and the final
    grouped count rides the same user_id partitioning."""
    e = table(spark, sf_dir, "events")
    c = e.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", F.unix_micros("ts").alias("t")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.unix_micros("ts").alias("pt")
    )
    conv = (
        c.join(
            p,
            (F.col("p_user") == F.col("user_id"))
            & (F.col("pt") > F.col("t"))
            & (F.col("pt") <= F.col("t") + F.lit(3_600_000_000)),
        )
        .select("user_id", "event_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        c.join(conv, ["user_id", "event_id"], "left")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_clicks"),
            F.count("hit").alias("n_converted"),
            F.round(F.count("hit") / F.count("*"), 4).alias("conv_rate_r"),
        )
    )


# ------------------------------------------------ growth / robust stats

_CUM_USERS_SQL = """
    WITH fs AS (
        SELECT o_custkey,
               min(date_trunc('month', o_orderdate)::TIMESTAMP) AS month
        FROM orders GROUP BY 1
    ),
    d AS (SELECT month, count(*) AS n_new FROM fs GROUP BY 1)
    SELECT month, n_new,
           sum(n_new) OVER (
               ORDER BY month ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           )::BIGINT AS cum_customers
    FROM d
"""


@register("cumulative_unique_users", oracle=_CUM_USERS_SQL)
def cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct customers by first-order month — the
    growth-analytics curve. The running DISTINCT (stateful and unmergeable
    if computed naively) reduces to a stateless pipeline via first-seen:
    min(month) per customer (one grouped agg), new-customer counts per
    month, cumsum on the calendar-bounded month spine. This first-seen
    reduction is THE scale trick: the exact distinct-so-far at 100 TB with
    no growing state (compare ``hll_rolling_distinct``, the approximate
    windowed sibling)."""
    o = table(spark, sf_dir, "orders")
    from pyspark.sql import Window

    fs = o.groupBy("o_custkey").agg(
        F.min(F.date_trunc("month", "o_orderdate")).alias("month")
    )
    d = fs.groupBy("month").agg(F.count("*").alias("n_new"))
    w = Window.orderBy("month").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )  # bounded month spine
    return d.select(
        "month",
        "n_new",
        F.sum("n_new").over(w).cast("long").alias("cum_customers"),
    )


_WMEDIAN_SQL = f"""
    WITH g AS (
        SELECT l_returnflag AS flag, l_quantity AS q,
               sum({money_sql('l_extendedprice')}) AS w
        FROM lineitem GROUP BY 1, 2
    ),
    t AS (SELECT flag, sum(w) AS tw FROM g GROUP BY 1),
    c AS (
        SELECT flag, q,
               sum(w) OVER (PARTITION BY flag ORDER BY q) AS cw
        FROM g
    )
    SELECT c.flag, min(c.q) AS wmedian_q,
           round(max(t.tw), 2)::DOUBLE AS total_weight_r
    FROM c JOIN t ON t.flag = c.flag
    WHERE c.cw * 2 >= t.tw
    GROUP BY c.flag
"""


@register("weighted_median", oracle=_WMEDIAN_SQL)
def weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-weighted median quantity per return flag: the smallest q
    whose cumulative weight reaches half the total — the weighted-quantile
    primitive Spark has no built-in for.

    All weight arithmetic stays DECIMAL-exact (sums, the cumsum, and the
    2·cw ≥ tw half-total test — no float boundary anywhere), so the picked
    q is bit-deterministic in both engines. The cumsum window partitions
    by flag over the DISTINCT-quantity spine (bounded by the value domain,
    not row count), after a map-side-combined weight rollup."""
    li = table(spark, sf_dir, "lineitem")
    from pyspark.sql import Window

    g = li.groupBy(
        F.col("l_returnflag").alias("flag"), F.col("l_quantity").alias("q")
    ).agg(F.sum(money(F.col("l_extendedprice"))).alias("w"))
    t = g.groupBy("flag").agg(F.sum("w").alias("tw"))
    w = Window.partitionBy("flag").orderBy("q")
    c = g.withColumn("cw", F.sum("w").over(w))
    return (
        c.join(t, "flag")
        .filter(F.col("cw") * 2 >= F.col("tw"))
        .groupBy("flag")
        .agg(
            F.min("q").alias("wmedian_q"),
            F.round(F.max("tw"), 2).cast("double").alias("total_weight_r"),
        )
    )


_OSA_SQL = """
    SELECT r.r_name AS region,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY 1
"""


@register("ordered_string_agg", oracle=_OSA_SQL)
def ordered_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic LISTAGG: per region the comma-joined SORTED nation
    names. ``collect_list`` order is partition-arrival nondeterministic, so
    the portable spelling is collect → ``array_sort`` → ``array_join`` —
    order is imposed in-row AFTER collection, matching SQL's
    ``string_agg(... ORDER BY)``. Bounded per group by construction (a
    listagg over an unbounded group is an anti-pattern at any scale)."""
    load_tables(spark, sf_dir, ("region", "nation"))
    r = table(spark, sf_dir, "region")
    n = table(spark, sf_dir, "nation")
    return (
        r.join(n, n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
                "nations"
            )
        )
    )


_PATHS_SQL = """
    WITH ev AS (
        SELECT user_id, ts::DATE AS day, event_type,
               row_number() OVER (PARTITION BY user_id, ts::DATE
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    paths AS (
        SELECT user_id, day,
               string_agg(event_type, '>' ORDER BY rn) AS path
        FROM ev WHERE rn <= 3 GROUP BY 1, 2
    )
    SELECT path, count(*) AS n_sessions
    FROM paths GROUP BY 1
    ORDER BY n_sessions DESC, path
    LIMIT 10
"""


@register("session_path_mining", oracle=_PATHS_SQL)
def session_path_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream path mining: the 10 most common opening 3-event
    sequences per user-day session — the Sankey/flow-diagram feed that
    turns ``event_transitions``' Markov bigrams into whole entry paths.

    Scale shape: one window PARTITIONED by (user, day) ranks events
    within each session (ts + event_id tiebreak → total order), the
    rn<=3 filter caps per-session state at 3 rows BEFORE the collect,
    the path string assembles in-row (collect_list of (rn, type) structs
    -> array_sort -> array_join — collect order is arrival-
    nondeterministic, so order is imposed after, the
    ``ordered_string_agg`` discipline), and the top-10 is
    TakeOrderedAndProject on exact integer counts."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", F.to_date("ts")).orderBy(
        "ts", "event_id"
    )
    ranked = e.select(
        "user_id",
        F.to_date("ts").alias("day"),
        "event_type",
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") <= 3)
    paths = ranked.groupBy("user_id", "day").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("rn", "event_type"))
                ),
                lambda s: s.event_type,
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(10)
    )


_CONV_LATENCY_SQL = """
    WITH c AS (
        SELECT user_id, event_id, epoch_us(ts) AS t
        FROM events WHERE event_type = 'click'
    ),
    p AS (
        SELECT user_id, epoch_us(ts) AS pt
        FROM events WHERE event_type = 'purchase'
    ),
    lat AS (
        SELECT c.user_id, c.event_id, min(p.pt - c.t) AS lat_us
        FROM c JOIN p ON p.user_id = c.user_id
                     AND p.pt > c.t AND p.pt <= c.t + 3600000000
        GROUP BY 1, 2
    )
    SELECT count(*) AS n_conversions,
           round(quantile_cont(lat_us, 0.25), 2) AS p25_us_r,
           round(quantile_cont(lat_us, 0.50), 2) AS p50_us_r,
           round(quantile_cont(lat_us, 0.75), 2) AS p75_us_r,
           round(quantile_cont(lat_us, 0.90), 2) AS p90_us_r
    FROM lat
"""


@register("conversion_latency_quantiles", oracle=_CONV_LATENCY_SQL)
def conversion_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase conversion-latency distribution: for every
    converting click (first purchase within the hour), exact latency
    quantiles — the "how fast does the funnel move" companion to
    ``event_followed_by``'s "how often".

    Scale shape: the candidate join is the same user-keyed equi-join
    with a time-range filter (fan-out bounded per user's event
    density); min-latency per click is a grouped agg riding the same
    user partitioning; the final exact ``percentile`` is ONE 1-row
    aggregate (mergeable partial state). Latencies stay in integer
    epoch-micros, so the interpolated quantiles land on exact binary
    quarter/tenth grids — round 2 is far from any midpoint in both
    engines (``rolling_median`` discipline)."""
    e = table(spark, sf_dir, "events")
    c = e.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", F.unix_micros("ts").alias("t")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.unix_micros("ts").alias("pt")
    )
    lat = (
        c.join(
            p,
            (F.col("p_user") == F.col("user_id"))
            & (F.col("pt") > F.col("t"))
            & (F.col("pt") <= F.col("t") + F.lit(3_600_000_000)),
        )
        .groupBy("user_id", "event_id")
        .agg(F.min(F.col("pt") - F.col("t")).alias("lat_us"))
    )
    q = lat.agg(
        F.count("*").alias("n_conversions"),
        *[
            F.round(F.percentile("lat_us", F.lit(frac)), 2).alias(name)
            for frac, name in (
                (0.25, "p25_us_r"),
                (0.50, "p50_us_r"),
                (0.75, "p75_us_r"),
                (0.90, "p90_us_r"),
            )
        ],
    )
    return q


_GAPFILL_INTERP = f"""
    WITH agg AS (
        SELECT event_type, date_trunc('hour', ts)::TIMESTAMP AS bucket,
               {money_sum_sql('value')}::DOUBLE AS sum_value
        FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM agg),
    spine AS (
        SELECT t.event_type, g.bucket
        FROM (SELECT DISTINCT event_type FROM agg) t
        CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
                        AS bucket
                    FROM bounds) g
    ),
    marked AS (
        SELECT s.event_type, s.bucket, a.sum_value,
               last_value(a.sum_value IGNORE NULLS) OVER w_prev AS pv,
               last_value(CASE WHEN a.sum_value IS NOT NULL
                               THEN s.bucket END IGNORE NULLS)
                   OVER w_prev AS pt,
               first_value(a.sum_value IGNORE NULLS) OVER w_next AS nv,
               first_value(CASE WHEN a.sum_value IS NOT NULL
                                THEN s.bucket END IGNORE NULLS)
                   OVER w_next AS nt
        FROM spine s
        LEFT JOIN agg a ON a.event_type = s.event_type
                       AND a.bucket = s.bucket
        WINDOW w_prev AS (PARTITION BY s.event_type ORDER BY s.bucket
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               w_next AS (PARTITION BY s.event_type ORDER BY s.bucket
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, bucket, sum_value,
           floor((CASE
             WHEN sum_value IS NOT NULL THEN sum_value
             WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                 pv + (nv - pv)
                      * (epoch_us(bucket) - epoch_us(pt))
                      / (epoch_us(nt) - epoch_us(pt))
             WHEN pv IS NOT NULL THEN pv
             ELSE nv
           END) * 10000 + 0.5) / 10000 AS interp_r
    FROM marked
"""


@register("gapfill_linear_interp", oracle=_GAPFILL_INTERP)
def gapfill_linear_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap fill by LINEAR INTERPOLATION: silent hours get the straight
    line between the surrounding observations (edges hold the nearest
    value) — the smoother sibling of ``time_bucket_gapfill``'s LOCF,
    right when the metric is a level, wrong when it's an event sum
    (both belong in the toolbox; TimescaleDB ships both).

    Scale shape: identical to the LOCF path — one grouped collapse of
    the fact table, spine/bounds from the small aggregate, then TWO
    windows over the densified grid (backward last + forward first,
    both PARTITIONED by event_type and both over the types×hours grid,
    not the fact table). The interpolation fraction uses integer
    epoch-micros; both engines evaluate the identical expression tree
    on cents-exact endpoint doubles, and no 4-decimal rounding midpoint
    is exactly representable for hour-gap denominators (dollars =
    cents/100 keeps the rational non-dyadic), so round 4 is safe."""
    from pyspark.sql import Window as W

    e = table(spark, sf_dir, "events")
    agg = cut(
        e.groupBy("event_type", F.date_trunc("hour", "ts").alias("bucket"))
        .agg(
            money_sum(F.col("value"))
            .cast("double")
            .alias("sum_value")
        ),
        "gapfill_linear_interp.agg",
    )
    bounds = agg.agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
    hours = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias(
            "bucket"
        )
    )
    spine = agg.select("event_type").distinct().crossJoin(F.broadcast(hours))
    w_prev = (
        W.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_next = (
        W.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    obs_bucket = F.when(F.col("sum_value").isNotNull(), F.col("bucket"))
    marked = spine.join(
        F.broadcast(agg), ["event_type", "bucket"], "left"
    ).select(
        "event_type",
        "bucket",
        "sum_value",
        F.last("sum_value", ignorenulls=True).over(w_prev).alias("pv"),
        F.last(obs_bucket, ignorenulls=True).over(w_prev).alias("pt"),
        F.first("sum_value", ignorenulls=True).over(w_next).alias("nv"),
        F.first(obs_bucket, ignorenulls=True).over(w_next).alias("nt"),
    )
    # association must mirror the oracle exactly: ((nv-pv) * dt) / T, not
    # (nv-pv) * (dt/T) — the two round differently in the last ulp and the
    # sf0.001 gate catches it
    dt = F.unix_micros("bucket") - F.unix_micros("pt")
    tt = F.unix_micros("nt") - F.unix_micros("pt")
    interp = (
        F.when(F.col("sum_value").isNotNull(), F.col("sum_value"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.col("pv") + (F.col("nv") - F.col("pv")) * dt / tt,
        )
        .when(F.col("pv").isNotNull(), F.col("pv"))
        .otherwise(F.col("nv"))
    )
    # portable floor-ties quantizer instead of round(): interpolated values
    # can sit a last-ulp below a decimal midpoint, where Spark's BigDecimal
    # HALF_UP (on the shortest repr) and DuckDB's scaled-nearbyint disagree;
    # floor(x*10^4 + 0.5)/10^4 evaluates the identical double tree in both
    return marked.select(
        "event_type",
        "bucket",
        "sum_value",
        (F.floor(interp * 10000 + 0.5) / 10000).alias("interp_r"),
    )


_STRICT_FUNNEL = """
    WITH v AS (
        SELECT user_id, event_id AS vid, epoch_us(ts) AS vt
        FROM events WHERE event_type = 'view'
    ),
    c AS (
        SELECT user_id, epoch_us(ts) AS ct
        FROM events WHERE event_type = 'click'
    ),
    p AS (
        SELECT user_id, epoch_us(ts) AS pt
        FROM events WHERE event_type = 'purchase'
    ),
    vc AS (
        SELECT v.user_id, v.vid, v.vt, min(c.ct) AS ct
        FROM v JOIN c ON c.user_id = v.user_id
                     AND c.ct > v.vt AND c.ct <= v.vt + 3600000000
        GROUP BY 1, 2, 3
    ),
    vcp AS (
        SELECT vc.user_id, vc.vid, min(p.pt) AS pt
        FROM vc JOIN p ON p.user_id = vc.user_id
                      AND p.pt > vc.ct AND p.pt <= vc.ct + 3600000000
        GROUP BY 1, 2
    ),
    tot AS (SELECT count(*) AS n_views FROM v),
    s2 AS (SELECT count(*) AS n_clicked FROM vc),
    s3 AS (SELECT count(*) AS n_purchased FROM vcp)
    SELECT t.n_views, s2.n_clicked, s3.n_purchased,
           round(s2.n_clicked * 1.0 / t.n_views, 6) AS step2_rate_r,
           round(s3.n_purchased * 1.0 / s2.n_clicked, 6) AS step3_rate_r,
           round(s3.n_purchased * 1.0 / t.n_views, 6) AS overall_rate_r
    FROM tot t CROSS JOIN s2 CROSS JOIN s3
"""


@register("strict_funnel_conversion", oracle=_STRICT_FUNNEL)
def strict_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order funnel with per-step deadlines: view → FIRST click
    within 1h → FIRST purchase within 1h OF THAT CLICK. Stricter than
    ``funnel_analysis`` (step sets, no ordering) and deeper than
    ``event_followed_by`` (one hop): each step's clock starts at the
    previous step's completion, which is how product funnels are
    actually specified.

    Scale shape: two user-keyed equi-joins with time-range join filters
    (fan-out bounded by per-user event density — the same containment
    as ``event_followed_by``), each followed by a min-aggregate keyed
    on the funnel entry (the view event), so one entry contributes one
    path regardless of how many clicks/purchases land in its windows.
    Counts collapse to a 3-way broadcast cross of 1-row aggregates."""
    e = table(spark, sf_dir, "events")
    v = e.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("vid"), F.unix_micros("ts").alias("vt")
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.unix_micros("ts").alias("ct")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.unix_micros("ts").alias("pt")
    )
    hour = F.lit(3_600_000_000)
    vc = (
        v.join(
            c,
            (F.col("cu") == F.col("user_id"))
            & (F.col("ct") > F.col("vt"))
            & (F.col("ct") <= F.col("vt") + hour),
        )
        .groupBy("user_id", "vid", "vt")
        .agg(F.min("ct").alias("ct"))
    )
    vcp = (
        vc.join(
            p,
            (F.col("pu") == F.col("user_id"))
            & (F.col("pt") > F.col("ct"))
            & (F.col("pt") <= F.col("ct") + hour),
        )
        .groupBy("user_id", "vid")
        .agg(F.min("pt").alias("pt"))
    )
    tot = v.agg(F.count("*").alias("n_views"))
    s2 = vc.agg(F.count("*").alias("n_clicked"))
    s3 = vcp.agg(F.count("*").alias("n_purchased"))
    return (
        tot.crossJoin(F.broadcast(s2))
        .crossJoin(F.broadcast(s3))
        .select(
            "n_views",
            "n_clicked",
            "n_purchased",
            F.round(F.col("n_clicked") / F.col("n_views"), 6).alias(
                "step2_rate_r"
            ),
            F.round(F.col("n_purchased") / F.col("n_clicked"), 6).alias(
                "step3_rate_r"
            ),
            F.round(F.col("n_purchased") / F.col("n_views"), 6).alias(
                "overall_rate_r"
            ),
        )
    )


@register(
    "zorder_pruning_audit",
    oracle=f"""
    WITH {_ZORDER_EXT_SQL},
    probe AS (
        SELECT 'x' AS dim, min_x AS lo_d, max_x AS hi_d FROM ext
        UNION ALL
        SELECT 'y', min_y, max_y FROM ext
    )
    SELECT dim, count(*) AS n_tiles,
           sum(CASE WHEN hi_d < 96 OR lo_d > 127 THEN 1 ELSE 0 END)::BIGINT
               AS n_pruned,
           round(sum(CASE WHEN hi_d < 96 OR lo_d > 127 THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 4) AS pruned_frac_r
    FROM probe GROUP BY 1
    """,
)
def zorder_pruning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-pruning effectiveness of the Z-order layout: for a selective
    range predicate covering one 32-bucket stripe ([96, 127] of the
    256-bucket domain, 1/8 of the range) on EACH dimension, the fraction
    of the 32 'files' whose footer extents exclude the predicate — i.e.
    what a parquet reader would actually skip. This turns
    ``zorder_layout_extents``' raw footer stats into the number a
    storage team tunes on: a single-column sort prunes ~7/8 of files on
    the sort column and ~0 on the other; a balanced Z-order prunes a
    comparable fraction on BOTH (pinned by pytest).

    Scale shape: rides the extents lineage (range-partitioned
    distributed rank — no partitionless window) and then aggregates the
    32-row tile table; the audit itself moves 2 rows."""
    ext = zorder_layout_extents(spark, sf_dir)
    x = ext.select(
        F.lit("x").alias("dim"),
        F.col("min_x").alias("lo_d"),
        F.col("max_x").alias("hi_d"),
    )
    y = ext.select(
        F.lit("y").alias("dim"),
        F.col("min_y").alias("lo_d"),
        F.col("max_y").alias("hi_d"),
    )
    pruned = F.when((F.col("hi_d") < 96) | (F.col("lo_d") > 127), 1).otherwise(0)
    return (
        x.unionAll(y)
        .groupBy("dim")
        .agg(
            F.count("*").alias("n_tiles"),
            F.sum(pruned).cast("long").alias("n_pruned"),
            F.round(F.sum(pruned) / F.count("*"), 4).alias("pruned_frac_r"),
        )
    )


@register(
    "hilbert_pruning_audit",
    oracle=f"""
    WITH {_ZBUCKET_SQL},
    {hilbert_oracle_ctes('x', 'y', 'b', 'x, y', bits=8)},
    t AS (
        SELECT x, y, ntile(32) OVER (ORDER BY hd, x, y) AS file_id
        FROM h8
    ),
    ext AS (
        SELECT file_id::INT AS file_id, count(*)::BIGINT AS n_rows,
               min(x)::BIGINT AS min_x, max(x)::BIGINT AS max_x,
               min(y)::BIGINT AS min_y, max(y)::BIGINT AS max_y
        FROM t GROUP BY 1
    ),
    probe AS (
        SELECT 'x' AS dim, min_x AS lo_d, max_x AS hi_d FROM ext
        UNION ALL
        SELECT 'y', min_y, max_y FROM ext
    )
    SELECT dim, count(*) AS n_tiles,
           sum(CASE WHEN hi_d < 96 OR lo_d > 127 THEN 1 ELSE 0 END)::BIGINT
               AS n_pruned,
           round(sum(CASE WHEN hi_d < 96 OR lo_d > 127 THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 4) AS pruned_frac_r
    FROM probe GROUP BY 1
    """,
)
def hilbert_pruning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-pruning effectiveness of the HILBERT layout — the same
    one-stripe probe as ``zorder_pruning_audit`` ([96, 127] of the 256
    domain, 1/8 of the range, on each dimension) over
    ``hilbert_layout_extents``' 32 tile footers. This registers the
    Hilbert half of the curve comparison as driver-checked evidence
    (VERDICT r14 item 6): the round-14 pytest pins extent AREA <=
    Z-order's; this query gives the operational number (fraction of files
    a selective filter skips) the layout choice is actually made on, and
    the round-15 pytest pins it >= the Z-order audit's on both dims.

    Scale shape: identical to the Z-order twin — rides the extents
    lineage (range-partitioned distributed rank, no partitionless
    window); the audit itself moves 2 rows."""
    ext = hilbert_layout_extents(spark, sf_dir)
    x = ext.select(
        F.lit("x").alias("dim"),
        F.col("min_x").alias("lo_d"),
        F.col("max_x").alias("hi_d"),
    )
    y = ext.select(
        F.lit("y").alias("dim"),
        F.col("min_y").alias("lo_d"),
        F.col("max_y").alias("hi_d"),
    )
    pruned = F.when((F.col("hi_d") < 96) | (F.col("lo_d") > 127), 1).otherwise(0)
    return (
        x.unionAll(y)
        .groupBy("dim")
        .agg(
            F.count("*").alias("n_tiles"),
            F.sum(pruned).cast("long").alias("n_pruned"),
            F.round(F.sum(pruned) / F.count("*"), 4).alias("pruned_frac_r"),
        )
    )


_TIER_MIGRATION = f"""
    WITH spend AS (
        SELECT o_custkey, year(o_orderdate) AS y,
               {money_sum_sql('o_totalprice')} AS s
        FROM orders WHERE year(o_orderdate) IN (1995, 1996)
        GROUP BY 1, 2
    ),
    tiers AS (
        SELECT o_custkey, y,
               CASE WHEN s > 600000 THEN 'gold'
                    WHEN s > 300000 THEN 'silver'
                    ELSE 'bronze' END AS tier
        FROM spend
    )
    SELECT coalesce(a.tier, 'none') AS tier_1995,
           coalesce(b.tier, 'none') AS tier_1996,
           count(*) AS n_customers
    FROM tiers a
    FULL JOIN tiers b ON b.o_custkey = a.o_custkey
                     AND a.y = 1995 AND b.y = 1996
    WHERE coalesce(a.y, 1995) = 1995 AND coalesce(b.y, 1996) = 1996
    GROUP BY 1, 2
"""


@register("tier_migration_matrix", oracle=_TIER_MIGRATION)
def tier_migration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer tier-migration matrix 1995→1996: spend tiers derived per
    year (the ``cte_pipeline`` tiering made longitudinal), full-outer
    joined on customer so entrants and churners surface as the 'none'
    row/column — the upgrade/downgrade/churn report a CRM team reads
    quarterly. The categorical-state counterpart of
    ``event_transitions``' event bigrams.

    Scale shape: one filtered grouped agg per year (decimal-exact
    spend), a CASE projection, one keyed full-outer self-join on the
    customer key, and a ≤16-cell grouped count. The WHERE keeps only
    the 1995-side × 1996-side match pattern of the full join (each
    year's rows pair once)."""
    o = table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate").isin(1995, 1996)
    )
    spend = o.groupBy(
        "o_custkey", F.year("o_orderdate").alias("y")
    ).agg(
        money_sum(F.col("o_totalprice")).alias(
            "s"
        )
    )
    tiers = spend.select(
        "o_custkey",
        "y",
        F.when(F.col("s") > 600000, "gold")
        .when(F.col("s") > 300000, "silver")
        .otherwise("bronze")
        .alias("tier"),
    )
    a = tiers.filter(F.col("y") == 1995).select(
        F.col("o_custkey").alias("ck"), F.col("tier").alias("tier_1995")
    )
    b = tiers.filter(F.col("y") == 1996).select(
        F.col("o_custkey").alias("ck"), F.col("tier").alias("tier_1996")
    )
    return (
        a.join(b, "ck", "full")
        .groupBy(
            F.coalesce("tier_1995", F.lit("none")).alias("tier_1995"),
            F.coalesce("tier_1996", F.lit("none")).alias("tier_1996"),
        )
        .agg(F.count("*").alias("n_customers"))
    )


_LTV_SQL = f"""
    WITH fs AS (
        SELECT o_custkey,
               min(date_trunc('month', o_orderdate))::TIMESTAMP AS cohort
        FROM orders GROUP BY 1
    ),
    rev AS (
        SELECT f.cohort,
               datediff('month', f.cohort,
                        date_trunc('month', o.o_orderdate)) AS age,
               CAST({money_sum_sql('o.o_totalprice')} * 100
                    AS BIGINT) AS rev_c
        FROM orders o JOIN fs f ON f.o_custkey = o.o_custkey
        GROUP BY 1, 2
    ),
    sizes AS (SELECT cohort, count(*) AS n_cust FROM fs GROUP BY 1),
    cum AS (
        SELECT r.cohort, r.age, s.n_cust,
               sum(r.rev_c) OVER (PARTITION BY r.cohort ORDER BY r.age
                                  ROWS UNBOUNDED PRECEDING) AS cum_c
        FROM rev r JOIN sizes s ON s.cohort = r.cohort
    )
    SELECT cohort, age, n_cust,
           round(cum_c / 100.0 / n_cust, 2) AS ltv_per_cust_r
    FROM cum WHERE age <= 11 AND year(cohort) <= 1996
"""


@register("cohort_ltv_curve", oracle=_LTV_SQL)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves: cumulative revenue per customer by cohort age
    (months since first order), first-year cohorts × first 12 months —
    the growth-analytics read that ``retention_cohorts`` (activity) and
    ``cumulative_unique_users`` (acquisition) don't give: how much a
    cohort is WORTH as it ages, and whether newer cohorts monetize
    faster.

    Scale shape: first-seen reduction (min month per customer), one
    (cohort, age) grouped rollup in exact cents, cohort sizes as a
    month-spine aggregate, and the cumulative sum a window PARTITIONED
    by cohort over the ≤12-row age spine. Division by cohort size
    happens once per (cohort, age) on exact integers."""
    o = table(spark, sf_dir, "orders")
    from pyspark.sql import Window

    fs = o.groupBy("o_custkey").agg(
        F.min(F.date_trunc("month", "o_orderdate")).alias("cohort")
    )
    rev = (
        o.join(fs, "o_custkey")
        .groupBy(
            "cohort",
            (
                F.months_between(
                    F.date_trunc("month", "o_orderdate"), F.col("cohort")
                )
            )
            .cast("long")
            .alias("age"),
        )
        .agg(
            (
                money_sum(F.col("o_totalprice"))
                * 100
            )
            .cast("long")
            .alias("rev_c")
        )
    )
    sizes = fs.groupBy("cohort").agg(F.count("*").alias("n_cust"))
    w = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = rev.join(sizes, "cohort").select(
        "cohort",
        "age",
        "n_cust",
        F.sum("rev_c").over(w).alias("cum_c"),
    )
    return cum.filter(
        (F.col("age") <= 11) & (F.year("cohort") <= 1996)
    ).select(
        "cohort",
        "age",
        "n_cust",
        F.round(F.col("cum_c") / 100.0 / F.col("n_cust"), 2).alias(
            "ltv_per_cust_r"
        ),
    )


# ------------------------------------------------ rolling active users

_RAU_SQL = """
    WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    mx AS (SELECT max(CAST(ts AS DATE)) AS dmax FROM events),
    cov AS (
        SELECT DISTINCT user_id, d + t.i::INTEGER AS day
        FROM ud CROSS JOIN range(7) t(i)
    )
    SELECT day, count(*) AS wau
    FROM cov CROSS JOIN mx
    WHERE day <= dmax
    GROUP BY 1
"""


@register("rolling_active_users", oracle=_RAU_SQL)
def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day active users (WAU) per calendar day — the rolling
    engagement curve. A COUNT(DISTINCT) over a sliding window is not
    directly expressible as a Spark window function; the scalable
    identity used here: a user's activity on day d makes them "active"
    on each of d..d+6, so WAU(day) = |distinct (user, covered-day)|.

    Scale shape: one (user, day) dedup (shuffle keyed on user+day), a
    constant ×7 ``sequence`` explode — NO per-window recount and no
    window state — then a second dedup and a count keyed on the bounded
    calendar-day domain. Linear in events with a fixed ×7 factor; the
    day spine is clipped to the observed max via a broadcast 1-row max
    so the curve has no ramp-out tail."""
    e = table(spark, sf_dir, "events")
    ud = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    mx = e.agg(F.max(F.to_date("ts")).alias("dmax"))
    cov = (
        ud.select(
            "user_id",
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
            "d",
        )
        .select("user_id", F.date_add("d", F.col("i")).alias("day"))
        .distinct()
    )
    return (
        cov.crossJoin(F.broadcast(mx))
        .filter(F.col("day") <= F.col("dmax"))
        .groupBy("day")
        .agg(F.count("*").alias("wau"))
    )


# ---------------------------------------------- correlated LATERAL join

_LATERAL_TOPK = """
    SELECT n.n_name, t.c_name, t.bal_r
    FROM nation n, LATERAL (
        SELECT c_name, round(c_acctbal, 2) AS bal_r
        FROM customer c
        WHERE c.c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_name LIMIT 3) t
"""


@register("lateral_topk_per_group", oracle=_LATERAL_TOPK)
def lateral_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: per nation, the top-3 customers by
    account balance — the SQL-surface sibling of ``window_topk_group``
    (same result shape, but exercising Spark's lateral-join decorrelation
    instead of a rank window; the ONE SQL string runs verbatim on both
    engines). Tie-break on (balance desc, name) keeps the cut
    deterministic.

    Scale shape: Catalyst decorrelates the lateral subquery into a
    partitioned rank-and-filter over the customer table — the dimension
    side (nation) never drives a per-row re-scan."""
    return _sql(spark, sf_dir, ("nation", "customer"), _LATERAL_TOPK)


# ------------------------------------- position-based attribution (U)

_UATTR_SQL = f"""
    WITH fp AS (
        SELECT user_id, min(ts) AS first_purch_ts
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1
    ),
    pv AS (
        SELECT user_id, v_c FROM (
            SELECT e.user_id,
                   {cents_sql('e.value')} AS v_c,
                   row_number() OVER (PARTITION BY e.user_id
                                      ORDER BY e.ts, e.event_id) AS rn
            FROM events e JOIN fp ON fp.user_id = e.user_id
                                AND e.ts = fp.first_purch_ts
            WHERE e.event_type = 'purchase'
        ) WHERE rn = 1
    ),
    clk AS (
        SELECT e.user_id,
               (e.props->>'$.k')::BIGINT % 5 AS channel,
               row_number() OVER (PARTITION BY e.user_id
                                  ORDER BY e.ts, e.event_id) AS pos,
               count(*) OVER (PARTITION BY e.user_id) AS n
        FROM events e JOIN fp ON fp.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts < fp.first_purch_ts
    ),
    credit AS (
        SELECT c.channel,
               CASE
                   WHEN c.n = 1 THEN p.v_c
                   WHEN c.n = 2 AND c.pos = 1
                       THEN p.v_c // 2 + p.v_c % 2
                   WHEN c.n = 2 THEN p.v_c // 2
                   WHEN c.pos = 1 OR c.pos = c.n THEN (p.v_c * 2) // 5
                   ELSE (p.v_c - 2 * ((p.v_c * 2) // 5)) // (c.n - 2)
                        + CASE WHEN c.pos - 2
                                    < (p.v_c - 2 * ((p.v_c * 2) // 5))
                                      % (c.n - 2)
                               THEN 1 ELSE 0 END
               END AS credit_c
        FROM clk c JOIN pv p USING (user_id)
    )
    SELECT channel, count(*) AS n_touches,
           sum(credit_c)::BIGINT AS credit_c
    FROM credit GROUP BY 1
"""


@register("position_based_attribution", oracle=_UATTR_SQL)
def position_based_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped (position-based) multi-touch attribution: each user's
    first purchase value is split across the clicks that preceded it —
    40% to the first touch, 40% to the last, 20% shared by the middles —
    then rolled up by channel (the props key mod 5). Complements
    ``attribution_last_touch`` with the standard position-weighted
    model.

    Exactness: the split is pure integer-cent arithmetic with an
    explicit remainder policy (odd cent to the first of two; middle-pot
    remainder to the earliest middles), so credits sum back to the
    purchase EXACTLY and both engines agree bit-for-bit.

    Scale shape: per-user windows (position/count) on the click slice,
    two keyed joins, and a 5-key channel rollup — no global windows."""
    e = table(spark, sf_dir, "events")
    fp = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purch_ts"))
    )
    from pyspark.sql import Window as _W

    wfirst = _W.partitionBy("user_id").orderBy("ts", "event_id")
    pv = (
        e.filter(F.col("event_type") == "purchase")
        .join(fp, "user_id")
        .filter(F.col("ts") == F.col("first_purch_ts"))
        .withColumn("rn", F.row_number().over(wfirst))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            cents(F.col("value")).alias("v_c"),
        )
    )
    from pyspark.sql import Window

    wpos = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcnt = Window.partitionBy("user_id")
    clk = (
        e.filter(F.col("event_type") == "click")
        .join(fp, "user_id")
        .filter(F.col("ts") < F.col("first_purch_ts"))
        .select(
            "user_id",
            (F.get_json_object("props", "$.k").cast("long") % 5).alias("channel"),
            F.row_number().over(wpos).alias("pos"),
            F.count("*").over(wcnt).alias("n"),
        )
    )
    first40 = F.expr("(v_c * 2) div 5")
    # middle share + earliest-middle remainder, all integer cents
    mid_share = F.expr(
        "(v_c - 2 * ((v_c * 2) div 5)) div (n - 2)"
        " + CASE WHEN pos - 2 < (v_c - 2 * ((v_c * 2) div 5)) % (n - 2)"
        " THEN 1 ELSE 0 END"
    )
    credit = clk.join(pv, "user_id").select(
        "channel",
        F.when(F.col("n") == 1, F.col("v_c"))
        .when(
            (F.col("n") == 2) & (F.col("pos") == 1),
            F.expr("v_c div 2") + F.col("v_c") % 2,
        )
        .when(F.col("n") == 2, F.expr("v_c div 2"))
        .when((F.col("pos") == 1) | (F.col("pos") == F.col("n")), first40)
        .otherwise(mid_share)
        .alias("credit_c"),
    )
    return credit.groupBy("channel").agg(
        F.count("*").alias("n_touches"),
        F.sum("credit_c").cast("long").alias("credit_c"),
    )


# ------------------------------------------ off-policy bandit evaluation

_IPS_SQL = f"""
    WITH logged AS (
        SELECT user_id % 2 AS arm_logged,
               dayofmonth(ts) % 2 AS arm_target,
               {cents_sql('value')}
                   AS r_c
        FROM events WHERE event_type = 'purchase'
    ),
    agg AS (
        SELECT count(*)::BIGINT AS n,
               sum(CASE WHEN arm_target = arm_logged THEN 1 ELSE 0 END)
                   ::BIGINT AS n_matched,
               sum(CASE WHEN arm_target = arm_logged THEN r_c ELSE 0 END)
                   ::BIGINT AS sum_r_matched
        FROM logged
    )
    SELECT n, n_matched,
           round(2.0 * sum_r_matched / n / 100, 6) AS ips_r,
           round(sum_r_matched * 1.0 / n_matched / 100, 6) AS snips_r
    FROM agg
"""


@register("ips_offpolicy_eval", oracle=_IPS_SQL)
def ips_offpolicy_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Off-policy evaluation of a deterministic target policy from logged
    bandit data (Horvitz-Thompson IPS and the self-normalized SNIPS,
    Swaminathan-Joachims 2015): the logging policy assigns arms uniformly
    by user parity (known propensity 1/2), the target policy picks by
    day-of-month parity; the estimators replay only the matching
    interactions, weighted 1/p = 2. SNIPS divides by the realized weight
    mass (here: the matched count) — the variance-reduced variant every
    recommender replay uses.

    Exactness: rewards are exact cents (longs); both estimates are single
    double divisions of exact integer sums — no float crosses rows.

    Scale shape: ONE filtered fact pass to a 1-row conditional-sum
    aggregate (map-side combinable); nothing else."""
    e = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    logged = e.select(
        (F.col("user_id") % 2).alias("arm_logged"),
        (F.dayofmonth("ts") % 2).alias("arm_target"),
        cents(F.col("value")).alias("r_c"),
    )
    m = F.col("arm_target") == F.col("arm_logged")
    agg = logged.agg(
        F.count("*").alias("n"),
        F.sum(F.when(m, 1).otherwise(0)).alias("n_matched"),
        F.sum(F.when(m, F.col("r_c")).otherwise(0)).alias("sum_r_matched"),
    )
    return agg.select(
        "n",
        "n_matched",
        F.round(F.lit(2.0) * F.col("sum_r_matched") / F.col("n") / 100, 6).alias(
            "ips_r"
        ),
        F.round(
            F.col("sum_r_matched") * F.lit(1.0) / F.col("n_matched") / 100, 6
        ).alias("snips_r"),
    )


# ------------------------------------------------------------------ round 8

# Markov removal-effect attribution (Anderl et al. 2014): model user
# journeys as a first-order chain over channel states with absorbing
# CONV/DROP; a channel's credit is how much the conversion probability
# falls when the channel is removed (its inbound transitions redirect to
# DROP). Absorption is evaluated by K=8 unrolled hops — a deterministic
# truncation both engines compute identically (self-loops make CONV/DROP
# absorbing, so hop-8 CONV mass is "absorbed within 8 steps").
_MARKOV_HOPS = 8
_MARKOV_CHANNELS = ("click", "view", "signup", "error")


def _markov_sql() -> str:
    hops = ""
    for t in range(1, _MARKOV_HOPS + 1):
        hops += f""",
    hop{t} AS (
        SELECT m.cfg, m.dst AS st, round(sum(p.p * m.q), 8) AS p
        FROM hop{t - 1} p JOIN m ON m.cfg = p.cfg AND m.src = p.st
        GROUP BY 1, 2
    )"""
    chans = ", ".join(f"'{c}'" for c in _MARKOV_CHANNELS)
    return f"""
    WITH fp AS (
        SELECT user_id, ts AS fts, event_id AS fid
        FROM (
            SELECT user_id, ts, event_id,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events WHERE event_type = 'purchase'
        ) WHERE rn = 1
    ),
    ev AS (
        SELECT e.user_id, e.ts, e.event_id,
               CASE WHEN e.event_type = 'purchase' THEN 'CONV'
                    ELSE e.event_type END AS st
        FROM events e LEFT JOIN fp ON e.user_id = fp.user_id
        WHERE fp.fts IS NULL
           OR e.ts < fp.fts OR (e.ts = fp.fts AND e.event_id <= fp.fid)
    ),
    seq AS (
        SELECT user_id, st,
               lead(st) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS nxt,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS pos
        FROM ev
    ),
    trans AS (
        SELECT 'START' AS src, st AS dst FROM seq WHERE pos = 1
        UNION ALL
        SELECT st AS src, coalesce(nxt, 'DROP') AS dst
        FROM seq WHERE st <> 'CONV'
    ),
    cnt AS (SELECT src, dst, count(*) AS c FROM trans GROUP BY 1, 2),
    cfgs AS (SELECT unnest(['none', {chans}]) AS cfg),
    redirected AS (
        SELECT cfg, src,
               CASE WHEN dst = cfg THEN 'DROP' ELSE dst END AS dst,
               sum(c) AS c
        FROM cnt CROSS JOIN cfgs
        WHERE src <> cfg
        GROUP BY 1, 2, 3
    ),
    m0 AS (
        SELECT cfg, src, dst,
               c::DOUBLE / sum(c) OVER (PARTITION BY cfg, src) AS q
        FROM redirected
    ),
    m AS (
        SELECT cfg, src, dst, q FROM m0
        UNION ALL
        SELECT cfg, s, s, 1.0
        FROM cfgs CROSS JOIN (SELECT unnest(['CONV', 'DROP']) AS s)
    ),
    hop0 AS (SELECT cfg, 'START' AS st, 1.0 AS p FROM cfgs){hops},
    conv AS (
        SELECT cfg, coalesce(max(p) FILTER (WHERE st = 'CONV'), 0.0) AS cv
        FROM hop{_MARKOV_HOPS} GROUP BY cfg
    ),
    eff AS (
        SELECT r.cfg AS channel,
               round(f.cv, 6) AS conv_full_r,
               round(r.cv, 6) AS conv_removed_r,
               round((f.cv - r.cv) / f.cv, 6)::DECIMAL(18,6) AS e
        FROM conv r CROSS JOIN (SELECT cv FROM conv WHERE cfg = 'none') f
        WHERE r.cfg <> 'none'
    )
    SELECT channel, conv_full_r, conv_removed_r,
           CAST(e AS DOUBLE) AS removal_effect_r,
           round(e::DOUBLE / (sum(e) OVER ())::DOUBLE, 6) AS attribution_r
    FROM eff
"""


@register("markov_attribution_removal", oracle=_markov_sql())
def markov_attribution_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain removal-effect attribution (Anderl et al. 2014) over
    user journeys truncated at the first purchase: each channel's credit
    is the relative drop in 8-hop absorption probability into CONV when
    the channel's inbound transitions redirect to DROP — the data-driven
    multi-touch model complementing the heuristic ``attribution_last_touch``
    and ``position_based_attribution``.

    Determinism: transition probabilities are exact-count ratios (one
    double division each); every hop's state mass is a ≤7-term sum rounded
    HALF_UP to 8 (the ``pagerank_nations`` discipline, replicated exactly
    in the Arrow kernel); the attribution shares normalize
    DECIMAL-quantized effects so the 4-term denominator is
    order-independent.

    Scale shape: journeys collapse to a ≤7×7 transition-count matrix in
    ONE keyed window pass over events + one groupBy (the matrix is
    channel-domain bounded at any data volume). The 8 absorption hops per
    removal config run in ONE ``applyInPandas`` over the 5 config groups —
    the brief's pattern for bounded iterative state; expressing them as 8
    chained join+agg rounds planned ~16 AQE stages of pure overhead for
    dimension-sized data. The oracle unrolls the same hops as SQL CTEs."""
    from pyspark.sql import Window as _W

    e = table(spark, sf_dir, "events")
    wp = _W.partitionBy("user_id").orderBy("ts", "event_id")
    fp = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", "event_id", F.row_number().over(wp).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("ts").alias("fts"), F.col("event_id").alias("fid"))
    )
    ev = (
        e.join(fp, "user_id", "left")
        .filter(
            F.col("fts").isNull()
            | (F.col("ts") < F.col("fts"))
            | ((F.col("ts") == F.col("fts")) & (F.col("event_id") <= F.col("fid")))
        )
        .select(
            "user_id",
            "ts",
            "event_id",
            F.when(F.col("event_type") == "purchase", "CONV")
            .otherwise(F.col("event_type"))
            .alias("st"),
        )
    )
    seq = ev.select(
        "user_id",
        "st",
        F.lead("st").over(wp).alias("nxt"),
        F.row_number().over(wp).alias("pos"),
    )
    trans = (
        seq.filter(F.col("pos") == 1)
        .select(F.lit("START").alias("src"), F.col("st").alias("dst"))
        .unionAll(
            seq.filter(F.col("st") != "CONV").select(
                F.col("st").alias("src"),
                F.coalesce("nxt", F.lit("DROP")).alias("dst"),
            )
        )
    )
    cnt = trans.groupBy("src", "dst").agg(F.count("*").alias("c"))
    cfgs = const_df(
        spark, [("none",)] + [(c,) for c in _MARKOV_CHANNELS], "cfg STRING"
    )
    redirected = (
        cnt.crossJoin(F.broadcast(cfgs))
        .filter(F.col("src") != F.col("cfg"))
        .groupBy(
            "cfg",
            "src",
            F.when(F.col("dst") == F.col("cfg"), "DROP")
            .otherwise(F.col("dst"))
            .alias("dst"),
        )
        .agg(F.sum("c").alias("c"))
    )
    m0 = redirected.select(
        "cfg",
        "src",
        "dst",
        (
            F.col("c").cast("double")
            / F.sum("c").over(_W.partitionBy("cfg", "src")).cast("double")
        ).alias("q"),
    )
    # 8 absorption hops per config, each config's ≤7×7 matrix in one Arrow
    # group (applyInPandas — the brief's pattern for bounded iterative
    # state; 8 chained join+agg hops cost ~16 AQE-replanned stages of pure
    # overhead for dimension-sized data). Rounding replicates Spark/DuckDB
    # round(x, 8) HALF_UP; CONV/DROP absorb via mass carry-over, identical
    # to the oracle's explicit self-loop rows.
    import math

    import pandas as pd

    def _absorb(pdf: "pd.DataFrame") -> "pd.DataFrame":
        rows = sorted(
            zip(pdf["src"], pdf["dst"], pdf["q"]), key=lambda r: (r[0], r[1])
        )
        p = {"START": 1.0}
        for _ in range(_MARKOV_HOPS):
            nxt: dict[str, float] = {}
            for s in ("CONV", "DROP"):  # absorbing self-loops
                if s in p:
                    nxt[s] = p[s]
            for src, dst, q in rows:
                if src in p:
                    nxt[dst] = nxt.get(dst, 0.0) + p[src] * q
            p = {
                s: math.floor(v * 1e8 + 0.5) / 1e8 for s, v in nxt.items()
            }
        return pd.DataFrame(
            {"cfg": [pdf["cfg"].iloc[0]], "cv": [p.get("CONV", 0.0)]}
        )

    conv = m0.groupBy("cfg").applyInPandas(_absorb, "cfg string, cv double")
    full = conv.filter(F.col("cfg") == "none").select(F.col("cv").alias("fcv"))
    eff = (
        conv.filter(F.col("cfg") != "none")
        .crossJoin(F.broadcast(full))
        .select(
            F.col("cfg").alias("channel"),
            F.round("fcv", 6).alias("conv_full_r"),
            F.round("cv", 6).alias("conv_removed_r"),
            F.round((F.col("fcv") - F.col("cv")) / F.col("fcv"), 6)
            .cast("decimal(18,6)")
            .alias("e"),
        )
    )
    return eff.select(
        "channel",
        "conv_full_r",
        "conv_removed_r",
        F.col("e").cast("double").alias("removal_effect_r"),
        F.round(
            F.col("e").cast("double")
            / F.sum("e").over(_W.partitionBy()).cast("double"),
            6,
        ).alias("attribution_r"),
    )


# ------------------------------------------------- Shapley attribution

#: channel -> bit, and the 16 coalition masks with their 24-scaled Shapley
#: kernel weights |S|!(n-1-|S|)!·(24/4!) = [6,2,2,6] by |S| — PRECOMPUTED
#: literals so neither engine evaluates factorials or popcounts.
_SHAP_CHANNELS = (("click", 1), ("view", 2), ("signup", 4), ("error", 8))
_SHAP_W = {0: 6, 1: 2, 2: 2, 3: 6, 4: 0}  # |S|=4 never excludes a channel
_SHAP_COAL = [
    (s, _SHAP_W[bin(s).count("1")]) for s in range(16)
]  # (mask, weight-of-|S|) for S; weight used when S EXCLUDES the channel


def _shapley_sql() -> str:
    coal_rows = ", ".join(f"({s}, {w})" for s, w in _SHAP_COAL)
    chan_rows = ", ".join(f"('{c}', {b})" for c, b in _SHAP_CHANNELS)
    chan_bits = " ".join(
        f"WHEN '{c}' THEN {b}" for c, b in _SHAP_CHANNELS
    )
    return f"""
    WITH fp AS (
        SELECT user_id, ts AS fts, event_id AS fid
        FROM (
            SELECT user_id, ts, event_id,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events WHERE event_type = 'purchase'
        ) WHERE rn = 1
    ),
    touches AS (
        SELECT DISTINCT e.user_id,
               CASE e.event_type {chan_bits} END AS bit
        FROM events e JOIN fp ON e.user_id = fp.user_id
        WHERE e.event_type <> 'purchase'
          AND (e.ts < fp.fts OR (e.ts = fp.fts AND e.event_id <= fp.fid))
    ),
    umask AS (
        SELECT f.user_id, coalesce(sum(t.bit), 0)::BIGINT AS mask
        FROM fp f LEFT JOIN touches t ON t.user_id = f.user_id
        GROUP BY 1
    ),
    mcnt AS (SELECT mask, count(*) AS n_conv FROM umask GROUP BY 1),
    coal(smask, w) AS (VALUES {coal_rows}),
    v AS (
        SELECT c.smask, c.w, coalesce(sum(m.n_conv), 0)::BIGINT AS v
        FROM coal c LEFT JOIN mcnt m ON (m.mask & ~c.smask) = 0
        GROUP BY 1, 2
    ),
    chan(channel, bit) AS (VALUES {chan_rows}),
    phi AS (
        SELECT ch.channel,
               sum(s.w * (sb.v - s.v))::BIGINT AS phi24_q
        FROM chan ch
        JOIN v s ON (s.smask & ch.bit) = 0
        JOIN v sb ON sb.smask = (s.smask | ch.bit)
        GROUP BY 1
    ),
    tot AS (SELECT sum(phi24_q)::BIGINT AS t FROM phi)
    SELECT p.channel, p.phi24_q,
           round(p.phi24_q / 24.0, 6) AS shapley_r,
           round(p.phi24_q / nullif(t.t, 0)::DOUBLE, 6) AS attribution_r
    FROM phi p CROSS JOIN tot t
"""


@register("shapley_attribution", oracle=_shapley_sql())
def shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Shapley-value multi-touch attribution (Shapley 1953; the
    game-theoretic alternative to ``markov_attribution_removal``): each
    converting user's pre-purchase channel SET defines the data, the
    coalition value v(S) = conversions reachable using only channels in S
    (users whose touched set ⊆ S), and channel i's credit is
    φ_i = Σ_S |S|!(n−1−|S|)!/n!·[v(S∪i) − v(S)]. With n = 4 channels the
    24-scaled kernel weights are the integer literals [6,2,2,6], so
    24·φ_i is an EXACT integer sum of integer conversion counts — both
    engines agree bit-for-bit before the two final roundings; efficiency
    (Σφ = v(N) − v(∅)) makes ``attribution_r`` a true share.

    Scale shape: one events scan → per-user distinct (user, channel-bit)
    touches (keyed aggregate) → exact-mask conversion counts (≤16 rows).
    Everything after that — the subset-sum v(S), the per-channel Shapley
    sum — runs on 16-row literal coalition tables (broadcast); no step
    downstream of the mask aggregate scales with fact rows. The same
    shape holds for n ≤ ~20 channels (2^n coalition rows, still
    dimension-sized); beyond that production samples permutations."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    w_first = Window.partitionBy("user_id").orderBy("ts", "event_id")
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id", "ts", "event_id", F.row_number().over(w_first).alias("rn")
        )
        .filter(F.col("rn") == 1)
        .select(
            "user_id", F.col("ts").alias("fts"), F.col("event_id").alias("fid")
        )
    )
    bit = F.lit(None)
    for c, b in _SHAP_CHANNELS:
        bit = F.when(F.col("event_type") == c, b).otherwise(bit)
    touches = (
        ev.join(fp, "user_id")
        .filter(
            (F.col("event_type") != "purchase")
            & (
                (F.col("ts") < F.col("fts"))
                | ((F.col("ts") == F.col("fts")) & (F.col("event_id") <= F.col("fid")))
            )
        )
        .select("user_id", bit.alias("bit"))
        .distinct()
    )
    umask = (
        fp.join(touches, "user_id", "left")
        .groupBy("user_id")
        .agg(F.coalesce(F.sum("bit"), F.lit(0)).cast("long").alias("mask"))
    )
    mcnt = umask.groupBy("mask").agg(F.count("*").alias("n_conv"))
    coal = const_df(spark, _SHAP_COAL, "smask INT, w INT")
    v = (
        F.broadcast(coal)
        .join(
            mcnt,
            F.expr("(mask & ~smask) = 0"),
            "left",
        )
        .groupBy("smask", "w")
        .agg(F.coalesce(F.sum("n_conv"), F.lit(0)).cast("long").alias("v"))
    )
    chan = const_df(spark, list(_SHAP_CHANNELS), "channel STRING, bit INT")
    s = v.select(
        F.col("smask").alias("s_mask"), F.col("w"), F.col("v").alias("v_s")
    )
    sb = v.select(F.col("smask").alias("sb_mask"), F.col("v").alias("v_sb"))
    phi = (
        F.broadcast(chan)
        .join(F.broadcast(s), F.expr("(s_mask & bit) = 0"))
        .withColumn("want", F.expr("s_mask | bit"))
        .join(F.broadcast(sb), F.col("want") == F.col("sb_mask"))
        .groupBy("channel")
        .agg(
            F.sum(F.col("w") * (F.col("v_sb") - F.col("v_s")))
            .cast("long")
            .alias("phi24_q")
        )
    )
    tot = phi.agg(F.sum("phi24_q").cast("long").alias("t"))
    return phi.crossJoin(F.broadcast(tot)).select(
        "channel",
        "phi24_q",
        F.round(F.col("phi24_q") / 24.0, 6).alias("shapley_r"),
        F.round(
            F.col("phi24_q") / F.nullif(F.col("t"), F.lit(0)).cast("double"), 6
        ).alias("attribution_r"),
    )


# --------------------------------------- time-decay attribution (r11)

_TDECAY_SQL = f"""
    WITH fp AS (
        SELECT user_id, min(ts) AS fpt
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1
    ),
    pv AS (
        SELECT user_id, v_c FROM (
            SELECT e.user_id,
                   {cents_sql('e.value')} AS v_c,
                   row_number() OVER (PARTITION BY e.user_id
                                      ORDER BY e.ts, e.event_id) AS rn
            FROM events e JOIN fp ON fp.user_id = e.user_id
                                AND e.ts = fp.fpt
            WHERE e.event_type = 'purchase'
        ) WHERE rn = 1
    ),
    clk AS (
        SELECT e.user_id,
               (e.props->>'$.k')::BIGINT % 5 AS channel,
               round(exp(-((epoch_us(fp.fpt) - epoch_us(e.ts))
                           / 86400000000.0) / 7.0), 6)::DECIMAL(38,8) AS wq
        FROM events e JOIN fp ON fp.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts < fp.fpt
    ),
    sw AS (SELECT user_id, sum(wq) AS swq FROM clk GROUP BY 1),
    credit AS (
        SELECT c.channel,
               round(p.v_c * (c.wq::DOUBLE / s.swq::DOUBLE), 4)
                   ::DECIMAL(38,8) AS credit_q
        FROM clk c JOIN pv p USING (user_id) JOIN sw s USING (user_id)
    )
    SELECT channel, count(*)::BIGINT AS n_touches,
           round(sum(credit_q)::DOUBLE, 4) AS credit_cents_r
    FROM credit GROUP BY 1
"""


@register("time_decay_attribution", oracle=_TDECAY_SQL)
def time_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution (7-day half-life-style
    exponential): each user's first purchase value (in cents) is split
    across preceding clicks proportional to exp(−Δdays/7), rolled up by
    channel — the recency-weighted model completing the attribution panel
    (``attribution_last_touch`` winner-takes-all,
    ``position_based_attribution`` U-shaped, ``markov_attribution_removal``
    and ``shapley_attribution`` counterfactual).

    Exactness: Δdays is exact integer microseconds over a constant; the
    weight is quantized to DECIMAL(38,8) straight off the exp, the
    per-user weight total is an EXACT decimal sum (engine-independent of
    add order), each credit share is one double expression quantized to
    4 decimals, and the channel rollup sums exact decimals — the same
    quantize-before-prefix-sum discipline as ``page_hinkley_drift``.

    Scale shape: one keyed min, two keyed joins, two keyed aggregates —
    no windows over fact rows beyond the per-user first-purchase pick."""
    from pyspark.sql import Window as _W

    e = table(spark, sf_dir, "events")
    fp = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("fpt"))
    )
    wfirst = _W.partitionBy("user_id").orderBy("ts", "event_id")
    pv = (
        e.filter(F.col("event_type") == "purchase")
        .join(fp, "user_id")
        .filter(F.col("ts") == F.col("fpt"))
        .withColumn("rn", F.row_number().over(wfirst))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            cents(F.col("value")).alias("v_c"),
        )
    )
    ddays = (
        (F.unix_micros("fpt") - F.unix_micros("ts")) / F.lit(86400000000.0)
    )
    clk = (
        e.filter(F.col("event_type") == "click")
        .join(fp, "user_id")
        .filter(F.col("ts") < F.col("fpt"))
        .select(
            "user_id",
            (F.get_json_object("props", "$.k").cast("long") % 5).alias(
                "channel"
            ),
            F.round(F.exp(-ddays / 7.0), 6).cast("decimal(38,8)").alias("wq"),
        )
    )
    sw = clk.groupBy("user_id").agg(F.sum("wq").alias("swq"))
    credit = (
        clk.join(pv, "user_id")
        .join(sw, "user_id")
        .select(
            "channel",
            F.round(
                F.col("v_c")
                * (F.col("wq").cast("double") / F.col("swq").cast("double")),
                4,
            )
            .cast("decimal(38,8)")
            .alias("credit_q"),
        )
    )
    return credit.groupBy("channel").agg(
        F.count("*").cast("long").alias("n_touches"),
        F.round(F.sum("credit_q").cast("double"), 4).alias("credit_cents_r"),
    )
