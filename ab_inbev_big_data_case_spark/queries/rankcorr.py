"""Rank-correlation statistics (round-6 widening of the
distribution-comparison family): Spearman's rho over the document corpus
and Kendall's tau-b over the nation dimension.

``corr_matrix`` (Pearson, ``queries/mlstats.py``) measures LINEAR
association and is wrecked by the heavy-tailed columns this corpus
actually has; Spearman/Kendall are the standard robust complements — rank
agreement instead of moment agreement. They also close a methods gap: the
existing monotone-trend test (``mann_kendall_theil_sen``) IS a Kendall
statistic against time; these measure association between two data
columns.

Exactness: both statistics are assembled from exact integers.
Spearman uses DOUBLED average ranks (2·avg_rank = 2·|below| + |equal| + 1
is always an integer, so ties never introduce a .5 float), accumulates the
six moments as exact decimals, and combines them in double ONCE on the
1-row result. Kendall counts concordant/discordant/tied pairs as integers
and computes tau-b from the five counts on the final row.

Scale shapes:

- Spearman's two rank maps are VALUE-DOMAIN-BOUNDED spines (distinct doc
  lengths / word counts, capped by the max document length, not the corpus
  row count — the histogram-spine pattern of ``ks_two_sample``); the rank
  windows run over those spines, and fact rows pick up their ranks via
  broadcast joins against the two bounded maps.
- Kendall runs on the 25-row nation aggregate: the pair "self-join" is a
  dimension product (25·24/2 = 300 pairs at ANY scale factor — nation is
  a dimension table, its cardinality does not grow with the fact data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ab_inbev_big_data_case_spark.functions.money import money_sum, money_sum_sql
from ab_inbev_big_data_case_spark.registry import register
from ab_inbev_big_data_case_spark.sources.readers import table

# Word count convention shared with the token/TF-IDF family: split on a
# single space (documents are single-spaced synthetic text), empty tokens
# count — identical semantics in Spark's split() and DuckDB's
# string_split().
_WC_SQL = "len(string_split(text, ' '))"

_SPEARMAN_SQL = f"""
    WITH wc AS (SELECT doc_id, n_chars, {_WC_SQL} AS w FROM documents),
    xs AS (SELECT n_chars AS v, count(*) AS c FROM wc GROUP BY 1),
    xr AS (
        SELECT v, 2 * sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                  - c + 1 AS r2
        FROM xs
    ),
    ys AS (SELECT w AS v, count(*) AS c FROM wc GROUP BY 1),
    yr AS (
        SELECT v, 2 * sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                  - c + 1 AS r2
        FROM ys
    ),
    j AS (
        SELECT xr.r2 AS rx, yr.r2 AS ry
        FROM wc JOIN xr ON wc.n_chars = xr.v JOIN yr ON wc.w = yr.v
    ),
    s AS (
        SELECT count(*)::HUGEINT AS n,
               sum(rx::HUGEINT) AS sx, sum(ry::HUGEINT) AS sy,
               sum(rx::HUGEINT * rx) AS sxx, sum(ry::HUGEINT * ry) AS syy,
               sum(rx::HUGEINT * ry) AS sxy
        FROM j
    )
    SELECT n::BIGINT AS n_docs,
           round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                 / (sqrt(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                    * sqrt(n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)),
                 6) AS spearman_r
    FROM s
"""


def _rank2_map(cells: DataFrame) -> DataFrame:
    """(v, r2) doubled-average-rank map from a (v, c) count spine.

    2·avg_rank(v) = 2·(rows strictly below v) + (rows equal to v) + 1
                  = 2·cum(v) − c(v) + 1  — an exact integer under ties.
    The window is partitionless BY DESIGN: it runs over the value-domain
    spine (distinct values, bounded by the value domain at any SF), never
    over fact rows — the ``ks_two_sample`` bounded-spine pattern.
    """
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return cells.select(
        "v", (2 * F.sum("c").over(w) - F.col("c") + 1).alias("r2")
    )


@register("spearman_corr_lengths", oracle=_SPEARMAN_SQL)
def spearman_corr_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between document character length and
    word count, with exact average-rank tie handling (Pearson on doubled
    ranks).

    Scale shape: two grouped count spines (keyed on the bounded value
    domains), two spine-sized rank windows, two broadcast joins to hand
    each fact row its ranks, one exact-moment aggregate. The final rho is
    one double expression over the exact 1-row moments.
    """
    d = table(spark, sf_dir, "documents").select(
        "n_chars", F.size(F.split("text", " ")).alias("w")
    )
    xr = _rank2_map(d.groupBy(F.col("n_chars").alias("v")).agg(F.count("*").alias("c")))
    yr = _rank2_map(d.groupBy(F.col("w").alias("v")).agg(F.count("*").alias("c")))
    j = (
        d.join(F.broadcast(xr.withColumnRenamed("r2", "rx")), d.n_chars == xr.v)
        .drop("v")
        .join(F.broadcast(yr.withColumnRenamed("r2", "ry")), d.w == yr.v)
    )
    dec = lambda col: F.col(col).cast("decimal(38,0)")  # noqa: E731
    s = j.agg(
        F.count("*").alias("n"),
        F.sum(dec("rx")).alias("sx"),
        F.sum(dec("ry")).alias("sy"),
        F.sum(dec("rx") * F.col("rx")).alias("sxx"),
        F.sum(dec("ry") * F.col("ry")).alias("syy"),
        F.sum(dec("rx") * F.col("ry")).alias("sxy"),
    )
    n_d = F.col("n").cast("double")
    dbl = lambda col: F.col(col).cast("double")  # noqa: E731
    return s.select(
        F.col("n").alias("n_docs"),
        F.round(
            (n_d * dbl("sxy") - dbl("sx") * dbl("sy"))
            / (
                F.sqrt(n_d * dbl("sxx") - dbl("sx") * dbl("sx"))
                * F.sqrt(n_d * dbl("syy") - dbl("sy") * dbl("sy"))
            ),
            6,
        ).alias("spearman_r"),
    )


_KENDALL_SQL = f"""
    WITH nat AS (
        SELECT c.c_nationkey AS nk,
               count(DISTINCT c.c_custkey) AS n_cust,
               CAST({money_sum_sql('o.o_totalprice')} * 100
                    AS BIGINT) AS rev_c
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY 1
    ),
    pairs AS (
        SELECT CASE WHEN (a.n_cust - b.n_cust) * (a.rev_c - b.rev_c) > 0
                    THEN 1 ELSE 0 END AS conc,
               CASE WHEN (a.n_cust - b.n_cust) * (a.rev_c - b.rev_c) < 0
                    THEN 1 ELSE 0 END AS disc,
               CASE WHEN a.n_cust = b.n_cust THEN 1 ELSE 0 END AS tie_x,
               CASE WHEN a.rev_c = b.rev_c THEN 1 ELSE 0 END AS tie_y
        FROM nat a JOIN nat b ON a.nk < b.nk
    ),
    s AS (
        SELECT count(*) AS n0, sum(conc)::BIGINT AS nc, sum(disc)::BIGINT AS nd,
               sum(tie_x)::BIGINT AS tx, sum(tie_y)::BIGINT AS ty
        FROM pairs
    )
    SELECT n0, nc, nd,
           round((nc - nd) / (sqrt(CAST(n0 - tx AS DOUBLE))
                              * sqrt(CAST(n0 - ty AS DOUBLE))), 6) AS tau_b_r
    FROM s
"""


@register("kendall_tau_nations", oracle=_KENDALL_SQL)
def kendall_tau_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between a nation's customer count and its total order
    revenue: do bigger national markets rank-order the same way by both
    measures? Tau-b corrects the denominator for ties on either variable.

    Scale shape: the pair join is a DIMENSION product — nation has 25 rows
    at every scale factor, so the a.nk < b.nk join is 300 pairs forever;
    all fact-scale work is the single broadcast-dim groupBy producing the
    25-row aggregate. Revenue is exact cents so comparisons never see
    float noise.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    nat = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            F.count_distinct("c_custkey").alias("n_cust"),
            (
                money_sum(F.col("o_totalprice")) * 100
            )
            .cast("long")
            .alias("rev_c"),
        )
    )
    a, b = nat.alias("a"), nat.alias("b")
    # 25-row dimension self-product: bounded at any SF (see docstring).
    # The explicit broadcast turns the non-equi join into a
    # BroadcastNestedLoopJoin — without it Spark falls back to a
    # CartesianProduct (same work here, but the plan sweep bans the node).
    pairs = a.join(F.broadcast(b), F.col("a.nk") < F.col("b.nk")).select(
        (
            (F.col("a.n_cust") - F.col("b.n_cust"))
            * (F.col("a.rev_c") - F.col("b.rev_c"))
        ).alias("prod"),
        (F.col("a.n_cust") == F.col("b.n_cust")).alias("eq_x"),
        (F.col("a.rev_c") == F.col("b.rev_c")).alias("eq_y"),
    )
    s = pairs.agg(
        F.count("*").alias("n0"),
        F.sum(F.when(F.col("prod") > 0, 1).otherwise(0)).alias("nc"),
        F.sum(F.when(F.col("prod") < 0, 1).otherwise(0)).alias("nd"),
        F.sum(F.when(F.col("eq_x"), 1).otherwise(0)).alias("tx"),
        F.sum(F.when(F.col("eq_y"), 1).otherwise(0)).alias("ty"),
    )
    return s.select(
        "n0",
        "nc",
        "nd",
        F.round(
            (F.col("nc") - F.col("nd"))
            / (
                F.sqrt((F.col("n0") - F.col("tx")).cast("double"))
                * F.sqrt((F.col("n0") - F.col("ty")).cast("double"))
            ),
            6,
        ).alias("tau_b_r"),
    )


# ---------------------------------------------- gamma / Somers' D (r10)

_GSD_SQL = """
    WITH cells AS (
        SELECT CAST(substr(o_orderpriority, 1, 1) AS INT) AS x,
               least(CAST(floor(o_totalprice / 50000) AS INT), 9) AS y,
               count(*)::BIGINT AS n
        FROM orders GROUP BY 1, 2
    ),
    cross_pairs AS (
        SELECT a.n * b.n AS np,
               CASE WHEN (b.x - a.x) * (b.y - a.y) > 0 THEN 1 ELSE 0 END AS conc,
               CASE WHEN (b.x - a.x) * (b.y - a.y) < 0 THEN 1 ELSE 0 END AS disc,
               CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS tiex,
               CASE WHEN a.y = b.y THEN 1 ELSE 0 END AS tiey
        FROM cells a JOIN cells b
          ON (a.x < b.x) OR (a.x = b.x AND a.y < b.y)
    ),
    within AS (
        SELECT sum(n * (n - 1) // 2)::BIGINT AS t_both FROM cells
    ),
    agg AS (
        SELECT sum(np * conc)::BIGINT AS c,
               sum(np * disc)::BIGINT AS d,
               sum(np * tiex)::BIGINT AS tx_cross,
               sum(np * tiey)::BIGINT AS ty_cross,
               sum(np)::BIGINT AS cross_total
        FROM cross_pairs
    ),
    tot AS (SELECT sum(n)::BIGINT AS nr FROM cells)
    SELECT t.nr AS n_rows,
           a.c AS conc_pairs, a.d AS disc_pairs,
           round((a.c - a.d) / CAST(a.c + a.d AS DOUBLE), 6) AS gamma_r,
           round((a.c - a.d) / CAST(t.nr * (t.nr - 1) // 2
                                    - (a.tx_cross + w.t_both) AS DOUBLE), 6)
               AS somers_d_yx_r,
           round((a.c - a.d) / CAST(t.nr * (t.nr - 1) // 2
                                    - (a.ty_cross + w.t_both) AS DOUBLE), 6)
               AS somers_d_xy_r
    FROM agg a CROSS JOIN within w CROSS JOIN tot t
"""


@register("gamma_somers_d", oracle=_GSD_SQL)
def gamma_somers_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodman–Kruskal gamma and BOTH Somers' D asymmetries between order
    priority (ordinal 1–5) and the order-value band (fixed $50k bands,
    capped at 10) — the ordinal-association companions of
    ``kendall_tau_nations`` (gamma ignores ties entirely; D_yx/D_xy
    penalize ties on the independent variable only, the directional
    statistic a rank-based uplift readout uses).

    Exactness: the whole computation reduces to the bounded ≤5×10
    contingency table; concordant/discordant/tied pair counts are
    Σ n_a·n_b products of exact integer cell counts over ≤50² cell pairs
    plus the within-cell n(n−1)/2 terms — every count is an exact 64-bit
    integer, and the three statistics are one double division each.

    Scale shape: one map-side-combinable groupBy onto the fixed cell
    domain; the cell-pair join, tie terms, and final arithmetic all run
    on ≤50-row broadcast tables. The pair semantics cover all n(n−1)/2
    row pairs WITHOUT ever forming them — the contingency decomposition
    is what makes gamma computable at 100 TB."""
    o = table(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.substring("o_orderpriority", 1, 1).cast("int").alias("x"),
        F.least(
            F.floor(F.col("o_totalprice") / 50000).cast("int"), F.lit(9)
        ).alias("y"),
    ).agg(F.count("*").alias("n"))
    a, b = cells.alias("a"), cells.alias("b")
    cross_pairs = a.join(
        F.broadcast(b),
        (F.col("a.x") < F.col("b.x"))
        | ((F.col("a.x") == F.col("b.x")) & (F.col("a.y") < F.col("b.y"))),
    ).select(
        (F.col("a.n") * F.col("b.n")).alias("np"),
        ((F.col("b.x") - F.col("a.x")) * (F.col("b.y") - F.col("a.y"))).alias(
            "prod"
        ),
        (F.col("a.x") == F.col("b.x")).alias("eqx"),
        (F.col("a.y") == F.col("b.y")).alias("eqy"),
    )
    agg = cross_pairs.agg(
        F.sum(F.when(F.col("prod") > 0, F.col("np")).otherwise(0))
        .cast("long")
        .alias("c"),
        F.sum(F.when(F.col("prod") < 0, F.col("np")).otherwise(0))
        .cast("long")
        .alias("d"),
        F.sum(F.when(F.col("eqx"), F.col("np")).otherwise(0))
        .cast("long")
        .alias("tx_cross"),
        F.sum(F.when(F.col("eqy"), F.col("np")).otherwise(0))
        .cast("long")
        .alias("ty_cross"),
    )
    within = cells.agg(
        F.sum(F.expr("n * (n - 1) div 2")).cast("long").alias("t_both")
    )
    tot = cells.agg(F.sum("n").cast("long").alias("nr"))
    half = F.expr("nr * (nr - 1) div 2")
    return (
        agg.crossJoin(F.broadcast(within))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("nr").alias("n_rows"),
            F.col("c").alias("conc_pairs"),
            F.col("d").alias("disc_pairs"),
            F.round(
                (F.col("c") - F.col("d")) / (F.col("c") + F.col("d")).cast("double"),
                6,
            ).alias("gamma_r"),
            F.round(
                (F.col("c") - F.col("d"))
                / (half - (F.col("tx_cross") + F.col("t_both"))).cast("double"),
                6,
            ).alias("somers_d_yx_r"),
            F.round(
                (F.col("c") - F.col("d"))
                / (half - (F.col("ty_cross") + F.col("t_both"))).cast("double"),
                6,
            ).alias("somers_d_xy_r"),
        )
    )
