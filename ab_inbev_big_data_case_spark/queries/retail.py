"""Retail-analytics operators over the star schema (round-5 session-3
widening of SURVEY.md §2.2's analytics family): ABC/Pareto inventory
classification, item-item collaborative-filtering similarity, and
label-propagation community detection on the co-purchase graph.

These extend the reference's static gold rollup (``glue/etl_api.py:42-45``)
with the category-management questions a retail warehouse answers next:
which parts carry the revenue (ABC), what sells together (item-item), and
which product clusters move as one (communities).

Scale posture:

- ``abc_pareto_class`` needs a cumulative revenue share down the
  revenue-ranked part spine, and the gains and Qini charts a global rank
  of users. Parts and users are NOT dimension-bounded at 100 TB (TPC-H
  part grows 200k rows per SF), so the running sums and ranks come from
  ``operators.relational.prefix_sums``, never a flat partitionless window.
  The result equals the plain prefix sum the DuckDB oracle runs, because
  revenue is summed in exact integer cents.
- ``item_item_cosine`` fans out per BASKET (k ≤ 7 lineitems per TPC-H
  order ⇒ ≤ 21 pairs), never corpus²; per-item neighbor ranking is a
  window PARTITIONED by the item key.
- ``label_propagation_communities`` is the unrolled fixed-round pattern
  (``operators/graph.py``): each round is one equi-join (labels onto the
  symmetrized edge list) + one grouped count + one per-node argmax window
  — no driver iteration, no growing state; ties break deterministically
  (count desc, label asc) in both engines.

Float discipline: revenue is a ``functions/money.py`` sum, fixed to
integer CENTS before any ranking or share arithmetic; the A/B/C class test
multiplies in DECIMAL(38,0) (cum·100 ≤ total·80) so no float boundary
exists anywhere. Cosines are computed from exact integer counts and
rounded to 6 before ranking (quantize-before-rank).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ab_inbev_big_data_case_spark.functions.money import (
    money,
    money_sql,
    money_sum,
    money_sum_sql,
)
from ab_inbev_big_data_case_spark.operators.relational import prefix_sums
from ab_inbev_big_data_case_spark.registry import register
from ab_inbev_big_data_case_spark.sources.readers import table
from ab_inbev_big_data_case_spark.operators.graph import basket_pairs, basket_pairs_sql
from ab_inbev_big_data_case_spark.operators.lineage import cut

#: per-part revenue in exact integer cents (shared by the ABC oracle)
_PART_REV_SQL = f"""
    prev AS (
        SELECT l_partkey,
               CAST({money_sum_sql('l_extendedprice * (1 - l_discount)')} * 100
                    AS BIGINT)
                   AS rev_c
        FROM lineitem GROUP BY 1
    )
"""

_ABC_SQL = f"""
    WITH {_PART_REV_SQL},
    ranked AS (
        SELECT rev_c,
               sum(rev_c) OVER (ORDER BY rev_c DESC, l_partkey
                                ROWS UNBOUNDED PRECEDING) AS cum_c,
               sum(rev_c) OVER () AS total_c
        FROM prev
    ),
    classed AS (
        SELECT CASE
                 WHEN CAST(cum_c AS DECIMAL(38,0)) * 100
                      <= CAST(total_c AS DECIMAL(38,0)) * 80 THEN 'A'
                 WHEN CAST(cum_c AS DECIMAL(38,0)) * 100
                      <= CAST(total_c AS DECIMAL(38,0)) * 95 THEN 'B'
                 ELSE 'C'
               END AS abc_class,
               rev_c, total_c
        FROM ranked
    )
    SELECT abc_class,
           count(*) AS n_parts,
           round(sum(rev_c) * 1.0 / any_value(total_c), 6) AS rev_share_r
    FROM classed GROUP BY 1
"""


@register("abc_pareto_class", oracle=_ABC_SQL)
def abc_pareto_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto 80/95) inventory classification: parts are ranked by
    revenue and classed A while the running share is ≤ 80%, B to 95%,
    else C; output is the 3-row class summary (part count + revenue
    share).

    Scale shape: the running revenue down the (rev desc, partkey) order
    is ``prefix_sums``'s, exactly the oracle's flat window because cents
    are exact integers; the class test runs in DECIMAL(38,0) so 100 TB
    totals cannot overflow."""
    li = table(spark, sf_dir, "lineitem")
    prev = li.groupBy("l_partkey").agg(
        (
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            * 100
        )
        .cast("long")
        .alias("rev_c")
    )
    cum = prefix_sums(
        prev, "rev_c", ["l_partkey"], {"cum_c": F.col("rev_c")}, descending=True
    )
    cum_d = F.col("cum_c").cast("decimal(38,0)") * 100
    tot_d = F.col("cum_c_total").cast("decimal(38,0)")
    classed = cum.withColumn(
        "abc_class",
        F.when(cum_d <= tot_d * 80, "A")
        .when(cum_d <= tot_d * 95, "B")
        .otherwise("C"),
    )
    return classed.groupBy("abc_class").agg(
        F.count("*").alias("n_parts"),
        F.round(F.sum("rev_c") / F.first("cum_c_total"), 6).alias("rev_share_r"),
    )


_ITEM_COSINE_SQL = f"""
    WITH {basket_pairs_sql()},
    e AS (
        SELECT u, v, count(*) AS n_co FROM basket_pairs GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    cnt AS (
        SELECT l_partkey, count(DISTINCT l_orderkey) AS n_ord
        FROM lineitem GROUP BY 1
    ),
    sym AS (
        SELECT u AS item, v AS neighbor, n_co FROM e
        UNION ALL
        SELECT v AS item, u AS neighbor, n_co FROM e
    ),
    scored AS (
        SELECT s.item, s.neighbor, s.n_co,
               round(s.n_co / sqrt(ci.n_ord * cn.n_ord), 6) AS cosine_r
        FROM sym s
        JOIN cnt ci ON ci.l_partkey = s.item
        JOIN cnt cn ON cn.l_partkey = s.neighbor
    )
    SELECT item, neighbor, n_co, cosine_r
    FROM (
        SELECT *, row_number() OVER (
                 PARTITION BY item
                 ORDER BY cosine_r DESC, n_co DESC, neighbor) AS rn
        FROM scored
    )
    WHERE rn <= 3
"""


@register("item_item_cosine", oracle=_ITEM_COSINE_SQL)
def item_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: top-3 co-purchase neighbors per
    part under cosine similarity cos(i,j) = c_ij / √(c_i·c_j) over order
    baskets — the classic neighborhood recommender built from
    ``market_basket_pairs``' counts plus per-item order counts.

    Scale shape: pair counts fan out per basket (bounded by the ≤7-line
    TPC-H order), the support-≥2 threshold sparsifies before the
    per-item joins (both plain equi-joins — item counts grow with the
    part dimension, so no broadcast), and the top-3 ranking window is
    PARTITIONED by item. Cosine is computed from exact integer counts
    and rounded to 6 before ranking (ties then break on raw co-count and
    neighbor id), so FP dust cannot reorder neighbors."""
    li = table(spark, sf_dir, "lineitem")
    e = (
        basket_pairs(li, "l_orderkey", "l_partkey")
        .groupBy("u", "v")
        .agg(F.count("*").alias("n_co"))
        .filter(F.col("n_co") >= 2)
    )
    cnt = li.groupBy("l_partkey").agg(
        F.countDistinct("l_orderkey").alias("n_ord")
    )
    sym = e.select(
        F.col("u").alias("item"), F.col("v").alias("neighbor"), "n_co"
    ).unionAll(
        e.select(F.col("v").alias("item"), F.col("u").alias("neighbor"), "n_co")
    )
    scored = (
        sym.join(cnt.withColumnRenamed("l_partkey", "item"), "item")
        .withColumnRenamed("n_ord", "ci")
        .join(cnt.withColumnRenamed("l_partkey", "neighbor"), "neighbor")
        .withColumnRenamed("n_ord", "cn")
        .select(
            "item",
            "neighbor",
            "n_co",
            F.round(
                F.col("n_co") / F.sqrt(F.col("ci") * F.col("cn")), 6
            ).alias("cosine_r"),
        )
    )
    w = Window.partitionBy("item").orderBy(
        F.col("cosine_r").desc(), F.col("n_co").desc(), "neighbor"
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("item", "neighbor", "n_co", "cosine_r")
    )


_LPA_ROUND_SQL = """
    {nxt} AS (
        SELECT node, lab FROM (
            SELECT s.u AS node, l.lab, count(*) AS c,
                   row_number() OVER (
                       PARTITION BY s.u
                       ORDER BY count(*) DESC, l.lab) AS rn
            FROM sym s JOIN {cur} l ON l.node = s.v
            GROUP BY s.u, l.lab
        ) WHERE rn = 1
    )
"""

_LPA_SQL = (
    f"""
    WITH {basket_pairs_sql()},
    e AS (
        SELECT u, v, count(*) AS n_co FROM basket_pairs GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
    l0 AS (SELECT DISTINCT u AS node, u AS lab FROM sym),
    """
    + _LPA_ROUND_SQL.format(cur="l0", nxt="l1")
    + ","
    + _LPA_ROUND_SQL.format(cur="l1", nxt="l2")
    + """
    SELECT lab AS community, count(*) AS size
    FROM l2 GROUP BY 1
    ORDER BY size DESC, community
    LIMIT 20
"""
)


@register("label_propagation_communities", oracle=_LPA_SQL)
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation community detection (2 unrolled
    rounds) on the support-≥2 co-purchase graph: every node starts
    labeled with itself, then repeatedly adopts its neighbors' most
    frequent label (ties → smallest label). Complements the min-label
    connected components (``dup_clusters_cc``): LPA splits a connected
    blob into densely-knit communities instead of merging everything
    reachable. Output: the 20 largest communities.

    Scale shape: each round is one equi-join of the label table onto the
    symmetrized edge list (both shuffle on the node key — label tables
    are node-cardinality, never broadcast), one grouped count, and one
    per-node argmax window (PARTITIONED by node). Rounds are unrolled
    into the lineage — no driver iteration, state is one label per node.
    The (count desc, label asc) tiebreak makes every round — hence the
    final partition — deterministic in both engines."""
    # the edge backbone and its symmetrization feed multiple consumers
    # (labels + both LPA rounds + degree/modularity terms, some under
    # BroadcastExchange which blocks exchange reuse)
    e = cut(
        basket_pairs(table(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey")
        .groupBy("u", "v")
        .agg(F.count("*").alias("n_co"))
        .filter(F.col("n_co") >= 2)
        .select("u", "v"),
        "label_propagation_communities.e",
    )
    sym = cut(
        e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v"))),
        "label_propagation_communities.sym",
    )
    labels = sym.select(F.col("u").alias("node")).distinct().withColumn(
        "lab", F.col("node")
    )

    def lpa_round(cur: DataFrame) -> DataFrame:
        votes = (
            sym.join(cur.withColumnRenamed("node", "v"), "v")
            .groupBy(F.col("u").alias("node"), "lab")
            .agg(F.count("*").alias("c"))
        )
        w = Window.partitionBy("node").orderBy(F.col("c").desc(), "lab")
        return (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "lab")
        )

    final = lpa_round(lpa_round(labels))
    return (
        final.groupBy(F.col("lab").alias("community"))
        .agg(F.count("*").alias("size"))
        .orderBy(F.col("size").desc(), "community")
        .limit(20)
    )


_MODULARITY_SQL = (
    f"""
    WITH {basket_pairs_sql()},
    e AS (
        SELECT u, v, count(*) AS n_co FROM basket_pairs GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
    l0 AS (SELECT DISTINCT u AS node, u AS lab FROM sym),
    """
    + _LPA_ROUND_SQL.format(cur="l0", nxt="l1")
    + ","
    + _LPA_ROUND_SQL.format(cur="l1", nxt="l2")
    + """,
    m AS (SELECT count(*) AS n_edges FROM e),
    deg AS (SELECT u AS node, count(*) AS d FROM sym GROUP BY 1),
    cdeg AS (
        SELECT l.lab AS community, sum(deg.d)::BIGINT AS deg_sum,
               count(*) AS n_nodes
        FROM l2 l JOIN deg ON deg.node = l.node
        GROUP BY 1
    ),
    within AS (
        SELECT la.lab AS community, count(*) AS n_within
        FROM e
        JOIN l2 la ON la.node = e.u
        JOIN l2 lb ON lb.node = e.v AND lb.lab = la.lab
        GROUP BY 1
    )
    SELECT c.community, c.n_nodes, c.deg_sum,
           coalesce(w.n_within, 0)::BIGINT AS n_within,
           round(coalesce(w.n_within, 0) * 1.0 / m.n_edges
                 - pow(c.deg_sum * 1.0 / (2 * m.n_edges), 2), 6) + 0.0
               AS q_contrib_r
    FROM cdeg c
    LEFT JOIN within w ON w.community = c.community
    CROSS JOIN m
    ORDER BY c.n_nodes DESC, c.community
    LIMIT 20
"""
)


@register("community_modularity", oracle=_MODULARITY_SQL)
def community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity audit of the LPA partition: per-community
    contribution Q_i = e_ii/m − (d_i/2m)² over the same support-≥2
    co-purchase graph and the same two unrolled LPA rounds — the quality
    metric that tells you whether ``label_propagation_communities``
    found real structure (Q_i > 0: denser inside than a degree-preserving
    random graph) or noise. The engine's audit discipline applied to
    community detection, beside ``ann_recall_eval``/``ndcg_eval``.

    Scale shape: the label lineage is the LPA plan verbatim (joins +
    per-node windows); within-community edge counts are two keyed label
    joins on the CANONICAL (u<v) edge list so each edge is counted once;
    degree sums ride the community key; m is a broadcast 1-row
    aggregate. All counts are exact integers, Q contributions round at
    6."""
    # the edge backbone and its symmetrization feed multiple consumers
    # (labels + both LPA rounds + degree/modularity terms, some under
    # BroadcastExchange which blocks exchange reuse)
    e = cut(
        basket_pairs(table(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey")
        .groupBy("u", "v")
        .agg(F.count("*").alias("n_co"))
        .filter(F.col("n_co") >= 2)
        .select("u", "v"),
        "community_modularity.e",
    )
    sym = cut(
        e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v"))),
        "community_modularity.sym",
    )
    labels = sym.select(F.col("u").alias("node")).distinct().withColumn(
        "lab", F.col("node")
    )

    def lpa_round(cur: DataFrame) -> DataFrame:
        votes = (
            sym.join(cur.withColumnRenamed("node", "v"), "v")
            .groupBy(F.col("u").alias("node"), "lab")
            .agg(F.count("*").alias("c"))
        )
        w = Window.partitionBy("node").orderBy(F.col("c").desc(), "lab")
        return (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "lab")
        )

    # three consumers (cdeg, la, lb) each re-derive two LPA rounds
    # (window over the whole graph) without this cut
    l2 = cut(lpa_round(lpa_round(labels)), "community_modularity.l2")
    m = e.agg(F.count("*").alias("n_edges"))
    deg = sym.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("d"))
    cdeg = (
        l2.join(deg, "node")
        .groupBy(F.col("lab").alias("community"))
        .agg(
            F.sum("d").cast("long").alias("deg_sum"),
            F.count("*").alias("n_nodes"),
        )
    )
    la = l2.select(F.col("node").alias("u"), F.col("lab").alias("la"))
    lb = l2.select(F.col("node").alias("v"), F.col("lab").alias("lb"))
    within = (
        e.join(la, "u")
        .join(lb, "v")
        .filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("community"))
        .agg(F.count("*").alias("n_within"))
    )
    out = (
        cdeg.join(within, "community", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "community",
            "n_nodes",
            "deg_sum",
            F.coalesce("n_within", F.lit(0)).cast("long").alias("n_within"),
            (
                F.round(
                    F.coalesce("n_within", F.lit(0)) / F.col("n_edges")
                    - F.pow(
                        F.col("deg_sum") / (2.0 * F.col("n_edges")), 2
                    ),
                    6,
                )
                # + 0.0 canonicalizes IEEE -0.0 (a tiny negative Q_i rounds
                # to zero with a sign bit in one engine but not the other)
                + 0.0
            ).alias("q_contrib_r"),
        )
    )
    return out.orderBy(F.col("n_nodes").desc(), "community").limit(20)


_ASSORT_SQL = f"""
    WITH {basket_pairs_sql()},
    e AS (
        SELECT u, v, count(*) AS n_co FROM basket_pairs GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
    deg AS (SELECT u AS node, count(*) AS d FROM sym GROUP BY 1)
    SELECT count(*) AS n_edge_ends,
           round(corr(du.d, dv.d), 6) AS assortativity_r
    FROM sym
    JOIN deg du ON du.node = sym.u
    JOIN deg dv ON dv.node = sym.v
"""


@register("graph_assortativity", oracle=_ASSORT_SQL)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph: the Pearson
    correlation of endpoint degrees over the symmetrized edge list
    (Newman 2002) — negative means hubs attach to leaves
    (hub-and-spoke assortment), positive means a rich-club core.

    Scale shape: degrees are one grouped count; the two degree lookups
    are keyed equi-joins on the vertex; ``corr`` is a single mergeable
    moment aggregate (sums of d, d², d·d' — the same machinery as
    ``corr_matrix``). Symmetrization makes the correlation well-defined
    (each edge contributes both orientations)."""
    e = (
        basket_pairs(table(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey")
        .groupBy("u", "v")
        .agg(F.count("*").alias("n_co"))
        .filter(F.col("n_co") >= 2)
        .select("u", "v")
    )
    sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("d"))
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("d_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("d_v"))
    return (
        sym.join(du, "u")
        .join(dv, "v")
        .agg(
            F.count("*").alias("n_edge_ends"),
            F.round(F.corr("d_u", "d_v"), 6).alias("assortativity_r"),
        )
    )


_RECSYS_EVAL_SQL = f"""
    WITH topk AS ({_ITEM_COSINE_SQL}),
    items_all AS (SELECT count(DISTINCT l_partkey) AS n_items FROM lineitem),
    covered AS (SELECT count(DISTINCT item) AS n_covered,
                       count(*) AS n_recs
                FROM topk),
    recip AS (
        SELECT count(*) AS n_recip
        FROM topk a JOIN topk b
          ON b.item = a.neighbor AND b.neighbor = a.item
    )
    SELECT i.n_items, c.n_covered,
           round(c.n_covered * 1.0 / i.n_items, 6) AS coverage_r,
           round(c.n_recs * 1.0 / c.n_covered, 6) AS avg_neighbors_r,
           round(r.n_recip * 1.0 / c.n_recs, 6) AS reciprocity_r
    FROM items_all i CROSS JOIN covered c CROSS JOIN recip r
"""


@register("recsys_coverage_eval", oracle=_RECSYS_EVAL_SQL)
def recsys_coverage_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recommender audit for ``item_item_cosine``: catalog coverage (what
    fraction of parts get ANY neighbor), average list length, and
    reciprocity (how often j's list returns the favor when i lists j) —
    the audit-pair discipline (``ann_recall_eval``, ``ndcg_eval``)
    applied to the collaborative filter; low coverage means the
    support-≥2 threshold starves the long tail.

    Scale shape: the top-3 lists are item-bounded (≤ 3·|items| rows);
    reciprocity is a self-equi-join on the (item, neighbor) pair key;
    totals are 1-row broadcast aggregates."""
    tk = item_item_cosine(spark, sf_dir)
    li = table(spark, sf_dir, "lineitem")
    items_all = li.agg(F.countDistinct("l_partkey").alias("n_items"))
    covered = tk.agg(
        F.countDistinct("item").alias("n_covered"),
        F.count("*").alias("n_recs"),
    )
    flipped = tk.select(
        F.col("item").alias("neighbor"), F.col("neighbor").alias("item")
    )
    recip = (
        tk.join(flipped, ["item", "neighbor"], "left_semi")
        .agg(F.count("*").alias("n_recip"))
    )
    return (
        items_all.crossJoin(F.broadcast(covered))
        .crossJoin(F.broadcast(recip))
        .select(
            "n_items",
            "n_covered",
            F.round(F.col("n_covered") / F.col("n_items"), 6).alias(
                "coverage_r"
            ),
            F.round(F.col("n_recs") / F.col("n_covered"), 6).alias(
                "avg_neighbors_r"
            ),
            F.round(F.col("n_recip") / F.col("n_recs"), 6).alias(
                "reciprocity_r"
            ),
        )
    )


_LEADERBOARD_SQL = f"""
    WITH mrev AS (
        SELECT date_trunc('month', o.o_orderdate)::TIMESTAMP AS month,
               l.l_partkey,
               CAST({money_sum_sql('l.l_extendedprice * (1 - l.l_discount)')} * 100
                    AS BIGINT)
                   AS rev_c
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT month, l_partkey, rev_c,
               row_number() OVER (PARTITION BY month
                                  ORDER BY rev_c DESC, l_partkey) AS rnk
        FROM mrev
    ),
    top AS (SELECT * FROM ranked WHERE rnk <= 10)
    SELECT t.month, t.l_partkey, t.rnk,
           p.rnk AS prev_rnk,
           CASE WHEN p.rnk IS NULL THEN NULL
                ELSE p.rnk - t.rnk END AS shift
    FROM top t
    LEFT JOIN top p ON p.l_partkey = t.l_partkey
                   AND p.month = t.month - INTERVAL 1 MONTH
"""


@register("leaderboard_rank_shift", oracle=_LEADERBOARD_SQL)
def leaderboard_rank_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly top-10 revenue leaderboard with month-over-month rank
    shifts: each month's top parts carry their previous-month rank
    (NULL = entered the board) — the "movers and shakers" report, the
    ranked cousin of ``mom_revenue_growth``.

    Scale shape: monthly revenue is one decimal-exact grouped agg; the
    per-month ranking window carries a rnk<=10 filter that Spark plans
    as WindowGroupLimit (bounded per-partition state — it never sorts a
    month's full part spine to completion, the same property
    ``window_topk_group`` pins), and the shift lookup is a keyed
    self-join of two 10-row-per-month boards on (part, prev month).
    Ranking on exact integer cents with partkey tiebreak — no float
    anywhere near the order."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    mrev = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.date_trunc("month", "o_orderdate").alias("month"),
            "l_partkey",
        )
        .agg(
            (money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100)
            .cast("long")
            .alias("rev_c")
        )
    )
    w = Window.partitionBy("month").orderBy(
        F.col("rev_c").desc(), "l_partkey"
    )
    top = (
        mrev.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select("month", "l_partkey", "rnk")
    )
    prev = top.select(
        F.add_months(F.col("month"), 1).cast("timestamp").alias("month"),
        F.col("l_partkey"),
        F.col("rnk").alias("prev_rnk"),
    )
    return top.join(prev, ["month", "l_partkey"], "left").select(
        "month",
        "l_partkey",
        "rnk",
        "prev_rnk",
        (F.col("prev_rnk") - F.col("rnk")).alias("shift"),
    )


_KCORE_ROUND_SQL = """
    {nxt} AS (
        SELECT u, v FROM {cur}
        WHERE u IN (SELECT u FROM (SELECT u, count(*) AS d FROM {cur}
                                   GROUP BY 1) dd WHERE d >= 3)
          AND v IN (SELECT u FROM (SELECT u, count(*) AS d FROM {cur}
                                   GROUP BY 1) dd WHERE d >= 3)
    )
"""

_KCORE_SQL = (
    f"""
    WITH {basket_pairs_sql()},
    e AS (
        SELECT u, v, count(*) AS n_co FROM basket_pairs GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    sym0 AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
    """
    + _KCORE_ROUND_SQL.format(cur="sym0", nxt="sym1")
    + ","
    + _KCORE_ROUND_SQL.format(cur="sym1", nxt="sym2")
    + ","
    + _KCORE_ROUND_SQL.format(cur="sym2", nxt="sym3")
    + """
    SELECT 0::BIGINT AS round, count(DISTINCT u) AS n_vertices,
           (count(*) / 2)::BIGINT AS n_edges FROM sym0
    UNION ALL SELECT 1::BIGINT, count(DISTINCT u), (count(*) / 2)::BIGINT
    FROM sym1
    UNION ALL SELECT 2::BIGINT, count(DISTINCT u), (count(*) / 2)::BIGINT
    FROM sym2
    UNION ALL SELECT 3::BIGINT, count(DISTINCT u), (count(*) / 2)::BIGINT
    FROM sym3
"""
)


@register("kcore_peeling", oracle=_KCORE_SQL)
def kcore_peeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core peeling of the co-purchase graph, 3 unrolled rounds:
    repeatedly drop vertices of degree < 3 and report the shrinking
    (vertices, edges) after each peel — the dense-core extractor behind
    community seeding and spam-cluster mining (a vertex surviving round
    r has ≥3 neighbors who themselves survived r−1). Complements the
    expansion-style graph ops (k-hop, LPA): peeling CONTRACTS toward
    the core; three rounds reach the fixpoint on this graph (pinned by
    pytest).

    Scale shape: each round is one grouped degree count + one semi-join
    filter of the edge list against surviving vertices (both ends) —
    the unrolled-rounds pattern with monotone shrinking state; no
    driver iteration. Counts are exact integers; the symmetrized list
    is halved for the undirected edge count."""
    e = (
        basket_pairs(table(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey")
        .groupBy("u", "v")
        .agg(F.count("*").alias("n_co"))
        .filter(F.col("n_co") >= 2)
        .select("u", "v")
    )
    # One cut per round: every round is referenced 3× by the next peel (degree
    # agg + two semi-joins) AND once more by its own stats branch, so the
    # uncut 4-branch union re-derived the basket pair build and peel
    # chain per branch (only Exchange reuse kept it from exploding —
    # measured 8.7 s median at sf0.1, 2.6 s with the cuts).
    sym = cut(
        e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v"))),
        "kcore_peeling.sym",
    )

    def peel(cur: DataFrame) -> DataFrame:
        surv = (
            cur.groupBy("u")
            .agg(F.count("*").alias("d"))
            .filter(F.col("d") >= 3)
            .select("u")
        )
        return cur.join(surv, "u", "left_semi").join(
            surv.withColumnRenamed("u", "v"), "v", "left_semi"
        )

    rounds = [sym]
    for _ in range(3):
        rounds.append(cut(peel(rounds[-1]), "kcore_peeling.state"))
    stats = [
        g.agg(
            F.lit(i).cast("long").alias("round"),
            F.countDistinct("u").alias("n_vertices"),
            (F.count("*") / 2).cast("long").alias("n_edges"),
        ).select("round", "n_vertices", "n_edges")
        for i, g in enumerate(rounds)
    ]
    out = stats[0]
    for sdf in stats[1:]:
        out = out.unionAll(sdf)
    return out


# --------------------------------------------- association rules (lift)

_LIFT_TOP = 20

_LIFT_SQL = f"""
    WITH {basket_pairs_sql()},
    e AS (
        SELECT u, v, count(*) AS n_co FROM basket_pairs GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    cnt AS (
        SELECT l_partkey, count(DISTINCT l_orderkey) AS n_ord
        FROM lineitem GROUP BY 1
    ),
    tot AS (SELECT count(DISTINCT l_orderkey) AS n_all FROM lineitem),
    sym AS (
        SELECT u AS antecedent, v AS consequent, n_co FROM e
        UNION ALL
        SELECT v AS antecedent, u AS consequent, n_co FROM e
    ),
    rules AS (
        SELECT s.antecedent, s.consequent, s.n_co,
               round(s.n_co * 1.0 / t.n_all, 6) AS support_r,
               round(s.n_co * 1.0 / ca.n_ord, 6) AS confidence_r,
               round(CAST(s.n_co AS HUGEINT) * t.n_all * 1.0
                     / (CAST(ca.n_ord AS HUGEINT) * cc.n_ord), 6) AS lift_r
        FROM sym s
        JOIN cnt ca ON ca.l_partkey = s.antecedent
        JOIN cnt cc ON cc.l_partkey = s.consequent
        CROSS JOIN tot t
    )
    SELECT antecedent, consequent, n_co, support_r, confidence_r, lift_r
    FROM rules
    ORDER BY lift_r DESC, antecedent, consequent
    LIMIT {_LIFT_TOP}
"""


@register("basket_lift_rules", oracle=_LIFT_SQL)
def basket_lift_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules A→B over the support-≥2 co-purchase pairs:
    support n_co/N, confidence n_co/n_A, lift n_co·N/(n_A·n_B) — the
    Apriori rule-scoring step on top of ``market_basket_pairs``'
    candidate generation (which stops at support).

    Scale shape: reuses the canonical basket-bounded edge table (≤21
    pairs per TPC-H order, support-≥2 pruned); per-item order counts
    join on the item key (plain equi-joins — parts grow with SF, no
    broadcast); the order total is a broadcast 1-row aggregate. Lift's
    numerator n_co·N overflows BIGINT at warehouse scale, so both
    engines compute it in DECIMAL(38,0)/HUGEINT before the one
    division; top-20 by ROUNDED lift with (antecedent, consequent)
    tiebreak is TakeOrderedAndProject."""
    li = table(spark, sf_dir, "lineitem")
    e = (
        basket_pairs(li, "l_orderkey", "l_partkey")
        .groupBy("u", "v")
        .agg(F.count("*").alias("n_co"))
        .filter(F.col("n_co") >= 2)
    )
    cnt = li.groupBy("l_partkey").agg(
        F.countDistinct("l_orderkey").alias("n_ord")
    )
    tot = li.agg(F.countDistinct("l_orderkey").alias("n_all"))
    sym = e.select(
        F.col("u").alias("antecedent"), F.col("v").alias("consequent"), "n_co"
    ).unionAll(
        e.select(
            F.col("v").alias("antecedent"), F.col("u").alias("consequent"), "n_co"
        )
    )
    ca = cnt.select(
        F.col("l_partkey").alias("antecedent"), F.col("n_ord").alias("n_a")
    )
    cc = cnt.select(
        F.col("l_partkey").alias("consequent"), F.col("n_ord").alias("n_b")
    )
    rules = (
        sym.join(ca, "antecedent")
        .join(cc, "consequent")
        .crossJoin(F.broadcast(tot))
        .select(
            "antecedent",
            "consequent",
            "n_co",
            F.round(F.col("n_co") / F.col("n_all"), 6).alias("support_r"),
            F.round(F.col("n_co") / F.col("n_a"), 6).alias("confidence_r"),
            F.round(
                (F.col("n_co").cast("decimal(19,0)") * F.col("n_all")).cast(
                    "double"
                )
                / (F.col("n_a").cast("decimal(19,0)") * F.col("n_b")).cast(
                    "double"
                ),
                6,
            ).alias("lift_r"),
        )
    )
    return rules.orderBy(
        F.col("lift_r").desc(), "antecedent", "consequent"
    ).limit(_LIFT_TOP)


# ------------------------------------------------------ price elasticity

_ELASTICITY_SQL = """
    SELECT p.p_brand,
           count(*) AS n,
           round(regr_slope(ln(l.l_quantity), ln(l.l_extendedprice)), 4)
               AS elasticity_r,
           round(regr_r2(ln(l.l_quantity), ln(l.l_extendedprice)), 6)
               AS r2_r
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY p.p_brand
"""


@register("price_elasticity", oracle=_ELASTICITY_SQL)
def price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand own-price elasticity of demand: the log-log OLS slope
    ∂ln(qty)/∂ln(price) via the associative regr_* moments — category
    management's pricing read on top of ``ols_regression``'s linear
    form (an elasticity is only meaningful in log space).

    Scale shape: one fact-dim equi-join on the part key (part grows
    200k rows/SF — no broadcast hint, AQE picks the strategy) + one
    partial+final moment aggregate keyed on the 25-value brand
    dimension. Log magnitudes are O(10), so the double moment sums stay
    far from the partial-order sensitivity the ANOVA dollars² sums hit
    (``queries/mlstats.py`` design note)."""
    from ab_inbev_big_data_case_spark.sources.readers import load_tables

    load_tables(spark, sf_dir, ("lineitem", "part"))
    return spark.sql(_ELASTICITY_SQL)


# ---------------------------------------------- newsvendor stock level

_NEWSVENDOR_SQL = """
    WITH weekly AS (
        SELECT l_partkey AS part,
               CAST(date_trunc('week', l_shipdate) AS DATE) AS wk,
               CAST(sum(l_quantity) AS BIGINT) AS demand
        FROM lineitem GROUP BY 1, 2
    ),
    r AS (
        SELECT part, demand,
               row_number() OVER (PARTITION BY part
                                  ORDER BY demand, wk) AS rn,
               count(*) OVER (PARTITION BY part) AS n_weeks
        FROM weekly
    )
    SELECT part, max(n_weeks) AS n_weeks,
           min(demand) AS q75_stock
    FROM r
    WHERE 4 * rn >= 3 * n_weeks
    GROUP BY 1
"""


@register("newsvendor_quantile_stock", oracle=_NEWSVENDOR_SQL)
def newsvendor_quantile_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newsvendor stock level per part at the 0.75 critical fractile:
    the smallest weekly demand d such that P(demand ≤ d) ≥ 0.75 — the
    profit-maximizing order quantity when underage costs 3× overage.
    Computed as an EXACT discrete quantile (rank selection on integer
    weekly demand, ``4·rn ≥ 3·n`` avoids any float ceil), not an
    interpolated percentile, so both engines agree bit-for-bit.

    Scale shape: weekly demand is a partial+final agg keyed on
    (part, week); the rank/count windows are partitioned BY PART (weeks
    per part are calendar-bounded, ≤ ~400 rows per partition at any SF);
    the final min-over-tail is another part-keyed agg. No partitionless
    window, no join."""
    li = table(spark, sf_dir, "lineitem")
    weekly = li.groupBy(
        F.col("l_partkey").alias("part"),
        F.date_trunc("week", "l_shipdate").cast("date").alias("wk"),
    ).agg(F.sum("l_quantity").cast("long").alias("demand"))
    w = Window.partitionBy("part").orderBy("demand", "wk")
    wc = Window.partitionBy("part")
    r = weekly.select(
        "part",
        "demand",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wc).alias("n_weeks"),
    )
    return (
        r.filter(4 * F.col("rn") >= 3 * F.col("n_weeks"))
        .groupBy("part")
        .agg(F.max("n_weeks").alias("n_weeks"), F.min("demand").alias("q75_stock"))
    )


# --------------------------------------------- Laspeyres price index

_LASPEYRES_SQL = f"""
    WITH pm AS (
        SELECT l_partkey AS part,
               CAST(date_trunc('month', l_shipdate) AS DATE) AS mth,
               CAST({money_sum_sql('l_extendedprice')} * 100
                    AS BIGINT) AS ext_c,
               CAST(sum(l_quantity) AS BIGINT) AS qty
        FROM lineitem GROUP BY 1, 2
    ),
    pr AS (SELECT part, mth, qty, (ext_c * 1000) // qty AS price_milli FROM pm),
    b0 AS (SELECT min(mth) AS base_mth FROM pr),
    base AS (
        SELECT part, qty AS qty0, price_milli AS p0
        FROM pr CROSS JOIN b0 WHERE mth = base_mth
    )
    SELECT pr.mth,
           count(*) AS n_parts,
           round(sum(pr.price_milli::HUGEINT * base.qty0)::DOUBLE
                 / sum(base.p0::HUGEINT * base.qty0)::DOUBLE, 6)
               AS laspeyres_r
    FROM pr JOIN base USING (part)
    GROUP BY 1
"""


@register("laspeyres_price_index", oracle=_LASPEYRES_SQL)
def laspeyres_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly Laspeyres price index over the part catalog:
    I_t = Σ p_{i,t}·q_{i,0} / Σ p_{i,0}·q_{i,0}, base = first shipping
    month, restricted per month to the matched sample of parts present in
    both (the standard matched-model index). Unit prices are FLOOR-milli
    integers ((cents·1000) div qty), so every numerator/denominator term
    is exact and the single division happens on per-month exact sums.

    Scale shape: one (part, month) partial aggregate over the fact scan;
    the base basket is a month-filtered slice joined back on part (a
    dimension-sized build side at any SF — one row per part); sums are
    grouped on the bounded month domain."""
    li = table(spark, sf_dir, "lineitem")
    pm = li.groupBy(
        F.col("l_partkey").alias("part"),
        F.date_trunc("month", "l_shipdate").cast("date").alias("mth"),
    ).agg(
        (money_sum(F.col("l_extendedprice")) * 100)
        .cast("long")
        .alias("ext_c"),
        F.sum("l_quantity").cast("long").alias("qty"),
    )
    pr = pm.select(
        "part", "mth", "qty", F.expr("(ext_c * 1000) div qty").alias("price_milli")
    )
    b0 = pr.agg(F.min("mth").alias("base_mth"))
    base = (
        pr.crossJoin(F.broadcast(b0))
        .filter(F.col("mth") == F.col("base_mth"))
        .select("part", F.col("qty").alias("qty0"), F.col("price_milli").alias("p0"))
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    return (
        pr.join(base, "part")
        .groupBy("mth")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum(dec("price_milli") * F.col("qty0")).alias("num"),
            F.sum(dec("p0") * F.col("qty0")).alias("den"),
        )
        .select(
            "mth",
            "n_parts",
            F.round(
                F.col("num").cast("double") / F.col("den").cast("double"), 6
            ).alias("laspeyres_r"),
        )
    )


# ------------------------------------------ hierarchical share rollup

_HIER_SHARE_SQL = f"""
    WITH rev AS (
        SELECT r.r_name AS region, n.n_name AS nation,
               CAST({money_sum_sql('o.o_totalprice')} * 100
                    AS BIGINT) AS rev_c
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        GROUP BY 1, 2
    ),
    reg AS (SELECT region, sum(rev_c)::BIGINT AS region_c FROM rev GROUP BY 1),
    tot AS (SELECT sum(rev_c)::BIGINT AS total_c FROM rev)
    SELECT rev.region, rev.nation, rev.rev_c,
           round(rev.rev_c * 100.0 / reg.region_c, 4) AS share_of_region_r,
           round(reg.region_c * 100.0 / t.total_c, 4) AS region_share_r
    FROM rev JOIN reg USING (region) CROSS JOIN tot t
"""


@register("hierarchical_share_rollup", oracle=_HIER_SHARE_SQL)
def hierarchical_share_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-parent at two hierarchy levels: each nation's revenue as a
    % of its region, and each region as a % of the grand total — the
    percent-of-parent drilldown every OLAP frontend asks for (distinct
    from ``rollup_agg``, which emits subtotal ROWS; this emits the ratios
    side by side on the leaf grain).

    Scale shape: one fact aggregation keyed on the bounded
    (region, nation) dimension grain, then two re-aggregations of that
    25-row result; dimension joins broadcast; ratios are exact-cent
    integer divisions rounded once."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            (money_sum(F.col("o_totalprice")) * 100)
            .cast("long")
            .alias("rev_c")
        )
    )
    reg = rev.groupBy("region").agg(F.sum("rev_c").alias("region_c"))
    tot = rev.agg(F.sum("rev_c").alias("total_c"))
    return (
        rev.join(F.broadcast(reg), "region")
        .crossJoin(F.broadcast(tot))
        .select(
            "region",
            "nation",
            "rev_c",
            F.round(F.col("rev_c") * 100.0 / F.col("region_c"), 4).alias(
                "share_of_region_r"
            ),
            F.round(F.col("region_c") * 100.0 / F.col("total_c"), 4).alias(
                "region_share_r"
            ),
        )
    )


# --------------------------------------------------------- holiday lift

_HOLIDAY_SQL = f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               dayofweek(CAST(o_orderdate AS DATE)) + 1 AS dow,
               CAST({money_sum_sql('o_totalprice')} * 100
                    AS BIGINT) AS rev_c
        FROM orders GROUP BY 1, 2
    ),
    lab AS (
        SELECT *,
               CASE WHEN (month(d) = 12 AND day(d) = 25)
                      OR (month(d) = 1 AND day(d) = 1)
                      OR (month(d) = 7 AND day(d) = 4)
                    THEN 1 ELSE 0 END AS is_holiday
        FROM daily
    ),
    s AS (
        SELECT dow,
               count(*) FILTER (WHERE is_holiday = 1) AS n_hol,
               count(*) FILTER (WHERE is_holiday = 0) AS n_base,
               sum(rev_c) FILTER (WHERE is_holiday = 1)::BIGINT AS hol_c,
               sum(rev_c) FILTER (WHERE is_holiday = 0)::BIGINT AS base_c
        FROM lab GROUP BY 1
    )
    SELECT dow, n_hol, n_base,
           round((hol_c::DOUBLE / n_hol)
                 / (base_c::DOUBLE / n_base), 4) AS lift_r
    FROM s WHERE n_hol > 0
"""


@register("holiday_lift", oracle=_HOLIDAY_SQL)
def holiday_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holiday revenue lift with day-of-week control: average daily
    revenue on a fixed holiday list (Dec 25, Jan 1, Jul 4) divided by the
    average for the SAME weekday on non-holidays — the DOW matching that
    stops a Sunday holiday from being compared against a weekday
    baseline (the calendar-effects sibling of ``dow_seasonal_profile``).

    Scale shape: the whole computation lives on the bounded calendar-day
    spine after one fact aggregation; the holiday label is a constant
    expression, and the lift is exact-cent integer sums with one final
    double division per weekday row.

    DOW convention: Spark's ``dayofweek`` is 1=Sunday..7=Saturday,
    DuckDB's is 0=Sunday..6 — the oracle adds 1 to align."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.to_date("o_orderdate").alias("d"),
        F.dayofweek(F.to_date("o_orderdate")).alias("dow"),
    ).agg(
        (money_sum(F.col("o_totalprice")) * 100)
        .cast("long")
        .alias("rev_c")
    )
    hol = (
        ((F.month("d") == 12) & (F.dayofmonth("d") == 25))
        | ((F.month("d") == 1) & (F.dayofmonth("d") == 1))
        | ((F.month("d") == 7) & (F.dayofmonth("d") == 4))
    ).cast("int")
    lab = daily.withColumn("is_holiday", hol)
    s = lab.groupBy("dow").agg(
        F.count(F.when(F.col("is_holiday") == 1, 1)).alias("n_hol"),
        F.count(F.when(F.col("is_holiday") == 0, 1)).alias("n_base"),
        F.sum(F.when(F.col("is_holiday") == 1, F.col("rev_c"))).alias("hol_c"),
        F.sum(F.when(F.col("is_holiday") == 0, F.col("rev_c"))).alias("base_c"),
    )
    return s.filter(F.col("n_hol") > 0).select(
        "dow",
        "n_hol",
        "n_base",
        F.round(
            (F.col("hol_c").cast("double") / F.col("n_hol"))
            / (F.col("base_c").cast("double") / F.col("n_base")),
            4,
        ).alias("lift_r"),
    )


# ---------------------------------------------------- price jump events

_PRICE_JUMP_SQL = f"""
    WITH pm AS (
        SELECT l_partkey AS part,
               CAST(date_trunc('month', l_shipdate) AS DATE) AS mth,
               (CAST({money_sum_sql('l_extendedprice')}
                     * 100 AS BIGINT) * 1000)
                 // CAST(sum(l_quantity) AS BIGINT) AS price_milli
        FROM lineitem GROUP BY 1, 2
    ),
    j AS (
        SELECT cur.part, cur.mth, prev.price_milli AS prev_milli,
               cur.price_milli AS cur_milli
        FROM pm cur
        JOIN pm prev ON prev.part = cur.part
                    AND cur.mth = prev.mth + INTERVAL 1 MONTH
    )
    SELECT part, mth, prev_milli, cur_milli,
           round((cur_milli - prev_milli) * 100.0 / prev_milli, 4)
               AS pct_change_r
    FROM j
    WHERE cur_milli * 5 > prev_milli * 6 OR cur_milli * 5 < prev_milli * 4
"""


@register("price_jump_events", oracle=_PRICE_JUMP_SQL)
def price_jump_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month unit-price jump detection per part: consecutive
    months join on (part, month+1) and a jump fires when the floor-milli
    price moves more than ±20% — evaluated as the EXACT integer cross
    comparison 5·cur ≷ 6·prev / 4·prev, so the threshold never touches
    float division. The event-detection layer over the same monthly
    price series ``laspeyres_price_index`` aggregates.

    Scale shape: the monthly price table is one partial aggregate; the
    consecutive-month join is an equi-join on (part, shifted month) —
    self-join fan-out is exactly 1 row per (part, month) pair that
    exists. The pct_change column is display-only (the filter already
    decided membership exactly)."""
    li = table(spark, sf_dir, "lineitem")
    pm = (
        li.groupBy(
            F.col("l_partkey").alias("part"),
            F.date_trunc("month", "l_shipdate").cast("date").alias("mth"),
        )
        .agg(
            (money_sum(F.col("l_extendedprice")) * 100)
            .cast("long")
            .alias("ext_c"),
            F.sum("l_quantity").cast("long").alias("qty"),
        )
        .select("part", "mth", F.expr("(ext_c * 1000) div qty").alias("price_milli"))
    )
    cur = pm.select("part", "mth", F.col("price_milli").alias("cur_milli"))
    prev = pm.select(
        "part",
        F.add_months("mth", 1).alias("mth"),
        F.col("price_milli").alias("prev_milli"),
    )
    j = cur.join(prev, ["part", "mth"])
    return j.filter(
        (F.col("cur_milli") * 5 > F.col("prev_milli") * 6)
        | (F.col("cur_milli") * 5 < F.col("prev_milli") * 4)
    ).select(
        "part",
        "mth",
        "prev_milli",
        "cur_milli",
        F.round(
            (F.col("cur_milli") - F.col("prev_milli"))
            * 100.0
            / F.col("prev_milli"),
            4,
        ).alias("pct_change_r"),
    )


# ------------------------------------------------ gains chart deciles

_GAINS_SQL = f"""
    WITH u AS (
        SELECT user_id,
               CAST(round(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                                   THEN {money_sql('value')} END), 2)
                    * 100 AS BIGINT) AS score_c,
               max(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END)
                   AS buyer
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1
        HAVING sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) > 0
    ),
    r AS (
        SELECT *, row_number() OVER (ORDER BY score_c DESC, user_id DESC)
                      AS desc_rank,
               count(*) OVER () AS n
        FROM u
    ),
    d AS (
        SELECT ((desc_rank - 1) * 10) // n + 1 AS decile,
               count(*) AS n_users, sum(buyer)::BIGINT AS n_buyers
        FROM r GROUP BY 1
    ),
    c AS (
        SELECT decile, n_users, n_buyers,
               sum(n_buyers) OVER (ORDER BY decile
                                   ROWS UNBOUNDED PRECEDING)::BIGINT
                   AS cum_buyers,
               sum(n_users) OVER (ORDER BY decile
                                  ROWS UNBOUNDED PRECEDING)::BIGINT
                   AS cum_users,
               sum(n_buyers) OVER ()::BIGINT AS tot_buyers,
               sum(n_users) OVER ()::BIGINT AS tot_users
        FROM d
    )
    SELECT decile, n_users, n_buyers, cum_buyers,
           round(cum_buyers * 1.0 / tot_buyers, 6) AS gain_r,
           round((cum_buyers * 1.0 / tot_buyers)
                 / (cum_users * 1.0 / tot_users), 4) AS lift_r
    FROM c
"""


@register("gains_chart_deciles", oracle=_GAINS_SQL)
def gains_chart_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains chart: users ranked by pre-period spend (the
    deterministic targeting score), cut into exact global deciles, and
    each decile reports the cumulative share of post-period buyers
    captured plus the lift over random targeting — the standard
    model-targeting evaluation curve.

    Scale shape: the global DESCENDING rank is n + 1 minus
    ``prefix_sums``'s ascending (score, user_id) rank. The decile cumsum
    is a 10-row bounded-spine window. Ties break on (score, user_id)
    identically in both engines, so decile membership is exact."""
    e = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    split = F.lit("2024-01-16").cast("timestamp")
    u = (
        e.groupBy("user_id")
        .agg(
            (
                F.round(
                    F.sum(
                        F.when(
                            F.col("ts") < split,
                            money(F.col("value")),
                        )
                    ),
                    2,
                )
                * 100
            )
            .cast("long")
            .alias("score_c"),
            F.max(F.when(F.col("ts") >= split, 1).otherwise(0)).alias("buyer"),
            F.sum(F.when(F.col("ts") < split, 1).otherwise(0)).alias("n_pre"),
        )
        .filter(F.col("n_pre") > 0)
        .drop("n_pre")
    )
    ranked = prefix_sums(u, "score_c", ["user_id"], {"rk": F.lit(1)}).select(
        "buyer",
        (F.col("rk_total") - F.col("rk") + 1).alias("desc_rank"),
        F.col("rk_total").alias("n"),
    )
    d = ranked.groupBy(
        (F.expr("((desc_rank - 1) * 10) div n") + 1).alias("decile")
    ).agg(F.count("*").alias("n_users"), F.sum("buyer").alias("n_buyers"))
    w_cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )  # 10-row decile spine
    w_all = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = d.select(
        "decile",
        "n_users",
        "n_buyers",
        F.sum("n_buyers").over(w_cum).alias("cum_buyers"),
        F.sum("n_users").over(w_cum).alias("cum_users"),
        F.sum("n_buyers").over(w_all).alias("tot_buyers"),
        F.sum("n_users").over(w_all).alias("tot_users"),
    )
    return c.select(
        "decile",
        "n_users",
        "n_buyers",
        "cum_buyers",
        F.round(F.col("cum_buyers") / F.col("tot_buyers"), 6).alias("gain_r"),
        F.round(
            (F.col("cum_buyers") / F.col("tot_buyers"))
            / (F.col("cum_users") / F.col("tot_users")),
            4,
        ).alias("lift_r"),
    )


# -------------------------------------------------- Qini uplift curve

_QINI_SQL = f"""
    WITH u AS (
        SELECT user_id, user_id % 2 AS arm,
               CAST(round(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                                   THEN {money_sql('value')} END), 2)
                    * 100 AS BIGINT) AS score_c,
               max(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END)
                   AS buyer
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1, 2
        HAVING sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) > 0
    ),
    r AS (
        SELECT *, row_number() OVER (ORDER BY score_c DESC, user_id DESC)
                      AS desc_rank,
               count(*) OVER () AS n
        FROM u
    ),
    d AS (
        SELECT ((desc_rank - 1) * 10) // n + 1 AS decile,
               sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS nt,
               sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS nc,
               sum(CASE WHEN arm = 1 THEN buyer ELSE 0 END) AS bt,
               sum(CASE WHEN arm = 0 THEN buyer ELSE 0 END) AS bc
        FROM r GROUP BY 1
    ),
    c AS (
        SELECT decile,
               sum(nt) OVER w AS cnt, sum(nc) OVER w AS cnc,
               sum(bt) OVER w AS cbt, sum(bc) OVER w AS cbc
        FROM d
        WINDOW w AS (ORDER BY decile ROWS UNBOUNDED PRECEDING)
    )
    SELECT decile,
           cnt::BIGINT AS cum_n_treated, cnc::BIGINT AS cum_n_control,
           cbt::BIGINT AS cum_buyers_treated,
           cbc::BIGINT AS cum_buyers_control,
           round(cbt * 1.0 / nullif(cnt, 0)
                 - cbc * 1.0 / nullif(cnc, 0), 6) AS uplift_r,
           round(cbt - cbc * 1.0 * cnt / nullif(cnc, 0), 4) AS qini_r
    FROM c
"""


@register("qini_curve_deciles", oracle=_QINI_SQL)
def qini_curve_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini/uplift curve by targeting-score decile: with deterministic
    arms, each cumulative decile reports the treated-minus-control
    conversion difference (uplift) and the Qini numerator
    cum_bt − cum_bc·(cum_nt/cum_nc) — the uplift-model evaluation that
    ``gains_chart_deciles`` (single-population capture) cannot express:
    a score can rank buyers perfectly yet have zero UPLIFT if control
    users convert identically.

    Scale shape: the gains chart's exact global descending rank
    (``prefix_sums``), arm-conditional aggregates on the decile grain,
    and ≤10-row cumulative windows. All counts exact integers; two final
    divisions per decile row."""
    e = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    split = F.lit("2024-01-16").cast("timestamp")
    u = (
        e.groupBy("user_id", (F.col("user_id") % 2).alias("arm"))
        .agg(
            (
                F.round(
                    F.sum(
                        F.when(
                            F.col("ts") < split,
                            money(F.col("value")),
                        )
                    ),
                    2,
                )
                * 100
            )
            .cast("long")
            .alias("score_c"),
            F.max(F.when(F.col("ts") >= split, 1).otherwise(0)).alias("buyer"),
            F.sum(F.when(F.col("ts") < split, 1).otherwise(0)).alias("n_pre"),
        )
        .filter(F.col("n_pre") > 0)
        .drop("n_pre")
    )
    ranked = prefix_sums(u, "score_c", ["user_id"], {"rk": F.lit(1)}).select(
        "arm",
        "buyer",
        (F.col("rk_total") - F.col("rk") + 1).alias("desc_rank"),
        F.col("rk_total").alias("n"),
    )
    d = ranked.groupBy(
        (F.expr("((desc_rank - 1) * 10) div n") + 1).alias("decile")
    ).agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("nt"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("nc"),
        F.sum(F.when(F.col("arm") == 1, F.col("buyer")).otherwise(0)).alias("bt"),
        F.sum(F.when(F.col("arm") == 0, F.col("buyer")).otherwise(0)).alias("bc"),
    )
    w_cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = d.select(
        "decile",
        F.sum("nt").over(w_cum).alias("cnt"),
        F.sum("nc").over(w_cum).alias("cnc"),
        F.sum("bt").over(w_cum).alias("cbt"),
        F.sum("bc").over(w_cum).alias("cbc"),
    )
    return c.select(
        "decile",
        F.col("cnt").cast("long").alias("cum_n_treated"),
        F.col("cnc").cast("long").alias("cum_n_control"),
        F.col("cbt").cast("long").alias("cum_buyers_treated"),
        F.col("cbc").cast("long").alias("cum_buyers_control"),
        F.round(
            F.col("cbt") * 1.0 / F.nullif(F.col("cnt"), F.lit(0))
            - F.col("cbc") * 1.0 / F.nullif(F.col("cnc"), F.lit(0)),
            6,
        ).alias("uplift_r"),
        F.round(
            F.col("cbt")
            - F.col("cbc") * 1.0 * F.col("cnt") / F.nullif(F.col("cnc"), F.lit(0)),
            4,
        ).alias("qini_r"),
    )


# ------------------------------------------------------------------ round 8

# Bullwhip effect (Lee, Padmanabhan & Whang 1997): per customer nation,
# variance amplification between downstream demand (weekly quantity by
# ORDER date) and the upstream replenishment signal (weekly quantity by
# SHIP date). Ratio > 1 = the supply signal swings harder than demand.
# Variances derive from exact decimal sums via n*Σx² - (Σx)² — identical
# doubles in both engines.
_BULLWHIP_SQL = """
    WITH base AS (
        SELECT c.c_nationkey AS nationkey,
               date_trunc('week', o.o_orderdate) AS ow,
               date_trunc('week', l.l_shipdate) AS sw,
               CAST(l.l_quantity AS DECIMAL(18,2)) AS qty
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    demand AS (
        SELECT nationkey, ow AS w, sum(qty) AS q
        FROM base GROUP BY 1, 2
    ),
    supply AS (
        SELECT nationkey, sw AS w, sum(qty) AS q
        FROM base GROUP BY 1, 2
    ),
    dv AS (
        SELECT nationkey, count(*) AS n,
               sum(q) AS s1, sum(q * q) AS s2
        FROM demand GROUP BY 1
    ),
    sv AS (
        SELECT nationkey, count(*) AS n,
               sum(q) AS s1, sum(q * q) AS s2
        FROM supply GROUP BY 1
    )
    SELECT dv.nationkey,
           round((sv.n * sv.s2::DOUBLE - sv.s1::DOUBLE * sv.s1::DOUBLE)
                 / (sv.n::DOUBLE * (sv.n - 1))
                 / ((dv.n * dv.s2::DOUBLE - dv.s1::DOUBLE * dv.s1::DOUBLE)
                    / (dv.n::DOUBLE * (dv.n - 1))), 6) AS bullwhip_r,
           dv.n::BIGINT AS n_demand_weeks,
           sv.n::BIGINT AS n_supply_weeks
    FROM dv JOIN sv ON dv.nationkey = sv.nationkey
    WHERE dv.n > 1 AND sv.n > 1
"""


@register("bullwhip_ratio", oracle=_BULLWHIP_SQL)
def bullwhip_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bullwhip-effect ratio per customer nation (Lee et al. 1997):
    Var(weekly shipped qty) / Var(weekly ordered qty). TPC-H's order→ship
    lag acts as the replenishment delay; a ratio above 1 quantifies the
    variance amplification the supply chain adds.

    Scale shape: the fact join collapses straight to two (nation, week)
    aggregates — calendar × 25-nation bounded spines; per-nation variance
    comes from exact DECIMAL Σq and Σq² (order-independent), with ONE
    double expression per nation row at the end. Two shuffles, no windows,
    no Python."""
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    base = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            F.col("c_nationkey").alias("nationkey"),
            F.date_trunc("week", "o_orderdate").alias("ow"),
            F.date_trunc("week", "l_shipdate").alias("sw"),
            F.col("l_quantity").cast("decimal(18,2)").alias("qty"),
        )
    )

    def weekly_var(df: DataFrame, wcol: str) -> DataFrame:
        weekly = df.groupBy("nationkey", F.col(wcol).alias("w")).agg(
            F.sum("qty").alias("q")
        )
        return weekly.groupBy("nationkey").agg(
            F.count("*").alias("n"),
            F.sum("q").alias("s1"),
            F.sum(F.col("q") * F.col("q")).alias("s2"),
        )

    dv = weekly_var(base, "ow").alias("dv")
    sv = weekly_var(base, "sw").alias("sv")

    def var(side: str):
        n = F.col(f"{side}.n")
        s1 = F.col(f"{side}.s1").cast("double")
        s2 = F.col(f"{side}.s2").cast("double")
        return (n * s2 - s1 * s1) / (n.cast("double") * (n - 1))

    return (
        dv.join(sv, F.col("dv.nationkey") == F.col("sv.nationkey"))
        .filter((F.col("dv.n") > 1) & (F.col("sv.n") > 1))
        .select(
            F.col("dv.nationkey").alias("nationkey"),
            F.round(var("sv") / var("dv"), 6).alias("bullwhip_r"),
            F.col("dv.n").cast("long").alias("n_demand_weeks"),
            F.col("sv.n").cast("long").alias("n_supply_weeks"),
        )
    )


# Paasche + Fisher price indexes, matched-model, same FLOOR-milli unit
# prices and base month as laspeyres_price_index: Paasche weights by the
# CURRENT month's basket, Fisher is the geometric mean of the two. All
# sums are exact integers; the two divisions and the sqrt are the only
# float ops, identical in both engines.
_PAASCHE_SQL = f"""
    WITH pm AS (
        SELECT l_partkey AS part, date_trunc('month', l_shipdate)::DATE AS mth,
               ({money_sum_sql('l_extendedprice')} * 100)
                   ::BIGINT AS ext_c,
               sum(l_quantity)::BIGINT AS qty
        FROM lineitem GROUP BY 1, 2
    ),
    pr AS (
        SELECT part, mth, qty, (ext_c * 1000) // qty AS price_milli FROM pm
    ),
    b0 AS (SELECT min(mth) AS base_mth FROM pr),
    base AS (
        SELECT part, qty AS qty0, price_milli AS p0
        FROM pr CROSS JOIN b0 WHERE mth = base_mth
    ),
    matched AS (
        SELECT pr.mth, pr.part, pr.qty, pr.price_milli, b.qty0, b.p0
        FROM pr JOIN base b ON pr.part = b.part
    ),
    s AS (
        SELECT mth,
               sum(CAST(price_milli AS HUGEINT) * qty)  AS pt_qt,
               sum(CAST(p0 AS HUGEINT) * qty)           AS p0_qt,
               sum(CAST(price_milli AS HUGEINT) * qty0) AS pt_q0,
               sum(CAST(p0 AS HUGEINT) * qty0)          AS p0_q0,
               count(*) AS n_parts
        FROM matched GROUP BY 1
    )
    SELECT mth,
           n_parts::BIGINT AS n_parts,
           round(CAST(pt_qt AS DOUBLE) / CAST(p0_qt AS DOUBLE), 6)
               AS paasche_r,
           round(sqrt((CAST(pt_qt AS DOUBLE) / CAST(p0_qt AS DOUBLE))
                      * (CAST(pt_q0 AS DOUBLE) / CAST(p0_q0 AS DOUBLE))), 6)
               AS fisher_r
    FROM s
"""


@register("paasche_fisher_price_index", oracle=_PAASCHE_SQL)
def paasche_fisher_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paasche and Fisher monthly price indexes over the matched part
    sample — the current-basket dual (and its geometric mean, the 'ideal'
    index) of ``laspeyres_price_index``, sharing its FLOOR-milli unit
    prices, base month, and matched-model convention so all three are
    directly comparable.

    Scale shape: identical to the Laspeyres plan — one (part, month)
    partial aggregate over the fact scan, the base basket joined back
    part-keyed, sums grouped on the bounded month domain; exact 128-bit
    integer Σp·q everywhere, two divisions + sqrt per month row."""
    li = table(spark, sf_dir, "lineitem")
    pm = li.groupBy(
        F.col("l_partkey").alias("part"),
        F.date_trunc("month", "l_shipdate").cast("date").alias("mth"),
    ).agg(
        (money_sum(F.col("l_extendedprice")) * 100)
        .cast("long")
        .alias("ext_c"),
        F.sum("l_quantity").cast("long").alias("qty"),
    )
    pr = pm.select(
        "part", "mth", "qty", F.expr("(ext_c * 1000) div qty").alias("price_milli")
    )
    b0 = pr.agg(F.min("mth").alias("base_mth"))
    base = (
        pr.crossJoin(F.broadcast(b0))
        .filter(F.col("mth") == F.col("base_mth"))
        .select("part", F.col("qty").alias("qty0"), F.col("price_milli").alias("p0"))
    )
    d = F.col("price_milli").cast("decimal(38,0)")
    d0 = F.col("p0").cast("decimal(38,0)")
    s = (
        pr.join(base, "part")
        .groupBy("mth")
        .agg(
            F.sum(d * F.col("qty")).alias("pt_qt"),
            F.sum(d0 * F.col("qty")).alias("p0_qt"),
            F.sum(d * F.col("qty0")).alias("pt_q0"),
            F.sum(d0 * F.col("qty0")).alias("p0_q0"),
            F.count("*").alias("n_parts"),
        )
    )
    paasche = F.col("pt_qt").cast("double") / F.col("p0_qt").cast("double")
    laspey = F.col("pt_q0").cast("double") / F.col("p0_q0").cast("double")
    return s.select(
        "mth",
        F.col("n_parts").cast("long").alias("n_parts"),
        F.round(paasche, 6).alias("paasche_r"),
        F.round(F.sqrt(paasche * laspey), 6).alias("fisher_r"),
    )


# Herfindahl-Hirschman market concentration per order year: squared
# nation revenue shares. Shares are exact-cent ratios; each share² is
# quantized to DECIMAL(38,16) before the 25-term sum so the total is
# independent of either engine's float summation order.
_HHI_SQL = f"""
    WITH nat AS (
        SELECT year(o.o_orderdate) AS yr, c.c_nationkey AS nat,
               ({money_sum_sql('o.o_totalprice')} * 100)
                   ::HUGEINT AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    tot AS (SELECT yr, sum(cents) AS t FROM nat GROUP BY 1),
    sh AS (
        SELECT n.yr,
               round((CAST(n.cents AS DOUBLE) / CAST(t.t AS DOUBLE))
                     * (CAST(n.cents AS DOUBLE) / CAST(t.t AS DOUBLE)),
                     16)::DECIMAL(38,16) AS s2
        FROM nat n JOIN tot t ON n.yr = t.yr
    )
    SELECT yr, round(CAST(sum(s2) AS DOUBLE), 6) AS hhi_r,
           count(*)::BIGINT AS n_nations
    FROM sh GROUP BY 1
"""


@register("herfindahl_index", oracle=_HHI_SQL)
def herfindahl_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of customer-nation revenue
    shares per order year — the antitrust-style summary scalar on top of
    the ``gini_concentration``/``abc_pareto_class`` family (HHI weights
    LARGE shares quadratically where Gini integrates the whole curve).

    Scale shape: one fact aggregate to the (year, nation) spine; shares
    divide exact cents; share² quantizes to DECIMAL(38,16) so the 25-term
    per-year sum is order-independent. No windows, no joins beyond the
    year-total broadcast-sized attach."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    nat = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.year("o_orderdate").alias("yr"),
            F.col("c_nationkey").alias("nat"),
        )
        .agg(
            (money_sum(F.col("o_totalprice")) * 100)
            .cast("decimal(38,0)")
            .alias("cents")
        )
    )
    tot = nat.groupBy("yr").agg(F.sum("cents").alias("t"))
    share = F.col("cents").cast("double") / F.col("t").cast("double")
    sh = nat.join(tot, "yr").select(
        "yr", F.round(share * share, 16).cast("decimal(38,16)").alias("s2")
    )
    return sh.groupBy("yr").agg(
        F.round(F.sum("s2").cast("double"), 6).alias("hhi_r"),
        F.count("*").cast("long").alias("n_nations"),
    )


# --------------------------- Croston intermittent-demand forecasting

_CROSTON_SQL = """
    WITH dd AS (
        SELECT l_partkey,
               l_shipdate::DATE AS d,
               CAST(round(sum(l_quantity), 2) * 100 AS BIGINT) AS qty_c
        FROM lineitem GROUP BY 1, 2
    ),
    seq AS (
        SELECT l_partkey, qty_c,
               row_number() OVER (PARTITION BY l_partkey ORDER BY d) AS k,
               count(*) OVER (PARTITION BY l_partkey) AS kk,
               datediff('day',
                        lag(d) OVER (PARTITION BY l_partkey ORDER BY d),
                        d) AS gap
        FROM dd
    ),
    terms AS (
        -- coefficients 100x: alpha=0.25 folded in as an exact INTEGER
        -- multiplier (100 for the init term, 25 for alpha terms) on the
        -- engine-identical 9-digit-quantized pow — multiplying the double
        -- by 0.25 BEFORE quantizing re-rounds through double and lands on
        -- half-boundaries the engines split on (measured at sf0.01)
        SELECT l_partkey, kk,
               (qty_c * CASE WHEN k = 1 THEN 100 ELSE 25 END)
                   * round(pow(0.75, kk - k), 9)::DECIMAL(12,9) AS z_term,
               (gap * CASE WHEN k = 2 THEN 100
                           WHEN k > 2 THEN 25 END)
                   * round(pow(0.75, kk - k), 9)::DECIMAL(12,9) AS p_term
        FROM seq WHERE kk >= 2
    ),
    ema AS (
        SELECT l_partkey, max(kk) AS n_demand_days,
               sum(z_term) AS z_q100, sum(p_term) AS p_q100
        FROM terms GROUP BY 1
    )
    SELECT l_partkey,
           n_demand_days::BIGINT AS n_demand_days,
           round(z_q100, 0)::DOUBLE / 10000 AS size_ema_r,
           round(p_q100, 2)::DOUBLE / 100 AS interval_ema_r,
           round(z_q100::DOUBLE / 100 / p_q100::DOUBLE, 4) AS croston_r,
           round(0.875 * z_q100::DOUBLE / 100 / p_q100::DOUBLE, 4) AS sba_r
    FROM ema
"""


@register("croston_intermittent_demand", oracle=_CROSTON_SQL)
def croston_intermittent_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method for intermittent demand (Croston 1972) with the
    Syntetos–Boylan approximation (SBA, Syntetos & Boylan 2005): per part,
    separate exponential smoothing (α=0.25) of the non-zero DAILY demand
    sizes and of the inter-demand intervals; the per-day forecast is
    size-EMA / interval-EMA, and SBA scales by 1−α/2 to undo Croston's
    positive bias. THE forecasting recipe for spare-parts/slow-mover SKUs,
    where ordinary smoothing chases zeros to a useless average — the gap
    in the panel between ``seasonal_naive_mape`` (dense series) and
    ``newsvendor_quantile_stock`` (which needs exactly this forecast as
    input).

    Exactness: the EMA recursion unrolls to a closed-form weighted sum,
    so no engine iterates — the ONE transcendental, pow(0.75, K−k), is
    quantized to 9 digits and fixed to DECIMAL(12,9) (verified to round
    identically in both engines through n=400); α enters as an exact
    INTEGER multiplier on the 100x-scaled terms (100 init / 25 α-term —
    scaling the double by 0.25 before quantizing lands on half-boundaries
    the engines split on, measured at sf0.01). Sums are exact decimal,
    the EMA outputs round in DECIMAL before any double conversion, and
    only boundary-free quotients round doubles (1−α/2 = 0.875 exact
    binary). The ``time_decay_attribution`` quantize-before-aggregate
    discipline, hardened one step.

    Scale shape: one (part, day) pre-aggregation on the fact table, one
    partitioned window pass for position/interval, one grouped decimal
    sum — all shuffles on l_partkey, output one row per part with ≥ 2
    demand days. The closed form is what survives 100 TB: a recursive
    EMA would serialize per-part history; the weighted sum is a plain
    partial-aggregable reduction."""
    li = table(spark, sf_dir, "lineitem")
    dd = (
        li.groupBy("l_partkey", F.col("l_shipdate").cast("date").alias("d"))
        .agg(
            (F.round(F.sum("l_quantity"), 2) * 100)
            .cast("long")
            .alias("qty_c")
        )
    )
    wo = Window.partitionBy("l_partkey").orderBy("d")
    wp = Window.partitionBy("l_partkey")
    seq = dd.select(
        "l_partkey",
        "qty_c",
        F.row_number().over(wo).alias("k"),
        F.count("*").over(wp).alias("kk"),
        F.datediff(F.col("d"), F.lag("d").over(wo)).alias("gap"),
    ).filter(F.col("kk") >= 2)
    # coefficients 100x: alpha folded in as an exact INTEGER multiplier
    # (100 init / 25 alpha-term) on the engine-identical 9-digit-quantized
    # pow — scaling the double by 0.25 BEFORE quantizing re-rounds through
    # double and lands on half-boundaries the engines split on; all
    # products and sums below are exact decimal, rounds happen in DECIMAL
    # (exact HALF_UP in both engines), and only boundary-free quotients
    # ever round a double
    c9 = F.round(
        F.pow(F.lit(0.75), F.col("kk") - F.col("k")), 9
    ).cast("decimal(12,9)")
    zmult = F.when(F.col("k") == 1, 100).otherwise(25)
    pmult = F.when(F.col("k") == 2, 100).when(F.col("k") > 2, 25)
    ema = (
        seq.select(
            "l_partkey",
            "kk",
            ((F.col("qty_c") * zmult) * c9).alias("z_term"),
            ((F.col("gap") * pmult) * c9).alias("p_term"),
        )
        .groupBy("l_partkey")
        .agg(
            F.max("kk").alias("n_demand_days"),
            F.sum("z_term").alias("z_q100"),
            F.sum("p_term").alias("p_q100"),
        )
    )
    x, y = F.col("z_q100").cast("double"), F.col("p_q100").cast("double")
    return ema.select(
        "l_partkey",
        F.col("n_demand_days").cast("long").alias("n_demand_days"),
        (F.round(F.col("z_q100"), 0).cast("double") / 10000).alias("size_ema_r"),
        (F.round(F.col("p_q100"), 2).cast("double") / 100).alias("interval_ema_r"),
        F.round(x / 100 / y, 4).alias("croston_r"),
        F.round(0.875 * x / 100 / y, 4).alias("sba_r"),
    )
