"""Link prediction over the part co-purchase graph (round-6 widening of
the graph family): the Resource-Allocation index of Zhou, Lü & Zhang
(2009) on the bipartite part–order graph.

``market_basket_pairs`` counts raw co-occurrence; the RA index weights
each shared order by 1/|basket|, so two parts that co-occur in SMALL,
deliberate baskets score higher than two parts that merely both appear in
giant ones — the same degree-discounting idea as Adamic–Adar, chosen here
over AA's 1/log(deg) because 1/deg is exactly representable: with the
basket-size cap at 16, the per-order weight 720720/deg (720720 =
lcm(1..16)) is an exact INTEGER, so pair scores accumulate with zero
float noise and no transcendental (ln) whose last-ulp behaviour could
differ between engines.

Scale shape (the ``market_basket_pairs`` shape, candidate-bounded): pair
fan-out happens per BASKET — a basket of k parts emits k(k-1)/2 pairs and
baskets above 16 distinct parts are excluded up front (both engines), so
the explode is ≤120 pairs per order, linear in the fact table. Scores are
a partial+final aggregate on (p1, p2); the top-100 is
TakeOrderedAndProject with a full deterministic tie-break.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ab_inbev_big_data_case_spark.registry import register
from ab_inbev_big_data_case_spark.sources.readers import table
from ab_inbev_big_data_case_spark.operators.graph import (
    basket_pairs,
    basket_pairs_sql,
    degrees,
    triangle_support,
    triangles,
    triangles_sql,
)
from ab_inbev_big_data_case_spark.operators.lineage import cut

_LCM16 = 720720  # lcm(1..16): 720720/deg is exact for every allowed basket size
_MAX_BASKET = 16

#: Resource-Allocation weight 1/deg as the exact integer lcm(1..16)/deg
_RA_W = {d: _LCM16 // d for d in range(2, _MAX_BASKET + 1)}

#: Adamic–Adar weight table: round(1e6 / ln(deg)) for every allowed basket
#: size, PRECOMPUTED in Python so neither engine evaluates ln at all —
#: stronger than the lcm trick (which only works for 1/deg): pair scores
#: are exact integer sums of these fixed constants in both engines.
_AA_W = {
    2: 1442695, 3: 910239, 4: 721348, 5: 621335, 6: 558111, 7: 513898,
    8: 480898, 9: 455120, 10: 434294, 11: 417032, 12: 402430, 13: 389871,
    14: 378923, 15: 369269, 16: 360674,
}


def _weight_sql(weights: dict[int, int]) -> str:
    """The per-basket weight of a pair row as one CASE over its basket size
    ``n``: the same text in Spark SQL and DuckDB."""
    return "CASE n " + " ".join(f"WHEN {d} THEN {w}" for d, w in weights.items()) + " END"


def _weighted_links_sql(weights: dict[int, int], scale: int, score_col: str) -> str:
    """Oracle of ``_weighted_links``."""
    return f"""
    WITH {basket_pairs_sql(_MAX_BASKET)},
    s AS (
        SELECT u AS p1, v AS p2, count(*) AS n_shared,
               sum({_weight_sql(weights)})::BIGINT AS score_q
        FROM basket_pairs GROUP BY 1, 2
    )
    SELECT p1, p2, n_shared, score_q, round(score_q / {scale}.0, 6) AS {score_col}
    FROM s
    ORDER BY score_q DESC, p1, p2
    LIMIT 100
"""


def _weighted_links(
    spark: SparkSession, sf_dir: str, weights: dict[int, int], scale: int, score_col: str
) -> DataFrame:
    """Top-100 part pairs by Σ over shared capped baskets of the integer
    weight ``weights[n]``, reported as ``score_q`` and ``score_q / scale``
    rounded to 6 in ``score_col``, with a (p1, p2) tie-break."""
    s = (
        basket_pairs(
            table(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey", _MAX_BASKET
        )
        .groupBy(F.col("u").alias("p1"), F.col("v").alias("p2"))
        .agg(
            F.count("*").alias("n_shared"),
            F.sum(F.expr(_weight_sql(weights))).alias("score_q"),
        )
    )
    return (
        s.select(
            "p1",
            "p2",
            "n_shared",
            "score_q",
            F.round(F.col("score_q") / float(scale), 6).alias(score_col),
        )
        .orderBy(F.col("score_q").desc(), "p1", "p2")
        .limit(100)
    )


@register(
    "resource_allocation_links",
    oracle=_weighted_links_sql(_RA_W, _LCM16, "ra_score_r"),
)
def resource_allocation_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 part pairs by Resource-Allocation link-prediction score:
    RA(p1,p2) = Σ over shared orders o of 1/|basket(o)|, accumulated as
    exact integers via the lcm(1..16) fixed-point weight.
    """
    return _weighted_links(spark, sf_dir, _RA_W, _LCM16, "ra_score_r")


@register(
    "adamic_adar_links",
    oracle=_weighted_links_sql(_AA_W, 1000000, "aa_score_r"),
)
def adamic_adar_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 part pairs by the Adamic–Adar index (Adamic & Adar 2003):
    AA(p1,p2) = Σ over shared orders o of 1/ln(|basket(o)|) — the
    log-discounted cousin of ``resource_allocation_links`` (RA penalizes
    big baskets harder with 1/deg; AA's gentler 1/ln(deg) is the standard
    social-network predictor). The 1/ln weight is the reason RA was built
    first: ln is transcendental. Solved here by PRECOMPUTING the 15
    possible weights round(1e6/ln(deg)) as Python integers, so both
    engines sum identical fixed-point constants — zero transcendental
    evaluation anywhere.

    Scale shape: identical to RA — over-cap baskets never fan out
    (≤120 pairs/order), partial+final aggregate on (p1,p2), top-100
    TakeOrderedAndProject on the exact integer score with (p1, p2)
    tie-break."""
    return _weighted_links(spark, sf_dir, _AA_W, 1000000, "aa_score_r")


_JN_SCALE = 1000000000  # fixed-point Jaccard: shared*1e9 // union is exact

_JN_SQL = f"""
    WITH {basket_pairs_sql(_MAX_BASKET)},
    deg AS (
        SELECT p, count(DISTINCT l_orderkey) AS d FROM (
            SELECT l_orderkey, u AS p FROM basket_pairs
            UNION ALL SELECT l_orderkey, v FROM basket_pairs
        ) GROUP BY 1
    ),
    s AS (SELECT u AS p1, v AS p2, count(*) AS n_shared FROM basket_pairs GROUP BY 1, 2)
    SELECT s.p1, s.p2, s.n_shared,
           d1.d::BIGINT AS deg1, d2.d::BIGINT AS deg2,
           (s.n_shared * {_JN_SCALE}) // (d1.d + d2.d - s.n_shared)
               AS jacc_q,
           round(s.n_shared * 1.0 / (d1.d + d2.d - s.n_shared), 6)
               AS jacc_r
    FROM s JOIN deg d1 ON d1.p = s.p1 JOIN deg d2 ON d2.p = s.p2
    ORDER BY jacc_q DESC, s.p1, s.p2
    LIMIT 100
"""


@register("jaccard_neighbor_links", oracle=_JN_SQL)
def jaccard_neighbor_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 part pairs by neighborhood Jaccard: J(p1,p2) =
    |orders(p1) ∩ orders(p2)| / |orders(p1) ∪ orders(p2)| over the capped
    basket graph (the same ≤16-part graph RA/AA score, so the three
    predictors rank the same candidate universe). Degrees count each
    part's capped-basket orders; union = deg1 + deg2 − shared.

    Exactness/ordering: the ranking key is the FIXED-POINT integer
    quotient shared·1e9 // union (exact floor division of exact integers
    in both engines), so the top-100 boundary never depends on a float;
    ``jacc_r`` is reported alongside from the same integers.

    Scale shape: cap-before-pairing bounds the fan-out (≤120 pairs/order);
    the two degree attachments are keyed equi-joins against the
    part-dimension-sized degree table (shuffle-partitioned on partkey, AQE
    free to broadcast it at small SF); top-100 is
    TakeOrderedAndProject."""
    pairs = basket_pairs(
        table(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey", _MAX_BASKET
    )
    # a part of a basket of n parts sits in n - 1 of the basket's pairs, so
    # its rows per (part, n), divided by n - 1, count those baskets exactly
    deg = (
        pairs.select(F.explode(F.array("u", "v")).alias("p"), "n")
        .groupBy("p", "n")
        .agg(F.count("*").alias("c"))
        .groupBy("p")
        .agg(F.sum(F.expr("c div (n - 1)")).alias("d"))
    )
    s = pairs.groupBy(F.col("u").alias("p1"), F.col("v").alias("p2")).agg(
        F.count("*").alias("n_shared")
    )
    # the degree table is part-dimension-sized (2 ints/row) while the pair
    # table is fact-fan-out-sized: broadcast the small side explicitly so
    # the two attachments never shuffle the pairs (sf1 audit: sort-merge
    # here was the 4.2× step; broadcast restores ~linear)
    j = (
        s.join(
            F.broadcast(
                deg.select(F.col("p").alias("p1"), F.col("d").alias("deg1"))
            ),
            "p1",
        )
        .join(
            F.broadcast(
                deg.select(F.col("p").alias("p2"), F.col("d").alias("deg2"))
            ),
            "p2",
        )
    )
    union = F.col("deg1") + F.col("deg2") - F.col("n_shared")
    return (
        j.select(
            "p1",
            "p2",
            "n_shared",
            F.col("deg1").cast("long").alias("deg1"),
            F.col("deg2").cast("long").alias("deg2"),
            F.expr(f"n_shared * {_JN_SCALE} div (deg1 + deg2 - n_shared)").alias(
                "jacc_q"
            ),
            F.round(F.col("n_shared") * 1.0 / union, 6).alias("jacc_r"),
        )
        .orderBy(F.col("jacc_q").desc(), "p1", "p2")
        .limit(100)
    )


_TRI_SQL = f"""
    WITH {basket_pairs_sql(_MAX_BASKET)},
    ed AS MATERIALIZED (
        SELECT u, v FROM basket_pairs GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    {triangles_sql("ed")},
    deg AS (
        SELECT p, count(*)::BIGINT AS d FROM (SELECT u AS p FROM ed UNION ALL SELECT v FROM ed)
        GROUP BY 1
    ),
    nodes AS (
        SELECT count(*)::BIGINT AS n_nodes, sum(d * (d - 1) // 2)::BIGINT AS n_wedges
        FROM deg
    ),
    tri AS (SELECT count(*)::BIGINT AS n_triangles FROM ed_tri)
    SELECT n.n_nodes, (SELECT count(*) FROM ed)::BIGINT AS n_edges, n.n_wedges,
           t.n_triangles,
           round(3.0 * t.n_triangles / nullif(n.n_wedges, 0), 6) AS clustering_coef_r
    FROM nodes n CROSS JOIN tri t
"""


@register("triangle_count_copurchase", oracle=_TRI_SQL)
def triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count and global clustering coefficient of the part
    co-purchase graph (edges = part pairs sharing ≥2 capped baskets — the
    repeat-co-occurrence backbone of the RA/AA/Jaccard candidate
    universe). Triangles are the primitive behind community density,
    graph-quality audits, and spam/bot-ring detection.

    Algorithm: ``triangles``, the degree-ordered m^1.5 enumeration.

    Exactness: counts are integers end-to-end; the clustering coefficient
    3T/W is one final double division.

    Scale shape: basket-capped pair aggregation (≤120 pairs/order, one
    shuffle) → HAVING ≥2 prunes to the repeat backbone → the triangle
    wedge join; wedges and nodes are one aggregate of the ``degrees``
    table the triangle order derives too.
    No cartesian, no windows."""
    # the backbone feeds the degree table, both sides of the triangle
    # orientation and the edge count, several under a BroadcastExchange
    ed = cut(
        basket_pairs(
            table(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey", _MAX_BASKET
        )
        .groupBy("u", "v")
        .agg(F.count("*").alias("ns"))
        .filter(F.col("ns") >= 2)
        .select("u", "v"),
        "triangle_count_copurchase.ed",
    )
    nodes = degrees(ed).agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) div 2")).cast("long").alias("n_wedges"),
    )
    n_edges = ed.agg(F.count("*").cast("long").alias("n_edges"))
    tri = triangles(ed).agg(F.count("*").cast("long").alias("n_triangles"))
    return (
        nodes.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.round(
                3.0 * F.col("n_triangles")
                / F.nullif(F.col("n_wedges"), F.lit(0)).cast("double"),
                6,
            ).alias("clustering_coef_r"),
        )
    )


# ------------------------------------------------- k-truss peeling (r11)

_KTRUSS_K = 4          # keep edges in >= k-2 = 2 triangles
_KTRUSS_ROUNDS = 5     # unrolled peel rounds; certificate checks a 6th


def _ktruss_round_ctes(r: int) -> str:
    """One peel round as SQL CTEs: the triangles and per-edge support of
    the surviving edges ``ed{r}``, enumerated from scratch, and the next
    edge set (support >= k-2)."""
    return f"""
    {triangles_sql(f"ed{r}")},
    ed{r + 1} AS MATERIALIZED (
        SELECT e.u, e.v
        FROM ed{r} e JOIN ed{r}_support s ON s.u = e.u AND s.v = e.v
        WHERE s.s >= {_KTRUSS_K - 2}
    )"""


def _ktruss_sql() -> str:
    rounds = ",".join(_ktruss_round_ctes(r) for r in range(_KTRUSS_ROUNDS + 1))
    final = _KTRUSS_ROUNDS
    return f"""
    WITH {basket_pairs_sql(_MAX_BASKET)},
    ed0 AS MATERIALIZED (
        SELECT u, v FROM basket_pairs GROUP BY 1, 2 HAVING count(*) >= 2
    ),{rounds},
    nodes AS (
        SELECT count(DISTINCT p)::BIGINT AS n_nodes_truss FROM (
            SELECT u AS p FROM ed{final} UNION ALL SELECT v FROM ed{final}
        )
    )
    SELECT {_KTRUSS_K} AS k,
           (SELECT count(*) FROM ed0)::BIGINT AS n_edges_initial,
           (SELECT count(*) FROM ed{final})::BIGINT AS n_edges_truss,
           n.n_nodes_truss,
           ((SELECT count(*) FROM ed{final})
            - (SELECT count(*) FROM ed{final + 1}))::BIGINT AS n_unconverged
    FROM nodes n
"""


@register("ktruss_edges", oracle=_ktruss_sql())
def ktruss_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss (k=4) of the part co-purchase backbone: iteratively peel
    edges supported by fewer than k−2 = 2 triangles until the survivors
    form the 4-truss — the dense-substructure standard between triangles
    and cliques (Cohen 2008; every edge of a k-truss is in ≥ k−2 triangles
    among the truss itself, the community-core / spam-ring primitive one
    level stronger than ``kcore_peeling``'s degree floor).

    Algorithm: ONE triangle enumeration (``triangles``, the m^1.5
    bound), then 5 unrolled peel rounds of per-edge support recount +
    filter over the surviving triangle list — each round anti-joins out
    the triangles that lost an edge instead of re-enumerating wedges
    (exact by the subset invariant documented at the loop). Like the CC loop, convergence is
    CERTIFIED in-output, not assumed: ``n_unconverged`` counts edges a
    6th round would still drop (0 ⇒ the reported edge set IS the fixed
    point, since peeling is monotone).

    Exactness: integer supports and counts — no floats anywhere.

    Scale shape: the quadratic guard is inherited (basket-capped pair
    fan-out, repeat-co-occurrence backbone); the wedge join runs once,
    each round is then linear in the (shrinking) triangle list, and the
    edge set only shrinks. Triangle state is what the old per-round wedge
    join materialized as its intermediate anyway, now cut once; each
    round's state is cut too, so the unrolled plan stays K-linear."""
    ed = cut(
        basket_pairs(
            table(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey", _MAX_BASKET
        )
        .groupBy("u", "v")
        .agg(F.count("*").alias("ns"))
        .filter(F.col("ns") >= 2)
        .select("u", "v"),
        "ktruss_edges.ed",
    )
    n_initial = ed.agg(F.count("*").cast("long").alias("n_edges_initial"))
    # Triangles enumerated ONCE. Loop invariant: `tri` is exactly the
    # triangle set of the current `ed` — a triangle of ed_{r+1} ⊆ ed_r is a
    # triangle of ed_r whose 3 edges all survived, so removing the
    # triangles that contain a dropped edge maintains it. Dropped edges
    # that matter are exactly the supp rows with s < k−2 (an edge absent
    # from supp sits in NO triangle and so cannot appear in `tri`); each
    # round therefore anti-joins `tri` against that (small, shrinking) dead
    # set on each of its 3 edge slots instead of re-running the m^1.5
    # wedge enumeration — per-round support integers are identical by the
    # invariant, hence so is every ed_r.
    tri = cut(triangles(ed), "ktruss_edges.tri")
    for _ in range(_KTRUSS_ROUNDS):
        supp = cut(triangle_support(tri), "ktruss_edges.supp")
        ed = cut(
            ed.join(supp, ["u", "v"])
            .filter(F.col("s") >= _KTRUSS_K - 2)
            .select("u", "v"),
            "ktruss_edges.ed",
        )
        dead = supp.filter(F.col("s") < _KTRUSS_K - 2)
        for k in "123":
            tri = tri.join(
                dead.select(F.col("u").alias(f"u{k}"), F.col("v").alias(f"v{k}")),
                [f"u{k}", f"v{k}"],
                "left_anti",
            )
        tri = cut(tri, "ktruss_edges.tri")
    supp_final = triangle_support(tri)
    survivors = (
        ed.join(supp_final, ["u", "v"])
        .filter(F.col("s") >= _KTRUSS_K - 2)
        .agg(F.count("*").cast("long").alias("n_next"))
    )
    n_truss = ed.agg(F.count("*").cast("long").alias("n_edges_truss"))
    nodes = (
        ed.select(F.col("u").alias("p"))
        .unionAll(ed.select(F.col("v").alias("p")))
        .agg(F.count_distinct("p").cast("long").alias("n_nodes_truss"))
    )
    return (
        n_initial.crossJoin(F.broadcast(n_truss))
        .crossJoin(F.broadcast(nodes))
        .crossJoin(F.broadcast(survivors))
        .select(
            F.lit(_KTRUSS_K).cast("int").alias("k"),
            "n_edges_initial",
            "n_edges_truss",
            "n_nodes_truss",
            (F.col("n_edges_truss") - F.col("n_next"))
            .cast("long")
            .alias("n_unconverged"),
        )
    )
