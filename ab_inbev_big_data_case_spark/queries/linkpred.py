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
from ab_inbev_big_data_case_spark.operators.lineage import cut

_LCM16 = 720720  # lcm(1..16): 720720/deg is exact for every allowed basket size
_MAX_BASKET = 16

_RA_SQL = f"""
    WITH e AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    w AS (
        SELECT o, {_LCM16} // count(*) AS wq
        FROM e GROUP BY 1
        HAVING count(*) BETWEEN 2 AND {_MAX_BASKET}
    ),
    pr AS (
        SELECT a.p AS p1, b.p AS p2, w.wq
        FROM e a JOIN e b ON a.o = b.o AND a.p < b.p
        JOIN w ON w.o = a.o
    ),
    s AS (
        SELECT p1, p2, count(*) AS n_shared, sum(wq)::BIGINT AS score_q
        FROM pr GROUP BY 1, 2
    )
    SELECT p1, p2, n_shared, score_q,
           round(score_q / {_LCM16}.0, 6) AS ra_score_r
    FROM s
    ORDER BY score_q DESC, p1, p2
    LIMIT 100
"""


@register("resource_allocation_links", oracle=_RA_SQL)
def resource_allocation_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 part pairs by Resource-Allocation link-prediction score:
    RA(p1,p2) = Σ over shared orders o of 1/|basket(o)|, accumulated as
    exact integers via the lcm(1..16) fixed-point weight.
    """
    # the distinct edge backbone feeds three consumers (the basket-degree
    # aggregate, both pair-join sides) and the degree side sits under a
    # BroadcastExchange, which blocks exchange reuse — stage profiling
    # showed the scan+distinct pipeline computed TWICE per run uncut.
    # Width-pinning the pair stage was tried and measured WORSE (AQE
    # local-read remaps a pinned exchange under the broadcast join; forcing
    # width via a repartitioned checkpoint added more wall than the 1.5 s
    # CPU it spread — rejected).
    e = cut(
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct(),
        "resource_allocation_links.e",
    )
    w = (
        e.groupBy("o")
        .agg(F.count("*").alias("deg"))
        .filter((F.col("deg") >= 2) & (F.col("deg") <= _MAX_BASKET))
        .select("o", F.expr(f"{_LCM16} div deg").alias("wq"))
    )
    # attach the weight BEFORE pairing: over-cap baskets are dropped by this
    # join and never fan out into pairs (the cap is the quadratic guard)
    a = e.join(w, "o").select("o", F.col("p").alias("p1"), "wq")
    b = e.select("o", F.col("p").alias("p2"))
    pr = a.join(b, "o").filter(F.col("p1") < F.col("p2"))
    s = pr.groupBy("p1", "p2").agg(
        F.count("*").alias("n_shared"), F.sum("wq").alias("score_q")
    )
    return (
        s.select(
            "p1",
            "p2",
            "n_shared",
            "score_q",
            F.round(F.col("score_q") / float(_LCM16), 6).alias("ra_score_r"),
        )
        .orderBy(F.col("score_q").desc(), "p1", "p2")
        .limit(100)
    )


# --------------------------------------------- round-10 family widening
#
# Adamic–Adar and neighborhood-Jaccard variants sharing the RA query's
# basket-bounded shape (cap-before-pairing is the quadratic guard; scores
# accumulate as exact integers; top-100 via TakeOrderedAndProject with a
# full deterministic tie-break).

#: Adamic–Adar weight table: round(1e6 / ln(deg)) for every allowed basket
#: size, PRECOMPUTED in Python so neither engine evaluates ln at all —
#: stronger than the lcm trick (which only works for 1/deg): pair scores
#: are exact integer sums of these fixed constants in both engines.
_AA_W = {
    2: 1442695, 3: 910239, 4: 721348, 5: 621335, 6: 558111, 7: 513898,
    8: 480898, 9: 455120, 10: 434294, 11: 417032, 12: 402430, 13: 389871,
    14: 378923, 15: 369269, 16: 360674,
}

_AA_CASE_SQL = "CASE count(*) " + " ".join(
    f"WHEN {d} THEN {w}" for d, w in _AA_W.items()
) + " END"

_AA_SQL = f"""
    WITH e AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    w AS (
        SELECT o, {_AA_CASE_SQL} AS wq
        FROM e GROUP BY 1
        HAVING count(*) BETWEEN 2 AND {_MAX_BASKET}
    ),
    pr AS (
        SELECT a.p AS p1, b.p AS p2, w.wq
        FROM e a JOIN e b ON a.o = b.o AND a.p < b.p
        JOIN w ON w.o = a.o
    ),
    s AS (
        SELECT p1, p2, count(*) AS n_shared, sum(wq)::BIGINT AS score_q
        FROM pr GROUP BY 1, 2
    )
    SELECT p1, p2, n_shared, score_q,
           round(score_q / 1000000.0, 6) AS aa_score_r
    FROM s
    ORDER BY score_q DESC, p1, p2
    LIMIT 100
"""


@register("adamic_adar_links", oracle=_AA_SQL)
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

    Scale shape: identical to RA — weights attach BEFORE pairing so
    over-cap baskets never fan out (≤120 pairs/order), partial+final
    aggregate on (p1,p2), top-100 TakeOrderedAndProject on the exact
    integer score with (p1, p2) tie-break."""
    # same three-consumer backbone as resource_allocation_links
    e = cut(
        table(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
        ).distinct(),
        "adamic_adar_links.e",
    )
    wq = F.lit(None)
    for d, wt in _AA_W.items():
        wq = F.when(F.col("deg") == d, wt).otherwise(wq)
    w = (
        e.groupBy("o")
        .agg(F.count("*").alias("deg"))
        .filter((F.col("deg") >= 2) & (F.col("deg") <= _MAX_BASKET))
        .select("o", wq.alias("wq"))
    )
    a = e.join(w, "o").select("o", F.col("p").alias("p1"), "wq")
    b = e.select("o", F.col("p").alias("p2"))
    pr = a.join(b, "o").filter(F.col("p1") < F.col("p2"))
    s = pr.groupBy("p1", "p2").agg(
        F.count("*").alias("n_shared"), F.sum("wq").alias("score_q")
    )
    return (
        s.select(
            "p1",
            "p2",
            "n_shared",
            "score_q",
            F.round(F.col("score_q") / 1000000.0, 6).alias("aa_score_r"),
        )
        .orderBy(F.col("score_q").desc(), "p1", "p2")
        .limit(100)
    )


_JN_SCALE = 1000000000  # fixed-point Jaccard: shared*1e9 // union is exact

_JN_SQL = f"""
    WITH e AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    ok AS (
        SELECT o FROM e GROUP BY 1
        HAVING count(*) BETWEEN 2 AND {_MAX_BASKET}
    ),
    ec AS (SELECT e.o, e.p FROM e JOIN ok ON ok.o = e.o),
    deg AS (SELECT p, count(*) AS d FROM ec GROUP BY 1),
    s AS (
        SELECT a.p AS p1, b.p AS p2, count(*) AS n_shared
        FROM ec a JOIN ec b ON a.o = b.o AND a.p < b.p
        GROUP BY 1, 2
    )
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
    e = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    ok = (
        e.groupBy("o")
        .agg(F.count("*").alias("deg"))
        .filter((F.col("deg") >= 2) & (F.col("deg") <= _MAX_BASKET))
        .select("o")
    )
    # ec feeds the degree aggregate (broadcast side — blocks exchange
    # reuse) and both pair-join sides, as in resource_allocation_links
    ec = cut(e.join(ok, "o"), "jaccard_neighbor_links.ec")
    # the dimension-sized degree table feeds TWO broadcast attachments
    deg = cut(
        ec.groupBy("p").agg(F.count("*").alias("d")), "jaccard_neighbor_links.deg"
    )
    a = ec.select("o", F.col("p").alias("p1"))
    b = ec.select("o", F.col("p").alias("p2"))
    s = (
        a.join(b, "o")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count("*").alias("n_shared"))
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
    WITH e0 AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    ok AS (
        SELECT o FROM e0 GROUP BY 1
        HAVING count(*) BETWEEN 2 AND {_MAX_BASKET}
    ),
    ec AS (SELECT e0.o, e0.p FROM e0 JOIN ok ON ok.o = e0.o),
    ed AS MATERIALIZED (
        SELECT a.p AS p1, b.p AS p2
        FROM ec a JOIN ec b ON a.o = b.o AND a.p < b.p
        GROUP BY 1, 2
        HAVING count(*) >= 2
    ),
    deg AS MATERIALIZED (
        SELECT p, count(*)::BIGINT AS d FROM (
            SELECT p1 AS p FROM ed UNION ALL SELECT p2 FROM ed
        ) GROUP BY 1
    ),
    orient AS MATERIALIZED (
        SELECT CASE WHEN (d1.d, e.p1) < (d2.d, e.p2) THEN e.p1 ELSE e.p2 END AS u,
               CASE WHEN (d1.d, e.p1) < (d2.d, e.p2) THEN e.p2 ELSE e.p1 END AS v
        FROM ed e JOIN deg d1 ON d1.p = e.p1 JOIN deg d2 ON d2.p = e.p2
    ),
    tri AS (
        SELECT count(*)::BIGINT AS n_triangles
        FROM orient o1
        JOIN orient o2 ON o2.u = o1.v
        JOIN orient o3 ON o3.u = o1.u AND o3.v = o2.v
    ),
    wdg AS (SELECT sum(d * (d - 1) // 2)::BIGINT AS n_wedges FROM deg),
    base AS (
        SELECT count(*)::BIGINT AS n_edges,
               (SELECT count(*) FROM deg)::BIGINT AS n_nodes
        FROM ed
    )
    SELECT b.n_nodes, b.n_edges, w.n_wedges, t.n_triangles,
           round(3.0 * t.n_triangles / nullif(w.n_wedges, 0), 6)
               AS clustering_coef_r
    FROM base b CROSS JOIN wdg w CROSS JOIN tri t
"""


@register("triangle_count_copurchase", oracle=_TRI_SQL)
def triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count and global clustering coefficient of the part
    co-purchase graph (edges = part pairs sharing ≥2 capped baskets — the
    repeat-co-occurrence backbone of the RA/AA/Jaccard candidate
    universe). Triangles are the primitive behind community density,
    graph-quality audits, and spam/bot-ring detection.

    Algorithm: DEGREE-ORDERED ORIENTATION (Chiba–Nishizeki / the standard
    MapReduce formulation): each undirected edge points from its
    (degree, id)-smaller endpoint to the larger, making the order total —
    every triangle then has EXACTLY one wedge u→v→w whose closing edge
    u→w is also oriented forward, so one equi-join of the oriented edge
    list with itself plus one closing semi-lookup counts each triangle
    once. Out-degrees under this orientation are bounded by O(√m) on any
    graph (arboricity bound), so the wedge join is the m^1.5 algorithm —
    never the deg² explosion a naive neighbor self-join would do on hub
    nodes.

    Exactness: counts are integers end-to-end; the tie-safe total order
    is the exact (d, p) tuple compare in both engines; the clustering
    coefficient 3T/W is one final double division.

    Scale shape: basket-capped pair aggregation (≤120 pairs/order, one
    shuffle) → HAVING ≥2 prunes to the repeat backbone → two broadcast-or
    -shuffled equi-joins on the edge list. No cartesian, no windows."""
    e = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    ok = (
        e.groupBy("o")
        .agg(F.count("*").alias("deg"))
        .filter((F.col("deg") >= 2) & (F.col("deg") <= _MAX_BASKET))
        .select("o")
    )
    # ec feeds both self-join sides of the pair build
    ec = cut(e.join(ok, "o"), "triangle_count_copurchase.ec")
    ed = cut(
        ec.alias("a")
        .join(ec.alias("b"), F.expr("a.o = b.o AND a.p < b.p"))
        .groupBy(F.col("a.p").alias("p1"), F.col("b.p").alias("p2"))
        .agg(F.count("*").alias("ns"))
        .filter(F.col("ns") >= 2)
        .select("p1", "p2"),
        "triangle_count_copurchase.ed",
    )
    deg = cut(
        ed.select(F.col("p1").alias("p"))
        .unionAll(ed.select(F.col("p2").alias("p")))
        .groupBy("p")
        .agg(F.count("*").alias("d")),
        "triangle_count_copurchase.deg",
    )
    j = (
        ed.join(F.broadcast(deg.select(F.col("p").alias("p1"), F.col("d").alias("d1"))), "p1")
        .join(F.broadcast(deg.select(F.col("p").alias("p2"), F.col("d").alias("d2"))), "p2")
    )
    fwd = (F.col("d1") < F.col("d2")) | (
        (F.col("d1") == F.col("d2")) & (F.col("p1") < F.col("p2"))
    )
    orient = cut(
        j.select(
            F.when(fwd, F.col("p1")).otherwise(F.col("p2")).alias("u"),
            F.when(fwd, F.col("p2")).otherwise(F.col("p1")).alias("v"),
        ),
        "triangle_count_copurchase.orient",
    )
    o1 = orient.select(F.col("u").alias("w_u"), F.col("v").alias("w_v"))
    o2 = orient.select(F.col("u").alias("x_u"), F.col("v").alias("x_v"))
    o3 = orient.select(F.col("u").alias("c_u"), F.col("v").alias("c_v"))
    tri = (
        o1.join(o2, F.col("x_u") == F.col("w_v"))
        .join(o3, (F.col("c_u") == F.col("w_u")) & (F.col("c_v") == F.col("x_v")))
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    wdg = deg.agg(F.sum(F.expr("d * (d - 1) div 2")).cast("long").alias("n_wedges"))
    base = ed.agg(F.count("*").cast("long").alias("n_edges")).crossJoin(
        F.broadcast(deg.agg(F.count("*").cast("long").alias("n_nodes")))
    )
    return (
        base.crossJoin(F.broadcast(wdg))
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
    """One peel round as SQL CTEs: degree-ordered orientation over the
    surviving edges, exactly-once triangle enumeration, per-undirected-edge
    support, and the next edge set (support >= k-2)."""
    return f"""
    deg{r} AS (
        SELECT p, count(*)::BIGINT AS d FROM (
            SELECT p1 AS p FROM ed{r} UNION ALL SELECT p2 FROM ed{r}
        ) GROUP BY 1
    ),
    orient{r} AS (
        SELECT CASE WHEN (d1.d, e.p1) < (d2.d, e.p2) THEN e.p1 ELSE e.p2 END AS u,
               CASE WHEN (d1.d, e.p1) < (d2.d, e.p2) THEN e.p2 ELSE e.p1 END AS v
        FROM ed{r} e JOIN deg{r} d1 ON d1.p = e.p1
                     JOIN deg{r} d2 ON d2.p = e.p2
    ),
    tri{r} AS (
        SELECT o1.u AS a, o1.v AS b, o2.v AS c
        FROM orient{r} o1
        JOIN orient{r} o2 ON o2.u = o1.v
        JOIN orient{r} o3 ON o3.u = o1.u AND o3.v = o2.v
    ),
    supp{r} AS (
        SELECT least(x, y) AS p1, greatest(x, y) AS p2,
               count(*)::BIGINT AS s
        FROM (
            SELECT a AS x, b AS y FROM tri{r}
            UNION ALL SELECT b, c FROM tri{r}
            UNION ALL SELECT a, c FROM tri{r}
        ) GROUP BY 1, 2
    ),
    ed{r + 1} AS MATERIALIZED (
        SELECT e.p1, e.p2
        FROM ed{r} e JOIN supp{r} s ON s.p1 = e.p1 AND s.p2 = e.p2
        WHERE s.s >= {_KTRUSS_K - 2}
    )"""


def _ktruss_sql() -> str:
    rounds = ",".join(_ktruss_round_ctes(r) for r in range(_KTRUSS_ROUNDS + 1))
    final = _KTRUSS_ROUNDS
    return f"""
    WITH e0 AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    ok AS (
        SELECT o FROM e0 GROUP BY 1
        HAVING count(*) BETWEEN 2 AND {_MAX_BASKET}
    ),
    ec AS (SELECT e0.o, e0.p FROM e0 JOIN ok ON ok.o = e0.o),
    ed0 AS MATERIALIZED (
        SELECT a.p AS p1, b.p AS p2
        FROM ec a JOIN ec b ON a.o = b.o AND a.p < b.p
        GROUP BY 1, 2
        HAVING count(*) >= 2
    ),{rounds},
    nodes AS (
        SELECT count(DISTINCT p)::BIGINT AS n_nodes_truss FROM (
            SELECT p1 AS p FROM ed{final} UNION ALL SELECT p2 FROM ed{final}
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


def _triangle_edges(ed: DataFrame) -> DataFrame:
    """Every triangle of ``ed`` (p1 < p2 canonical edges), one row per
    triangle, carrying its 3 canonical edges as (e1x,e1y,e2x,e2y,e3x,e3y):
    degree-ordered orientation makes the wedge join the m^1.5 enumeration
    (out-degree bounded by O(sqrt m)); every triangle is emitted once.

    r16 (guide §2.4): the peel loop used to RE-ENUMERATE wedges from
    scratch every round — 6 runs of this join per query. A triangle of any
    edge subset is exactly a triangle of the original set whose 3 edges
    all survive, so the enumeration runs ONCE and each peel round instead
    anti-joins out the triangles that lost an edge (see ``ktruss_edges``).
    The triangle list is lazily checkpointed — the same materialization
    the old formulation paid per round as the wedge join's intermediate,
    now paid once and reused."""
    deg = (
        ed.select(F.col("p1").alias("p"))
        .unionAll(ed.select(F.col("p2").alias("p")))
        .groupBy("p")
        .agg(F.count("*").alias("d"))
    )
    j = ed.join(
        F.broadcast(deg.select(F.col("p").alias("p1"), F.col("d").alias("d1"))),
        "p1",
    ).join(
        F.broadcast(deg.select(F.col("p").alias("p2"), F.col("d").alias("d2"))),
        "p2",
    )
    fwd = (F.col("d1") < F.col("d2")) | (
        (F.col("d1") == F.col("d2")) & (F.col("p1") < F.col("p2"))
    )
    orient = cut(
        j.select(
            F.when(fwd, F.col("p1")).otherwise(F.col("p2")).alias("u"),
            F.when(fwd, F.col("p2")).otherwise(F.col("p1")).alias("v"),
        ),
        "_triangle_edges.orient",
    )
    o1 = orient.select(F.col("u").alias("w_u"), F.col("v").alias("w_v"))
    o2 = orient.select(F.col("u").alias("x_u"), F.col("v").alias("x_v"))
    o3 = orient.select(F.col("u").alias("c_u"), F.col("v").alias("c_v"))
    tri = (
        o1.join(o2, F.col("x_u") == F.col("w_v"))
        .join(o3, (F.col("c_u") == F.col("w_u")) & (F.col("c_v") == F.col("x_v")))
        .select(F.col("w_u").alias("a"), F.col("w_v").alias("b"), F.col("x_v").alias("c"))
    )
    return tri.select(
        F.least("a", "b").alias("e1x"), F.greatest("a", "b").alias("e1y"),
        F.least("b", "c").alias("e2x"), F.greatest("b", "c").alias("e2y"),
        F.least("a", "c").alias("e3x"), F.greatest("a", "c").alias("e3y"),
    )


def _support_from(tri: DataFrame) -> DataFrame:
    """Per-edge triangle support from a triangle-edge table: each triangle
    credits its 3 canonical edges — identical integers to counting the
    wedge join's output directly (the old `_edge_support`), since the rows
    here ARE that join's output with the least/greatest projection
    precomputed."""
    e3 = (
        tri.select(F.col("e1x").alias("p1"), F.col("e1y").alias("p2"))
        .unionAll(tri.select(F.col("e2x").alias("p1"), F.col("e2y").alias("p2")))
        .unionAll(tri.select(F.col("e3x").alias("p1"), F.col("e3y").alias("p2")))
    )
    return e3.groupBy("p1", "p2").agg(F.count("*").alias("s"))


def _edge_support(ed: DataFrame) -> DataFrame:
    """FROM-SCRATCH per-edge triangle support over exactly ``ed`` (one
    fresh wedge enumeration). ``ktruss_edges`` no longer calls this per
    round (r16 — it maintains the triangle list incrementally); it stays
    as the reference implementation the invariant tests peel with
    round-by-round, so the incremental maintenance is adversarially
    checked against a from-scratch recount on every fixture."""
    return _support_from(_triangle_edges(ed))


@register("ktruss_edges", oracle=_ktruss_sql())
def ktruss_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss (k=4) of the part co-purchase backbone: iteratively peel
    edges supported by fewer than k−2 = 2 triangles until the survivors
    form the 4-truss — the dense-substructure standard between triangles
    and cliques (Cohen 2008; every edge of a k-truss is in ≥ k−2 triangles
    among the truss itself, the community-core / spam-ring primitive one
    level stronger than ``kcore_peeling``'s degree floor).

    Algorithm: ONE degree-ordered oriented triangle enumeration (the
    m^1.5 bound, same as ``triangle_count_copurchase``), then 5 unrolled
    peel rounds of per-edge support recount + filter over the surviving
    triangle list — each round anti-joins out the triangles that lost an
    edge instead of re-enumerating wedges (r16; exact by the subset
    invariant documented at the loop). Like the CC loop, convergence is
    CERTIFIED in-output, not assumed: ``n_unconverged`` counts edges a
    6th round would still drop (0 ⇒ the reported edge set IS the fixed
    point, since peeling is monotone).

    Exactness: integer supports, integer counts, exact (d, p) tuple
    compares — no floats anywhere.

    Scale shape: the quadratic guard is inherited (basket-capped pair
    fan-out, repeat-co-occurrence backbone); the wedge join runs once,
    each round is then linear in the (shrinking) triangle list, and the
    edge set only shrinks. Triangle state is what the old per-round wedge
    join materialized as its intermediate anyway, now cut once; each
    round's state is cut too, so the unrolled plan stays K-linear."""
    e = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    ok = (
        e.groupBy("o")
        .agg(F.count("*").alias("deg"))
        .filter((F.col("deg") >= 2) & (F.col("deg") <= _MAX_BASKET))
        .select("o")
    )
    # ec feeds both self-join sides of the pair build
    ec = cut(e.join(ok, "o"), "ktruss_edges.ec")
    ed = cut(
        ec.alias("a")
        .join(ec.alias("b"), F.expr("a.o = b.o AND a.p < b.p"))
        .groupBy(F.col("a.p").alias("p1"), F.col("b.p").alias("p2"))
        .agg(F.count("*").alias("ns"))
        .filter(F.col("ns") >= 2)
        .select("p1", "p2"),
        "ktruss_edges.ed",
    )
    n_initial = ed.agg(F.count("*").cast("long").alias("n_edges_initial"))
    # Triangles enumerated ONCE (r16, VERDICT r15 item 4; guide §2.4). Loop
    # invariant: `tri` is exactly the triangle set of the current `ed` — a
    # triangle of ed_{r+1} ⊆ ed_r is a triangle of ed_r whose 3 edges all
    # survived, so removing the triangles that contain a dropped edge
    # maintains it. Dropped edges that matter are exactly the supp rows
    # with s < k−2 (an edge absent from supp sits in NO triangle and so
    # cannot appear in `tri`); each round therefore anti-joins `tri`
    # against that (small, shrinking) dead set on each of its 3 edge slots
    # instead of re-running the m^1.5 wedge enumeration — per-round support
    # integers are identical by the invariant, hence so is every ed_r.
    tri = cut(_triangle_edges(ed), "ktruss_edges.tri")
    for _ in range(_KTRUSS_ROUNDS):
        supp = cut(_support_from(tri), "ktruss_edges.supp")
        ed = cut(
            ed.join(supp, ["p1", "p2"])
            .filter(F.col("s") >= _KTRUSS_K - 2)
            .select("p1", "p2"),
            "ktruss_edges.ed",
        )
        dead = supp.filter(F.col("s") < _KTRUSS_K - 2).select("p1", "p2")
        tri = cut(
            tri.join(
                dead.select(F.col("p1").alias("e1x"), F.col("p2").alias("e1y")),
                ["e1x", "e1y"],
                "left_anti",
            )
            .join(
                dead.select(F.col("p1").alias("e2x"), F.col("p2").alias("e2y")),
                ["e2x", "e2y"],
                "left_anti",
            )
            .join(
                dead.select(F.col("p1").alias("e3x"), F.col("p2").alias("e3y")),
                ["e3x", "e3y"],
                "left_anti",
            ),
            "ktruss_edges.tri",
        )
    supp_final = _support_from(tri)
    survivors = (
        ed.join(supp_final, ["p1", "p2"])
        .filter(F.col("s") >= _KTRUSS_K - 2)
        .agg(F.count("*").cast("long").alias("n_next"))
    )
    n_truss = ed.agg(F.count("*").cast("long").alias("n_edges_truss"))
    nodes = (
        ed.select(F.col("p1").alias("p"))
        .unionAll(ed.select(F.col("p2").alias("p")))
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
