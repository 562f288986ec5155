"""Iterative graph algorithms on DataFrames (fixed-round Pregel shape).

Spark has no native graph operator set; the idiomatic expression is the
join-aggregate round: messages = edges ⋈ current state, new state =
aggregate(messages). Each round is one shuffle-join plus one shuffled
aggregation — the same shape GraphX/Pregel lowers to. Rounds are FIXED
(plan-time unrolled): no driver-side data iteration, no collect; the whole
k-round computation is one lazy plan.

Three primitives own the graph idioms the queries share, and each has a
DuckDB twin that emits WITH-clause CTEs, so an oracle cannot drift from
the engine:

- ``basket_pairs`` / ``basket_pairs_sql``: the item pairs that share a
  basket (the co-purchase graph's edges are the pairs of at least two
  baskets; link scores weight them per basket);
- ``triangles`` / ``triangles_sql`` (with ``triangle_support``): every
  triangle of an edge set, enumerated once by degree order;
- ``connected_components`` / ``connected_components_sql``: the one
  label-propagation loop (every duplicate-cluster and DBSCAN query).

At 100 TB: pre-partition ``edges`` by ``src`` (bucketing) so the per-round
state join reuses the exchange; for high iteration counts, cut the state's
lineage every few rounds (the ``_CUT_STRIDE`` policy below).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from ab_inbev_big_data_case_spark.operators.lineage import cut


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    n_iter: int = 3,
    damping: float = 0.85,
    round_to: int = 8,
) -> DataFrame:
    """Weighted PageRank, ``n_iter`` unrolled join-agg rounds.

    ``rank_{t+1}(v) = (1-d)/N + d * Σ_{u→v} rank_t(u) · w(u,v)/w_out(u)``.

    Node count N enters the plan as a broadcast 1-row aggregate crossJoin
    (the ``tfidf_stats`` idiom) — never a driver-side ``.count()``. Ranks
    are rounded to ``round_to`` decimals after every round so independent
    executions (and cross-engine oracles) agree bit-for-bit regardless of
    float summation order; the rounding error is orders of magnitude below
    PageRank's own iteration truncation.

    Nodes with no inbound edges settle at (1-d)/N; sink nodes (no outbound)
    leak mass — standard non-normalized treatment, fine for ranking use.
    """
    w_col = F.col(weight).cast("double") if weight else F.lit(1.0)
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"), w_col.alias("w"))
    nodes = e.select(F.col("src").alias("node")).union(
        e.select(F.col("dst").alias("node"))
    ).distinct()
    n_df = nodes.agg(F.count(F.lit(1)).cast("double").alias("n_nodes"))

    # Per-edge transition fraction w/w_out — one window over src, computed once
    frac = e.withColumn(
        "frac", F.col("w") / F.sum("w").over(Window.partitionBy("src"))
    ).select("src", "dst", "frac")

    ranks = nodes.crossJoin(F.broadcast(n_df)).select(
        "node", (F.lit(1.0) / F.col("n_nodes")).alias("rank")
    )
    for _ in range(n_iter):
        contrib = (
            frac.join(ranks, frac["src"] == ranks["node"])
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("frac")).alias("in_mass"))
        )
        ranks = (
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .crossJoin(F.broadcast(n_df))
            .select(
                "node",
                F.round(
                    (1.0 - damping) / F.col("n_nodes")
                    + damping * F.coalesce(F.col("in_mass"), F.lit(0.0)),
                    round_to,
                ).alias("rank"),
            )
        )
    return ranks


def basket_pairs(
    df: DataFrame, basket_col: str, item_col: str, max_basket: int | None = None
) -> DataFrame:
    """Item pairs that share a basket: one row ``(basket_col, u, v, n)`` per
    basket and pair of its distinct items ``u < v``, where ``n`` is the
    basket's number of distinct items. Rows with a null basket or item drop
    out; a basket of more than ``max_basket`` distinct items emits nothing.

    One aggregation, no self-join: each basket's items are collected once
    and its combinations come from an array lambda, so ``df`` is shuffled
    once and no join runs. Fan-out is n(n-1)/2 rows per basket;
    ``max_basket`` bounds it where baskets are not small by construction.
    The collected set is linear in the basket size, so a dropped
    mega-basket is buffered once.
    """
    baskets = (
        df.filter(F.col(basket_col).isNotNull())
        .groupBy(basket_col)
        .agg(F.sort_array(F.collect_set(item_col)).alias("items"))
        .withColumn("n", F.size("items"))
        .filter(F.col("n") >= 2)
    )
    if max_basket is not None:
        baskets = baskets.filter(F.col("n") <= max_basket)
    # each item x pairs with the items after it; the lambda variables carry
    # the set's non-null elements, so u and v are non-nullable and Catalyst
    # infers no IsNotNull filter above the pairs (such a filter stops at the
    # Generate and differs per consumer, which defeats exchange reuse)
    combos = F.flatten(
        F.transform(
            "items",
            lambda x, i: F.transform(
                F.slice("items", i + 2, F.col("n")),
                lambda y: F.struct(x.alias("u"), y.alias("v")),
            ),
        )
    )
    return baskets.select(basket_col, F.inline(combos), "n")


def basket_pairs_sql(max_basket: int | None = None) -> str:
    """DuckDB twin of ``basket_pairs(lineitem, "l_orderkey", "l_partkey",
    max_basket)``, the order baskets every co-purchase oracle pairs: a
    WITH-clause body that defines ``basket_pairs(l_orderkey, u, v, n)``
    (and its helper CTE ``bp_items``)."""
    cap = "" if max_basket is None else f" AND n <= {max_basket}"
    return f"""bp_items AS (
        SELECT * FROM (
            SELECT l_orderkey, l_partkey AS item,
                   count(*) OVER (PARTITION BY l_orderkey) AS n
            FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
                  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL)
        ) WHERE n >= 2{cap}
    ),
    basket_pairs AS (
        SELECT a.l_orderkey, a.item AS u, b.item AS v, a.n
        FROM bp_items a
        JOIN bp_items b ON b.l_orderkey = a.l_orderkey AND b.item > a.item
    )"""


def degrees(edges: DataFrame) -> DataFrame:
    """Degree ``(p, d)`` of every node of the undirected edges ``(u, v)``,
    each edge once. ``triangles`` orders by it; a caller that also needs
    degrees (wedge or node counts) calls this on the same ``edges``, so
    the two derivations are one plan that exchange reuse shares."""
    return (
        edges.select(F.col("u").alias("p"))
        .unionAll(edges.select(F.col("v").alias("p")))
        .groupBy("p")
        .agg(F.count("*").alias("d"))
    )


def triangles(edges: DataFrame) -> DataFrame:
    """Every triangle of ``edges`` once, as its three edges
    ``(u1, v1, u2, v2, u3, v3)``, each edge with ``u < v``.

    ``edges`` holds undirected edges ``(u, v)``, ``u < v``, each once.
    Each edge points from its (degree, id)-smaller endpoint to the larger;
    the order is total, so a triangle is exactly one wedge a→b→c whose
    closing edge a→c also points forward. Out-degrees under this order are
    O(√m) on any graph, so the wedge join is the m^1.5 enumeration
    (Chiba–Nishizeki); under plain id order one hub's wedges grow with its
    degree squared. Nothing is cut: a caller that reads the triangles more
    than once cuts them."""
    deg = degrees(edges)
    j = edges.join(
        F.broadcast(deg.select(F.col("p").alias("u"), F.col("d").alias("du"))), "u"
    ).join(F.broadcast(deg.select(F.col("p").alias("v"), F.col("d").alias("dv"))), "v")
    fwd = F.col("du") <= F.col("dv")  # u < v: (du, u) < (dv, v) iff du <= dv
    ab = j.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("b"),
    )
    bc = ab.select(F.col("a").alias("b"), F.col("b").alias("c"))
    ac = ab.select("a", F.col("b").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"], "left_semi")
    return tri.select(
        F.least("a", "b").alias("u1"), F.greatest("a", "b").alias("v1"),
        F.least("b", "c").alias("u2"), F.greatest("b", "c").alias("v2"),
        F.least("a", "c").alias("u3"), F.greatest("a", "c").alias("v3"),
    )


def triangle_support(tri: DataFrame) -> DataFrame:
    """Per-edge triangle support ``(u, v, s)`` of a ``triangles`` table:
    each triangle credits its three edges. An edge in no triangle has no
    row. ``tri`` is read once."""
    edges = F.array(
        *(F.struct(F.col(f"u{k}").alias("u"), F.col(f"v{k}").alias("v")) for k in "123")
    )
    return tri.select(F.inline(edges)).groupBy("u", "v").agg(F.count("*").alias("s"))


def triangles_sql(edges_cte: str) -> str:
    """DuckDB twin of ``triangles`` and ``triangle_support``: a WITH-clause
    body over the CTE ``edges_cte(u, v)`` that defines
    ``<edges_cte>_tri(u1, v1, u2, v2, u3, v3)`` and
    ``<edges_cte>_support(u, v, s)``, with helper CTEs ``<edges_cte>_deg``
    and ``<edges_cte>_orient``. The names carry the edge CTE's name, so one
    query can enumerate several edge sets."""
    e = edges_cte
    return f"""{e}_deg AS MATERIALIZED (
        SELECT p, count(*) AS d FROM (SELECT u AS p FROM {e} UNION ALL SELECT v FROM {e})
        GROUP BY 1
    ),
    {e}_orient AS MATERIALIZED (
        SELECT CASE WHEN du.d <= dv.d THEN x.u ELSE x.v END AS a,
               CASE WHEN du.d <= dv.d THEN x.v ELSE x.u END AS b
        FROM {e} x JOIN {e}_deg du ON du.p = x.u JOIN {e}_deg dv ON dv.p = x.v
    ),
    {e}_tri AS (
        SELECT least(ab.a, ab.b) AS u1, greatest(ab.a, ab.b) AS v1,
               least(ab.b, bc.b) AS u2, greatest(ab.b, bc.b) AS v2,
               least(ab.a, bc.b) AS u3, greatest(ab.a, bc.b) AS v3
        FROM {e}_orient ab
        JOIN {e}_orient bc ON bc.a = ab.b
        JOIN {e}_orient ac ON ac.a = ab.a AND ac.b = bc.b
    ),
    {e}_support AS (
        SELECT u, v, count(*) AS s FROM (
            SELECT u1 AS u, v1 AS v FROM {e}_tri
            UNION ALL SELECT u2, v2 FROM {e}_tri
            UNION ALL SELECT u3, v3 FROM {e}_tri
        ) GROUP BY 1, 2
    )"""


# Union-form rounds between lineage cuts of the label table. A round
# references its input twice (edge relax and pointer jump), so an uncut
# segment of s rounds plans 2^s copies of its input; each lazy cut fires
# its upstream shuffle stages as construction jobs under AQE, and every
# cut costs a planning pass. Measured on the four CC queries (local[4],
# construct + collect at sf0.1; construction jobs at sf0.001), stride
# 1 / 2 / 3: DBSCAN 10.7 / 4.8 / 5.7 s, each LSH query 3.1-3.5 /
# 3.1-3.2 / 3.3-3.6 s, jobs 160 / 129 / 111. Stride 2 is the fastest.
_CUT_STRIDE = 2


def _cc_round(edges: DataFrame, lab: DataFrame) -> DataFrame:
    """One union-form round: ``lab'(v) = min(lab(u) for u ~ v, lab(lab(v)))``.

    The edge relax (key ``src``, emit for ``dst``) and the pointer jump
    (key ``lab(v)``, emit for ``v``) are unioned into one keyed relation
    that probes ``lab`` once: one join and one grouped min per round."""
    relax = edges.select(F.col("src").alias("k"), F.col("dst").alias("v"))
    contrib = relax.unionByName(lab.select(F.col("lab").alias("k"), "v"))
    return (
        contrib.join(lab.select(F.col("v").alias("k"), "lab"), "k")
        .groupBy("v")
        .agg(F.min("lab").alias("lab"))
    )


def connected_components(
    nodes: DataFrame, edges: DataFrame, rounds: int
) -> tuple[DataFrame, DataFrame]:
    """Connected components by hash-to-min label propagation:
    ``(labels(v, lab), n_unconverged)``.

    ``nodes`` has one row per node in column ``v``; ``edges`` holds
    undirected edges as ``(src, dst)``, each in either orientation, with
    both endpoints in ``nodes``. The edges are symmetrized and cut once.
    Labels start at ``lab(v) = v``; each of the ``rounds`` rounds takes the
    minimum over the neighbors' labels and the label of the node's label
    (relax ∪ pointer jump, Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC 2014), so reach roughly doubles per round.
    Labels never rise and always name a node of the same component.

    ``n_unconverged`` is a 1-row frame: the number of nodes one more round
    would change. 0 is a complete certificate: every edge then joins equal
    labels, so each component carries one label, and that label is its
    minimum node id. Nothing is collected; the caller decides whether to
    emit or act on the certificate. Isolated nodes keep their own id."""
    back = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    sym = cut(edges.select("src", "dst").unionAll(back), "connected_components.sym")
    lab = nodes.select("v", F.col("v").alias("lab"))
    for r in range(1, rounds + 1):
        lab = _cc_round(sym, lab)
        if r % _CUT_STRIDE == 0:
            lab = cut(lab, "connected_components.lab")
    n_unconverged = (
        lab.join(_cc_round(sym, lab).withColumnRenamed("lab", "lab2"), "v")
        .filter(F.col("lab") != F.col("lab2"))
        .agg(F.count(F.lit(1)).alias("n_unconverged"))
    )
    return lab, n_unconverged


def connected_components_sql(nodes_cte: str, edges_cte: str, rounds: int) -> str:
    """DuckDB twin of ``connected_components``: a WITH-clause body over the
    CTEs ``nodes_cte(v)`` and ``edges_cte(src, dst)`` that defines
    ``cc_labels(v, lab)`` and ``cc_unconverged(n_unconverged)``.

    Every round is a MATERIALIZED CTE; DuckDB would otherwise inline the
    chain into exponentially many scans."""
    ctes = [
        f"""cc_e AS MATERIALIZED (
        SELECT src, dst FROM {edges_cte} UNION ALL SELECT dst, src FROM {edges_cte}
    )""",
        f"cc_l0 AS MATERIALIZED (SELECT v, v AS lab FROM {nodes_cte})",
    ]
    for k in range(rounds + 1):  # +1: the certificate round
        ctes.append(
            f"""cc_l{k + 1} AS MATERIALIZED (
        SELECT c.v, min(l.lab) AS lab FROM (
            SELECT src AS k, dst AS v FROM cc_e
            UNION ALL SELECT lab, v FROM cc_l{k}
        ) c JOIN cc_l{k} l ON l.v = c.k
        GROUP BY 1
    )"""
        )
    ctes.append(f"cc_labels AS (SELECT v, lab FROM cc_l{rounds})")
    ctes.append(
        f"""cc_unconverged AS (
        SELECT count(*)::BIGINT AS n_unconverged
        FROM cc_l{rounds} a JOIN cc_l{rounds + 1} b ON b.v = a.v AND b.lab <> a.lab
    )"""
    )
    return ",\n    ".join(ctes)
