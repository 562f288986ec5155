"""Iterative graph algorithms on DataFrames (fixed-round Pregel shape).

Spark has no native graph operator set; the idiomatic expression is the
join-aggregate round: messages = edges ⋈ current state, new state =
aggregate(messages). Each round is one shuffle-join plus one shuffled
aggregation — the same shape GraphX/Pregel lowers to. Rounds are FIXED
(plan-time unrolled): no driver-side data iteration, no collect; the whole
k-round computation is one lazy plan.

``connected_components`` is the one label-propagation loop of the engine
(every duplicate-cluster and DBSCAN query calls it), and
``connected_components_sql`` is its DuckDB twin, so an oracle cannot drift
from the engine.

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
