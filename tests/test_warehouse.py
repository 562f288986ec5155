"""Unit tests: warehouse-maintenance operators (profile, SCD2, PageRank,
connected components) on tiny literal DataFrames — exact expected outputs
plus the structural invariants each operator promises (SURVEY.md §5.2)."""

import itertools
import math
import os
import random
from collections import Counter

import duckdb
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from ab_inbev_big_data_case_spark.operators.graph import (
    basket_pairs,
    basket_pairs_sql,
    connected_components,
    connected_components_sql,
    pagerank,
    triangle_support,
    triangles,
    triangles_sql,
)
from ab_inbev_big_data_case_spark.operators.relational import build_scd2, profile
from ab_inbev_big_data_case_spark.registry import QUERIES, load_all
from ab_inbev_big_data_case_spark.sources.readers import table

load_all()


def test_profile_counts_and_typed_minmax(spark):
    df = spark.createDataFrame(
        [(1, "a", 2.0), (2, "b", None), (2, None, 8.0)],
        "k long, s string, v double",
    )
    rows = {r["col_name"]: r for r in profile(df).collect()}
    assert set(rows) == {"k", "s", "v"}
    assert all(r["n_rows"] == 3 for r in rows.values())
    assert rows["k"]["n_nulls"] == 0 and rows["k"]["n_distinct"] == 2
    assert rows["s"]["n_nulls"] == 1 and rows["s"]["n_distinct"] == 2
    assert rows["v"]["n_nulls"] == 1
    # numeric min/max land in the num slots, strings in the str slots
    assert rows["k"]["min_num"] == 1.0 and rows["k"]["max_num"] == 2.0
    assert rows["k"]["min_str"] is None
    assert rows["s"]["min_str"] == "a" and rows["s"]["max_str"] == "b"
    assert rows["s"]["min_num"] is None


def test_profile_is_single_aggregate_plan(spark):
    df = spark.createDataFrame([(1, "a")], "k long, s string")
    plan = profile(df)._jdf.queryExecution().optimizedPlan().toString()
    # one Aggregate chain over one scan — the melt is in-row, not a union
    assert plan.count("LogicalRDD") == 1


def _feed(spark):
    # key 1: A,A,B,A → intervals A[1,3) B[3,4) A[4,∞); key 2: C → C[1,∞)
    return spark.createDataFrame(
        [(1, 1, "A"), (1, 2, "A"), (1, 3, "B"), (1, 4, "A"), (2, 1, "C")],
        "k long, t long, attr string",
    )


def test_scd2_collapses_runs_and_closes_intervals(spark):
    out = build_scd2(_feed(spark), "k", "t", "attr").collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r["k"], []).append(r)
    k1 = sorted(by_key[1], key=lambda r: r["eff_from"])
    assert [(r["attr"], r["eff_from"], r["eff_to"]) for r in k1] == [
        ("A", 1, 3),
        ("B", 3, 4),
        ("A", 4, None),
    ]
    assert [r["is_current"] for r in k1] == [False, False, True]
    assert by_key[2][0]["attr"] == "C" and by_key[2][0]["is_current"]


def test_scd2_intervals_partition_the_timeline(spark):
    # each interval's eff_to equals the next interval's eff_from (no gaps,
    # no overlaps) — the defining SCD2 invariant
    out = build_scd2(_feed(spark), "k", "t", "attr")
    w = F.lead("eff_from").over(Window.partitionBy("k").orderBy("eff_from"))
    bad = out.withColumn("next_from", w).filter(
        F.col("eff_to").isNotNull() & (F.col("eff_to") != F.col("next_from"))
    )
    assert bad.count() == 0


def test_pagerank_star_graph_ranks_hub_highest(spark):
    # 3 spokes all pointing at a hub: hub rank must dominate, spokes equal
    edges = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (0, 1)], "src long, dst long"
    )
    ranks = {r["node"]: r["rank"] for r in pagerank(edges, n_iter=5).collect()}
    assert ranks[0] == max(ranks.values())
    assert ranks[2] == ranks[3]  # symmetric spokes
    # total mass stays ≤ 1 (sinks leak, never gain)
    assert sum(ranks.values()) <= 1.0 + 1e-6


def test_pagerank_uniform_cycle_is_uniform(spark):
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], "src long, dst long")
    ranks = [r["rank"] for r in pagerank(edges, n_iter=4).collect()]
    # per-round rounding to 8 decimals truncates 1/3 — allow that quantum
    assert all(math.isclose(r, 1 / 3, abs_tol=1e-7) for r in ranks)


def _cc(spark, nodes, edges, rounds):
    """Spark ``connected_components`` on literal lists:
    (sorted (v, lab) rows, n_unconverged)."""
    n = spark.createDataFrame([(v,) for v in nodes], "v long")
    e = spark.createDataFrame(edges, "src long, dst long")
    labels, unc = connected_components(n, e, rounds)
    return (
        sorted((r["v"], r["lab"]) for r in labels.collect()),
        unc.collect()[0]["n_unconverged"],
    )


def _cc_sql(nodes, edges, rounds):
    """``connected_components_sql`` in DuckDB on the same lists."""
    con = duckdb.connect()
    con.execute("CREATE TABLE nodes (v BIGINT)")
    con.execute("CREATE TABLE edges (src BIGINT, dst BIGINT)")
    con.executemany("INSERT INTO nodes VALUES (?)", [(v,) for v in nodes])
    con.executemany("INSERT INTO edges VALUES (?, ?)", edges)
    body = connected_components_sql("nodes", "edges", rounds)
    labels = sorted(con.execute(f"WITH {body} SELECT v, lab FROM cc_labels").fetchall())
    (unc,) = con.execute(f"WITH {body} SELECT * FROM cc_unconverged").fetchone()
    return labels, unc


def _component_min(nodes, edges):
    """Pure-Python union-find: node -> minimum node id of its component."""
    parent = {v: v for v in nodes}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in nodes}


def test_connected_components_transitive_chain(spark):
    """A-B and B-C pairs must collapse into one cluster labeled min id,
    and disconnected pairs keep separate labels."""
    pairs = [(1, 2), (2, 3), (10, 11)]
    got, _ = _cc(spark, [1, 2, 3, 10, 11], pairs, rounds=3)
    assert dict(got) == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


@pytest.mark.parametrize("seed", [7, 11, 19])
def test_connected_components_match_union_find_and_sql_twin(spark, seed):
    """Seeded random ~50-node graphs: labels are the component minimum,
    isolated nodes keep their own id, the certificate is 0, and the DuckDB
    twin returns the identical labels and certificate."""
    rng = random.Random(seed)
    nodes = rng.sample(range(1000), 50)
    edges = [tuple(rng.sample(nodes, 2)) for _ in range(30)]
    want = _component_min(nodes, edges)
    got, unc = _cc(spark, nodes, edges, rounds=10)
    assert got == sorted(want.items()) and unc == 0
    isolated = set(nodes) - {x for e in edges for x in e}
    assert isolated and all(dict(got)[v] == v for v in isolated)
    assert _cc_sql(nodes, edges, rounds=10) == (got, unc)


def test_connected_components_certificate_flags_truncation(spark):
    """A 40-node path is beyond what 3 rounds can cover: the certificate
    counts the nodes still moving, and the SQL twin stops at the same
    (unconverged) labels. Round 3 is the first where the pointer jump
    reaches further than the edge relax alone."""
    nodes = list(range(40))
    edges = [(i, i + 1) for i in range(39)]
    got, unc = _cc(spark, nodes, edges, rounds=3)
    assert unc > 0
    assert {lab for _, lab in got} != {0}
    assert _cc_sql(nodes, edges, rounds=3) == (got, unc)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_cc_fixture_certificates(sf_dir, sf):
    """The round constants reach the fixpoint on every fixture: the DuckDB
    oracles of the LSH graph (``_CC_ROUNDS``) and the DBSCAN subcell graph
    (``_DBSCAN_ROUNDS``) both certify 0 unconverged nodes."""
    from ab_inbev_big_data_case_spark.registry import ORACLE

    sf_dir = os.path.join(os.path.dirname(sf_dir), sf)
    if not os.path.isdir(sf_dir):
        pytest.skip(f"no fixture at {sf_dir}")
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    unc = con.execute(
        f"SELECT DISTINCT n_unconverged FROM ({ORACLE['duplicate_cluster_components']})"
    ).fetchall()
    converged = con.execute(
        f"SELECT DISTINCT converged FROM ({ORACLE['dbscan_grid_clusters']})"
    ).fetchall()
    assert (unc, converged) == ([(0,)], [(1,)])


def _basket_rows(seed):
    """Seeded (basket, item) rows: 40 baskets of 1-8 draws over 30 items
    (repeats included), baskets of 16 and 17 distinct items, and rows with
    a null basket or a null item."""
    rng = random.Random(seed)
    rows = [(b, rng.randrange(30)) for b in range(40) for _ in range(rng.randint(1, 8))]
    rows += [(98, i) for i in range(100, 116)] + [(99, i) for i in range(17)]
    rows += [(None, 1), (None, 2), (5, None), (99, None)]
    return rows


def _basket_pairs_brute(rows, max_basket):
    baskets = {}
    for b, i in rows:
        if b is not None and i is not None:
            baskets.setdefault(b, set()).add(i)
    return sorted(
        (b, u, v, len(items))
        for b, items in baskets.items()
        if max_basket is None or len(items) <= max_basket
        for u, v in itertools.combinations(sorted(items), 2)
    )


@pytest.mark.parametrize("max_basket", [16, None])
@pytest.mark.parametrize("seed", [3, 5])
def test_basket_pairs_match_brute_force_and_sql_twin(spark, seed, max_basket):
    """One row per basket and distinct item pair u < v with the basket's
    distinct-item count; null keys drop out, the 16-item basket always
    pairs and the 17-item one only without a cap; the DuckDB twin returns
    the same rows."""
    rows = _basket_rows(seed)
    want = _basket_pairs_brute(rows, max_basket)
    assert {16, 17} & {n for *_, n in want} == ({16} if max_basket else {16, 17})
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    got = basket_pairs(df, "l_orderkey", "l_partkey", max_basket).collect()
    assert sorted(tuple(r) for r in got) == want
    con = duckdb.connect()
    con.execute("CREATE TABLE lineitem (l_orderkey BIGINT, l_partkey BIGINT)")
    con.executemany("INSERT INTO lineitem VALUES (?, ?)", rows)
    sql = f"WITH {basket_pairs_sql(max_basket)} SELECT l_orderkey, u, v, n FROM basket_pairs"
    assert sorted(con.execute(sql).fetchall()) == want


def _graph(name):
    """Canonical (u < v) edge lists: seeded random graphs, and a hub graph
    (a star on node 0 joined to a clique that contains it, plus a few
    leaf-leaf edges) where the smallest id has the largest degree."""
    if name == "hub":
        edges = {(0, leaf) for leaf in range(10, 50)}
        edges |= set(itertools.combinations(range(5), 2))
        edges |= {(10, 11), (11, 12), (10, 12), (20, 21)}
    else:
        rng = random.Random(name)
        edges = {tuple(sorted(rng.sample(range(25), 2))) for _ in range(90)}
    return sorted(edges)


def _triangles_brute(edges):
    """Each triangle as its sorted list of 3 canonical edges, from
    ``itertools.combinations`` over the nodes."""
    es = set(edges)
    nodes = sorted({x for e in edges for x in e})
    return sorted(
        sorted([(a, b), (b, c), (a, c)])
        for a, b, c in itertools.combinations(nodes, 3)
        if {(a, b), (b, c), (a, c)} <= es
    )


@pytest.mark.parametrize("graph", [7, 11, "hub"])
def test_triangles_match_brute_force_and_sql_twin(spark, graph):
    """``triangles`` emits every triangle exactly once with its 3 canonical
    edges, ``triangle_support`` counts each edge's triangles, and the DuckDB
    twin returns the same triangles and supports."""
    edges = _graph(graph)
    want = _triangles_brute(edges)
    want_support = sorted((u, v, s) for (u, v), s in Counter(e for t in want for e in t).items())
    assert want

    def as_edges(rows):
        return sorted(sorted([(r[0], r[1]), (r[2], r[3]), (r[4], r[5])]) for r in rows)

    tri = triangles(spark.createDataFrame(edges, "u long, v long"))
    assert tri.columns == ["u1", "v1", "u2", "v2", "u3", "v3"]
    assert as_edges(tri.collect()) == want
    assert sorted(tuple(r) for r in triangle_support(tri).collect()) == want_support
    con = duckdb.connect()
    con.execute("CREATE TABLE e (u BIGINT, v BIGINT)")
    con.executemany("INSERT INTO e VALUES (?, ?)", edges)
    body = triangles_sql("e")
    assert as_edges(con.execute(f"WITH {body} SELECT * FROM e_tri").fetchall()) == want
    assert sorted(con.execute(f"WITH {body} SELECT * FROM e_support").fetchall()) == want_support


def test_ivm_join_delta_terms_nonempty(spark, sf_dir):
    """The delta split must exercise every term of the join-IVM algebra:
    both delta relations are non-empty and contribute joined rows, so the
    oracle's full-recompute match is evidence for the merge, not for a
    degenerate empty-delta case."""
    from ab_inbev_big_data_case_spark.sources.readers import table

    li = table(spark, sf_dir, "lineitem").select("l_orderkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey")
    l_d = li.filter(F.col("l_orderkey") % 7 == 0)
    o_d = o.filter(F.col("o_orderkey") % 5 == 0)
    assert l_d.count() > 0 and o_d.count() > 0
    assert l_d.join(o_d, l_d.l_orderkey == o_d.o_orderkey).count() > 0


# ------------------------------------------- round-5: compaction + CDC apply


def test_compaction_plan_matches_sequential_simulation(spark, sf_dir):
    """The windowed bin assignment must equal the sequential cumulative-fill
    simulation per partition, and conserve the file inventory."""
    li = table(spark, sf_dir, "lineitem")
    files = (
        li.groupBy(
            F.date_trunc("month", "l_shipdate").alias("month"),
            (F.col("l_orderkey") % 12).alias("sub"),
        )
        .agg((F.count("*") * 120).alias("bytes"))
        .collect()
    )
    sim = {}
    by_month = {}
    for r in files:
        by_month.setdefault(r.month, []).append((r.bytes, r.sub))
    for month, fs in by_month.items():
        fs.sort(key=lambda t: (-t[0], t[1]))
        bins = {}
        cum = 0
        for bytes_, _ in fs:
            bins.setdefault(cum // 32_000, []).append(bytes_)
            cum += bytes_
        sim[month] = {
            "n_files": len(fs),
            "total": sum(b for b, _ in fs),
            "n_bins": len(bins),
            "max_bin": max(sum(v) for v in bins.values()),
            "fill_bp": sum(b for b, _ in fs) * 10000 // (len(bins) * 32_000),
        }
    got = {r.month: r for r in QUERIES["compaction_plan"](spark, sf_dir).collect()}
    assert set(got) == set(sim)
    for month, s in sim.items():
        g = got[month]
        assert (g.n_files, g.total_bytes, g.n_bins, g.max_bin_bytes, g.fill_bp) == (
            s["n_files"], s["total"], s["n_bins"], s["max_bin"], s["fill_bp"]
        ), month


def test_cdc_apply_changeset_merge_semantics(spark, sf_dir):
    from ab_inbev_big_data_case_spark.registry import QUERIES

    out = QUERIES["cdc_apply_changeset"](spark, sf_dir)
    o = table(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderdate") < "1997-01-01")
    n_base = base.count()
    n_del = base.filter(F.col("o_orderkey") % 7 == 0).count()
    n_upd = base.filter(
        (F.col("o_orderkey") % 5 == 1) & (F.col("o_orderkey") % 7 != 0)
    ).count()
    n_ins = o.filter(F.col("o_orderdate") >= "1997-01-01").count()

    rows = out.collect()
    assert len(rows) == n_base - n_del + n_ins
    by_src = {}
    for r in rows:
        by_src[r.src] = by_src.get(r.src, 0) + 1
    assert by_src == {
        "base": n_base - n_del - n_upd,
        "update": n_upd,
        "insert": n_ins,
    }
    keys = [r.o_orderkey for r in rows]
    assert len(keys) == len(set(keys)), "MERGE must keep keys unique"
    # tombstones fully applied — no %7 key survives from the base snapshot
    assert all(
        r.o_orderkey % 7 != 0 for r in rows if r.src in ("base", "update")
    )
    # update path applied the price bump against the base row
    base_price = {
        r.o_orderkey: r.o_totalprice
        for r in base.filter(
            (F.col("o_orderkey") % 5 == 1) & (F.col("o_orderkey") % 7 != 0)
        ).collect()
    }
    for r in rows:
        if r.src == "update":
            assert r.o_orderstatus == "U"
            # engines use HALF_UP, python round() is half-even: compare to
            # the unrounded bump within half a cent instead
            assert abs(r.price_r - base_price[r.o_orderkey] * 1.1) <= 0.0051


def test_join_key_skew_report_exact_moments(spark, sf_dir):
    r = QUERIES["join_key_skew_report"](spark, sf_dir).collect()[0]
    counts = {}
    for row in table(spark, sf_dir, "lineitem").select("l_partkey").collect():
        counts[row.l_partkey] = counts.get(row.l_partkey, 0) + 1
    n = sum(counts.values())
    max_n = max(counts.values())
    top = min(k for k, v in counts.items() if v == max_n)
    assert (r.n_keys, r.n_rows, r.top_key, r.top_n) == (
        len(counts), n, top, max_n
    )
    assert r.top_share_r == round(max_n / n, 6)
    assert r.hhi_r == round(sum(v * v for v in counts.values()) / (n * n), 6)


def test_partition_checksum_brute_force_and_order_insensitive(spark, sf_dir):
    import hashlib
    from collections import defaultdict

    rows = (
        table(spark, sf_dir, "orders")
        .select(
            F.date_trunc("month", "o_orderdate").alias("month"),
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.col("o_totalprice").cast("decimal(18,2)").cast("string").alias("p"),
        )
        .collect()
    )
    acc, cnt = defaultdict(int), defaultdict(int)
    for r in rows:
        s = f"{r.o_orderkey}|{r.o_custkey}|{r.o_orderstatus}|{r.p}"
        h = int(hashlib.sha256(s.encode()).hexdigest()[:15], 16)
        acc[r.month] += h  # any accumulation order: sum is commutative
        cnt[r.month] += 1
    got = {r.month: r for r in QUERIES["partition_checksum"](spark, sf_dir).collect()}
    assert set(got) == set(acc)
    for m in acc:
        assert got[m].n_rows == cnt[m]
        assert got[m].checksum == acc[m] % 1_000_000_007, m


def test_snm_pairs_are_rank_adjacent(spark, sf_dir):
    from ab_inbev_big_data_case_spark.registry import QUERIES, load_all

    load_all()
    rows = QUERIES["sorted_neighborhood_pairs"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.rank_gap in (1, 2)
        assert 0 <= r.lev <= 2
        assert r.id1 != r.id2
    # fan-out bound: at most 2 emitted pairs per left record
    from collections import Counter

    per_left = Counter((r.block_key, r.id1) for r in rows)
    assert max(per_left.values()) <= 2


def test_cycle_quantiles_ordered(spark, sf_dir):
    from ab_inbev_big_data_case_spark.registry import QUERIES, load_all

    load_all()
    rows = QUERIES["order_cycle_quantiles"](spark, sf_dir).collect()
    assert len(rows) == 5  # one per priority
    for r in rows:
        assert 0 < r.p50_days_r <= r.p90_days_r <= r.p99_days_r
        assert r.n_lines > 0
