"""Round-13 invariants (additive — earlier rounds' files stay in place):
the DBSCAN CC round-budget failure mode must SURFACE via the converged
certificate (VERDICT r12 item 4), and the capped LSH family root must
actually bound bucket fan-out."""

import shutil
import tempfile

from ab_inbev_big_data_case_spark.registry import QUERIES, load_all

load_all()


def _write_chain_fixture(spark, n_subcells: int) -> str:
    """A pure path graph for the DBSCAN subcell CC: `n_subcells` adjacent
    subcells along x, each holding minPts=5 co-located core points at its
    center (occupancy 5 >= minPts certifies all members core with zero
    distance computations; consecutive centers are 14 milli-units apart
    <= eps=20, next-next 28 > 20, so the subcell graph is exactly a path
    of length n_subcells). Written as an embeddings.parquet fixture dir
    the registered query can consume."""
    sub, mp = 14, 5
    rows = []
    vid = 0
    for i in range(n_subcells):
        x = (i * sub + 7) / 1000.0  # subcell center, exact milli-units
        for _ in range(mp):
            rows.append((vid, [x, 0.007]))
            vid += 1
    tmp = tempfile.mkdtemp(prefix="dbscan_chain_")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).write.mode("overwrite").parquet(f"{tmp}/embeddings.parquet")
    return tmp


def test_dbscan_converged_certificate_short_chain(spark):
    """Contrast case: a 64-subcell path is well inside the 16-round
    hash-to-min + pointer-jump reach (~12.8k path nodes), so the chain
    collapses to ONE cluster and the certificate reads converged=1."""
    tmp = _write_chain_fixture(spark, 64)
    try:
        rows = QUERIES["dbscan_grid_clusters"](spark, tmp).collect()
        assert len(rows) == 1  # one chain, one cluster
        r = rows[0]
        assert r["converged"] == 1
        assert r["n_core"] == 64 * 5
        assert r["n_border"] == 0 and r["n_noise"] == 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_dbscan_round_budget_overflow_surfaces_not_mislabels(spark):
    """VERDICT r12 item 4: past the round budget's reach the engine must
    SAY so, not silently fragment one cluster into several with
    converged=1. The union-form round of ``connected_components``
    (neighbor-min UNION label-of-label) was simulated exactly on path graphs and VALIDATED against the
    engine: a 30k-subcell path reaches fixed point exactly AT the 17th
    (certificate) propagation, so the engine correctly reports
    converged=1 for it (observed); a path needs >= ~50k nodes before
    round 17 still moves labels. An 80,000-subcell chain (replica: fixed
    point at round 19) therefore must surface converged=0 on every
    output row, while the cluster histogram still returns (surfaced,
    not crashed). This answers SCALE.md's third-decade question for the
    dbscan headliner: the failure mode is certified in-output, so a
    saturated corpus can't silently mislabel."""
    tmp = _write_chain_fixture(spark, 80_000)
    try:
        rows = QUERIES["dbscan_grid_clusters"](spark, tmp).collect()
        assert rows  # histogram still materializes
        assert all(r["converged"] == 0 for r in rows)
        # the chain is ONE true component; an unconverged run reports >1
        # cluster_id — the exact mislabeling the certificate flags
        assert len(rows) > 1
        # role assignment is exact regardless of CC convergence
        assert sum(r["n_core"] for r in rows) == 80_000 * 5
        assert all(r["n_noise"] == 0 for r in rows)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_lsh_family_root_carries_the_occupancy_cap(spark):
    """The r13 cap threading: a degenerate 100-doc identical-text corpus
    pools every doc into one band bucket per band (occupancy 100 > 64),
    so the FAMILY ROOT emits zero candidate pairs for it — the quadratic
    fan-out is dropped at the definition, not just in the flagship. A
    2-doc near-dup pair in a healthy bucket still comes through."""
    from ab_inbev_big_data_case_spark.llm.dedup import (
        LSH_MAX_BUCKET_OCCUPANCY,
        lsh_band_buckets_wide,
        lsh_candidate_pairs,
        minhash_signatures_wide,
        shingle_set,
    )

    boiler = " ".join(f"w{i % 7}" for i in range(30))  # one shared text
    near_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near_b = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    docs = spark.createDataFrame(
        [(i, boiler) for i in range(100)]
        + [(1000, near_a), (1001, near_b)],
        "doc_id long, text string",
    )
    sig = minhash_signatures_wide(shingle_set(docs, "doc_id", "text", 3), "doc_id", 8)
    buckets = lsh_band_buckets_wide(sig, "doc_id", 8, 2)
    capped = lsh_candidate_pairs(
        buckets, "doc_id", max_bucket_occupancy=LSH_MAX_BUCKET_OCCUPANCY
    ).collect()
    ids = {(r["id1"], r["id2"]) for r in capped}
    # no pair from the 100-doc boilerplate bucket survives the cap
    assert all(p[0] >= 1000 for p in ids), ids
    # the genuine near-dup pair is still found (healthy bucket, occ=2)
    assert (1000, 1001) in ids
    # uncapped emits the quadratic set — 100*99/2 boilerplate pairs
    n_uncapped = lsh_candidate_pairs(buckets, "doc_id").count()
    assert n_uncapped >= 100 * 99 // 2


def test_ngram_novelty_bounds_and_first_doc(spark, sf_dir):
    """Novelty is a fraction in [0,1]; the corpus's minimum doc id owns
    every shingle it introduces, so its novelty is exactly 1.0; and
    n_novel can never exceed n_sh."""
    rows = QUERIES["ngram_novelty_score"](spark, sf_dir).collect()
    assert rows
    by_id = {r["doc_id"]: r for r in rows}
    first = min(by_id)
    assert by_id[first]["novelty_r"] == 1.0
    for r in rows:
        assert 0.0 <= r["novelty_r"] <= 1.0
        assert 0 <= r["n_novel"] <= r["n_sh"]


def test_bm25_ranked_and_terms_scored(spark, sf_dir):
    """Top-20 comes back densely ranked 1..20 with non-increasing scores,
    all positive (every scored doc contains >= 1 query term)."""
    rows = sorted(
        QUERIES["bm25_doc_scores"](spark, sf_dir).collect(),
        key=lambda r: r["rank"],
    )
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    assert len(rows) == 20
    scores = [r["bm25_r"] for r in rows]
    assert all(a >= b for a, b in zip(scores, scores[1:]))
    assert all(s > 0 for s in scores)


def test_rrf_fusion_membership_and_rank_consistency(spark, sf_dir):
    """Every fused candidate belongs to at least one source list; a
    both-lists candidate outranks (or equals by construction never —
    strictly outranks on score) any single-list candidate whose single
    rank is no better than both of its ranks; fused ranks are dense per
    query."""
    rows = QUERIES["rrf_fusion_eval"](spark, sf_dir).collect()
    assert rows
    from collections import defaultdict

    per_q = defaultdict(list)
    for r in rows:
        assert r["in_exact"] + r["in_ivf"] >= 1
        per_q[r["query_id"]].append(r)
    for q, rs in per_q.items():
        ranks = sorted(r["fused_rank"] for r in rs)
        assert ranks == list(range(1, len(rs) + 1))
        # a candidate in BOTH lists always scores >= 1/65 + 0 more than
        # the worst single-list score floor
        for r in rs:
            if r["in_exact"] and r["in_ivf"]:
                assert r["rrf_r"] >= round(2 / 65, 6) - 1e-9


def test_hubness_histogram_conserves_slots(spark, sf_dir):
    """Σ k_occ·n_cands equals the total number of top-5 slots (5 per
    audit query), and occurrence counts stay within [1, n_queries]."""
    rows = QUERIES["ann_hubness_audit"](spark, sf_dir).collect()
    assert rows
    total = sum(r["k_occ"] * r["n_cands"] for r in rows)
    n_queries = total // 5
    assert total == n_queries * 5 and n_queries > 0
    assert all(1 <= r["k_occ"] <= n_queries for r in rows)


def test_cap_sensitivity_monotone(spark, sf_dir):
    """Kept pair mass and kept bucket count are non-decreasing in the
    cap, and the kept ratio is in [0,1] ending at 1.0 for cap=64 on the
    fixture corpus (no bucket exceeds 64 there — the occupancy report's
    n_over_cap agrees)."""
    rows = {
        r["cap"]: r for r in QUERIES["dedup_cap_sensitivity"](spark, sf_dir).collect()
    }
    caps = sorted(rows)
    assert caps == [2, 4, 8, 16, 64]
    for a, b in zip(caps, caps[1:]):
        assert rows[a]["pairs_kept"] <= rows[b]["pairs_kept"]
        assert rows[a]["n_buckets_kept"] <= rows[b]["n_buckets_kept"]
    assert rows[64]["kept_ratio_r"] == 1.0
    occ = QUERIES["lsh_bucket_occupancy_report"](spark, sf_dir).collect()[0]
    assert occ["n_over_cap"] == 0
    assert occ["pairs_kept"] == occ["pairs_uncapped"]
