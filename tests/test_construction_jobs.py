"""Building a query must not run Spark jobs.

Construction (the Python call that returns the DataFrame) is planning
only; jobs belong to the action. Two things used to fire jobs at build
time: lineage cuts (``localCheckpoint`` runs its upstream shuffle stages
as soon as it is called under AQE) and Parquet schema inference on every
``readers.table`` read. Each test counts the jobs in its own job group
through ``statusTracker()``. Queries that still cut lineage while building
are held at or below their ceilings in ``CONSTRUCTION_JOBS_ALLOWED``.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from ab_inbev_big_data_case_spark.registry import QUERIES, load_all
from ab_inbev_big_data_case_spark.sources.readers import table
from conftest import jobs_fired

load_all()

#: name -> most construction jobs its build may fire at sf0.001, after every
#: fixture table has been read once (``built_registry``); an unlisted query
#: must fire none. Ceilings are the largest count over three full registry
#: builds at local[4] (counts that vary between builds are noted); the CC
#: queries carry the counts of ``operators/graph.connected_components``.
CONSTRUCTION_JOBS_ALLOWED = {
    "abtest_srm_check": 2,
    "adamic_adar_links": 2,
    "ann_hubness_audit": 1,
    "ann_recall_eval": 1,
    "backoff_lm_score": 1,
    "betweenness_centrality": 15,  # 14/15/14
    "binary_segmentation_changepoints": 4,
    "bloom_filter_probe": 2,
    "bradley_terry_strengths": 5,
    "burrows_delta_stylometry": 1,
    "cluster_purity_eval": 3,
    "community_modularity": 10,
    "contrastive_negative_sampling": 1,
    "cosine_topk": 1,
    "curation_pipeline_e2e": 2,
    "dbscan_grid_clusters": 76,  # connected_components
    "dedup_canonical_keep_list": 18,  # 17/18/17; connected_components
    "dedup_paths_agreement": 2,
    "deltalite_change_data_feed": 12,
    "deltalite_merge_time_travel": 6,
    "deltalite_optimize_compaction": 4,
    "dup_clusters_cc": 17,  # connected_components
    "dup_span_coverage": 1,
    "duplicate_cluster_components": 18,  # 17/17/18; connected_components
    "embedding_similarity_histogram": 1,
    "err_at_k_eval": 1,
    "gapfill_linear_interp": 1,
    "harmonic_centrality": 4,
    "hilbert_layout_extents": 5,
    "hilbert_pruning_audit": 5,
    "hits_hub_authority": 5,
    "hll_distinct": 2,
    "hll_rolling_distinct": 1,
    "hurst_rs_lite": 4,
    "intrinsic_dimension_twonn": 1,
    "ivf_balance_report": 6,
    "ivf_cells": 3,
    "ivf_nprobe_sweep": 6,
    "ivf_recall_eval": 4,
    "ivf_search": 3,
    "ivf_search_capped": 4,
    "jaccard_neighbor_links": 5,
    "kcore_peeling": 15,
    "knn_label_accuracy": 1,
    "ktruss_edges": 48,
    "label_propagation_communities": 4,
    "map_at_k_eval": 1,
    "matrix_profile_daily": 3,
    "matryoshka_truncation_eval": 2,
    "mcnemar_dedup_paths": 2,
    "mmr_rerank": 1,
    "mrr_eval": 1,
    "mutual_nearest_neighbors": 1,
    "ndcg_eval": 1,
    "neyman_allocation": 1,
    "ngram_novelty_score": 1,
    "power_iteration_top_eigen": 7,
    "quality_bucket_mix": 5,
    "resource_allocation_links": 2,
    "rrf_fusion_eval": 4,
    "rrf_hybrid_search": 3,
    "sample_entropy_daily": 4,
    "semdedup_corpus": 3,
    "sign_hamming_ann": 1,
    "simhash_hamming_pairs": 2,
    "sparse_cosine_topk": 3,
    "sssp_bounded_hops": 19,
    "theil_sen_trend": 7,
    "time_bucket_gapfill": 1,
    "triangle_count_copurchase": 8,
    "zorder_layout_extents": 5,
    "zorder_pruning_audit": 5,
}


@pytest.mark.parametrize("name", ["survey_raking_ipf", "esd_outlier_stats"])
def test_cut_loops_build_without_jobs(spark, sf_dir, name):
    """The raking and ESD loops are one plan each over a bounded panel or
    spine: once the table schema is known, building them runs nothing."""
    QUERIES[name](spark, sf_dir)  # first read infers the orders schema
    jobs, df = jobs_fired(spark, lambda: QUERIES[name](spark, sf_dir))
    assert jobs == 0
    assert df.count() > 0


def test_table_schema_inferred_once_and_again_after_rewrite(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    first, df = jobs_fired(spark, lambda: table(spark, str(tmp_path), "t"))
    assert df.columns == ["a"]
    again, df = jobs_fired(spark, lambda: table(spark, str(tmp_path), "t"))
    assert (first, again) == (1, 0)
    assert sorted(r.a for r in df.collect()) == [1, 2, 3]
    # a rewritten file is a new version: inferred again, so a renamed
    # column fails at analysis instead of reading as nulls
    pq.write_table(pa.table({"b": ["x", "y"]}), path)
    jobs, df = jobs_fired(spark, lambda: table(spark, str(tmp_path), "t"))
    assert jobs == 1 and df.columns == ["b"]
    with pytest.raises(AnalysisException):
        df.select("a")


def test_construction_jobs_within_ceilings(built_registry):
    """No query fires more construction jobs than its ceiling: a new lineage
    cut, an eager checkpoint or a driver-side probe in a build shows here."""
    over = {
        n: f"{b.jobs} jobs (allowed {CONSTRUCTION_JOBS_ALLOWED.get(n, 0)})"
        for n, b in built_registry.items()
        if b.jobs > CONSTRUCTION_JOBS_ALLOWED.get(n, 0)
    }
    assert not over, over
