"""Building a query should not run Spark jobs.

Construction (the Python call that returns the DataFrame) is planning
only; jobs belong to the action. Two things still run work at build time:
lineage cuts (``operators.lineage.cut`` runs its upstream shuffle stages as
soon as it is planned under AQE) and driver-side probes such as
``.first()``. Each is one construction action, a SQL execution that runs
jobs (``conftest.actions_fired``); the number of stage jobs AQE submits for
one action varies between builds, the number of actions does not.
``CONSTRUCTION_ACTIONS`` pins every query's count exactly. Parquet schema
inference is a job outside any SQL execution; its tests count jobs.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from ab_inbev_big_data_case_spark.registry import QUERIES, load_all
from ab_inbev_big_data_case_spark.sources import readers
from ab_inbev_big_data_case_spark.sources.readers import table
from conftest import jobs_fired

load_all()

#: name -> construction actions its build runs at sf0.001, after every
#: fixture table has been read once (``built_registry``); an unlisted query
#: runs none. Exact, and the same over fresh-JVM builds: a pin moves only
#: with the code, and both a new action and a removed one fail the gate.
CONSTRUCTION_ACTIONS = {
    "abtest_srm_check": 1,
    "ann_hubness_audit": 1,
    "ann_recall_eval": 1,
    "backoff_lm_score": 1,
    "betweenness_centrality": 4,
    "bloom_filter_probe": 1,
    "bradley_terry_strengths": 2,
    "cluster_purity_eval": 2,
    "community_modularity": 2,
    "contrastive_negative_sampling": 1,
    "cosine_topk": 1,
    "curation_pipeline_e2e": 2,
    "dbscan_grid_clusters": 12,
    "dedup_canonical_keep_list": 3,
    "dedup_paths_agreement": 1,
    "deltalite_change_data_feed": 7,
    "deltalite_merge_time_travel": 3,
    "deltalite_optimize_compaction": 2,
    "dup_clusters_cc": 3,
    "duplicate_cluster_components": 3,
    "err_at_k_eval": 1,
    "gapfill_linear_interp": 1,
    "hilbert_layout_extents": 1,
    "hilbert_pruning_audit": 1,
    "hits_hub_authority": 2,
    "hll_distinct": 1,
    "hll_rolling_distinct": 1,
    "hurst_rs_lite": 3,
    "intrinsic_dimension_twonn": 1,
    "ivf_balance_report": 3,
    "ivf_cells": 2,
    "ivf_nprobe_sweep": 3,
    "ivf_recall_eval": 3,
    "ivf_search": 2,
    "ivf_search_capped": 3,
    "kcore_peeling": 4,
    "knn_label_accuracy": 1,
    "ktruss_edges": 17,
    "label_propagation_communities": 1,
    "map_at_k_eval": 1,
    "matrix_profile_daily": 2,
    "matryoshka_truncation_eval": 2,
    "mcnemar_dedup_paths": 1,
    "mmr_rerank": 1,
    "mrr_eval": 1,
    "mutual_nearest_neighbors": 1,
    "ndcg_eval": 1,
    "ngram_novelty_score": 1,
    "power_iteration_top_eigen": 2,
    "quality_bucket_mix": 1,
    "rrf_fusion_eval": 3,
    "rrf_hybrid_search": 2,
    "semdedup_corpus": 2,
    "sign_hamming_ann": 1,
    "simhash_hamming_pairs": 1,
    "sparse_cosine_topk": 1,
    "sssp_bounded_hops": 5,
    "theil_sen_trend": 2,
    "time_bucket_gapfill": 1,
    "triangle_count_copurchase": 1,
    "zorder_layout_extents": 1,
    "zorder_pruning_audit": 1,
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


def test_fixture_table_schemas_pinned_regardless_of_read_order(spark, sf_dir):
    """Once every fixture table has been read, in sorted order from an
    empty memo, reading any of them again infers nothing: the pinned
    schema does not depend on whether ``events`` (which needs
    ``nanosAsLong``) was read before it."""
    readers._SCHEMAS.clear()
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    names = sorted(
        f.removesuffix(".parquet") for f in os.listdir(sf_dir) if f.endswith(".parquet")
    )
    for name in names:
        table(spark, sf_dir, name)
    again = {name: jobs_fired(spark, lambda: table(spark, sf_dir, name))[0] for name in names}
    assert again == dict.fromkeys(names, 0)


def test_construction_actions_match_pins(built_registry):
    """Every query runs exactly its pinned number of construction actions:
    a new cut or driver-side probe in a build shows here, and so does a
    removed one (lower its pin). The message lists each action's
    description (``cut:<label>`` or the probe's call site)."""
    off = {
        n: f"{len(built_registry[n].actions)} actions (pinned "
        f"{CONSTRUCTION_ACTIONS.get(n, 0)}): {list(built_registry[n].actions)}"
        for n in built_registry
        if len(built_registry[n].actions) != CONSTRUCTION_ACTIONS.get(n, 0)
    }
    assert not off, off
