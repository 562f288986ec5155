"""Registry-WIDE physical-plan sweep: every registered query's plan is
checked for the two scale-killer shapes a 100 TB deployment cannot absorb —
cartesian products and unpinned partitionless windows.

tests/test_plans.py pins rich per-family properties (pushdown, broadcasts,
shuffle counts) for the headline queries; this module closes VERDICT r5
item 4 the other way around: instead of hand-picking pins for the 69
session-3/4 queries, EVERY query in the registry is swept, so a regression
that introduces a cartesian join or an unbounded global window anywhere —
including in queries added after this file — fails loudly with the query
name. The partitionless allowlist below is the exhaustive audited set; each
entry is a window over a documented BOUNDED spine (calendar days, fixed
bins, decile/replicate grids, pruned local survivors — see SCALE.md and the
queries' own docstrings), so its row count is independent of fact-table
scale. The plans come from the session's one registry build
(``built_registry`` in conftest.py), which the decimal-output lint in
tests/test_round14_ops.py reads too. The two registry-wide sweeps read the
returned plan AND the pre-cut plan of every ``cut()`` the build made, so a
shape hidden behind a lineage cut (where the returned plan shows only
``Scan ExistingRDD``) is swept like any other; a window inside a cut loop
counts once per round.
"""

from __future__ import annotations

import re

import pytest

from plan_shapes import n_partitionless

#: name -> max partitionless window specs, every entry a documented
#: bounded-spine window (audited r6; grow this ONLY with a docstring
#: justification in the query).
PARTITIONLESS_ALLOWED = {
    "abc_pareto_class": 1,          # prefix_sums 16-row carry spine (running revenue)
    "bradley_terry_strengths": 7,   # 25-row nation strength table, per-round Σ normalize (mlstats.py:4908)
    "survey_raking_ipf": 2,         # 15-cell (priority × status) panel: Σ sample + Σ population for the sampling fraction
    "cramers_v_matrix": 3,          # ≤25×5 contingency-cell tables, one order-less N per pair (distmetrics.py:2572)
    "hits_hub_authority": 7,        # 25-node score table, per-round max-normalize (warehouse.py:1661)
    "markov_attribution_removal": 1,  # ≤7-channel removal-effect table Σ normalize (analytics.py:2323)
    "permutation_test_ab": 3,       # 21-row replicate spine, obs-row broadcast via window (distmetrics.py:913)
    "acf_lags": 7,                  # daily spine, one spec per lag
    "auc_mann_whitney": 1,          # 2-group rank on grouped score spine
    "bh_fdr_chi2_panel": 2,        # 25-row nation panel rank + step-up suffix max
    "ccf_lead_lag": 14,             # daily spine, lead/lag ±7
    "concurrent_sessions": 1,       # event-boundary sweep spine
    "cumulative_unique_users": 1,   # daily first-seen spine
    "cvm_two_sample": 2,            # 16-row bucket-carry spine (2 counts)
    "cusum_changepoint": 1,         # daily spine cumsum
    "error_rate_changepoint": 4,    # daily spine prefix stats
    "esd_outlier_stats": 12,        # daily spine: 3 rounds × (n/S/Q over remaining days + argmax row_number)
    "forecast_method_bakeoff": 5,   # day-spine index + 28-row holdout windows
    "gains_chart_deciles": 5,       # 16-row carry + decile cumsum/total spines
    "gini_concentration": 1,        # prefix_sums 16-row carry spine (rank)
    "global_sort": 1,               # explicit total-order contract
    "granger_f_lite": 2,            # daily-spine lag pair (calendar-bounded)
    "ransac_line_fit": 1,           # daily-spine hash-rank seed pick (r12; calendar-bounded)
    "adf_stationarity_lite": 4,     # daily-spine lag/lag-2 exprs (r12; calendar-bounded)
    "permutation_entropy_daily": 8, # daily-spine lead pair, re-listed per reused branch (r12)
    "periodogram_peaks": 3,         # daily-spine t-index + order-less N/mean (r8; r10 sweep widened)
    "bollinger_bands": 3,           # daily-spine 20-day sliding window (r8)
    "anderson_darling_two_sample": 2,  # bounded length-domain ECDF walk (r8)
    "hodges_lehmann_shift": 2,      # weeks² bounded pair-spine median rank + pair count (r8; r10 order-less count)
    "theil_sen_trend": 2,           # days² calendar-bounded pair-spine slope rank + residual rank (r13)
    "bm25_doc_scores": 1,           # rank over a LIMIT-20 constant spine (TakeOrdered upstream, r13)
    "newey_west_variance": 5,       # daily-spine lag-1..3 leads + order-less Σ/count (r8; r10 sweep widened)
    "seasonal_strength": 2,         # decomposition's day-spine trend windows (r8)
    "heaps_law_fit": 2,             # per-doc-rank spine (bounded by docs)
    "hill_tail_index": 3,           # top-k tail spine
    "histogram_quantile_sketch": 2, # fixed-width bin spine
    "kaplan_meier_survival": 3,     # calendar-day spine (desc+asc cumsum)
    "kruskal_wallis_test": 1,       # 16-row bucket-carry spine (two-level rank)
    "ks_two_sample": 6,             # pooled grouped-value spine
    "logrank_test": 2,              # KM day-spine descending at-risk cumsums
    "lorenz_curve_points": 2,       # 16-row carry spine (rank) + decile spine
    "mann_kendall_theil_sen": 4,    # daily spine pairwise stats
    "matrix_profile_daily": 16,     # day-spine window build ×2 join sides + 2 ranks
    "max_drawdown_daily": 6,        # day-spine running max, reused per branch
    "mom_revenue_growth": 3,        # monthly aggregate spine
    "nelson_aalen_hazard": 3,       # KM day spine: desc at-risk + 2 hazard cumsums
    "mood_median_test": 2,          # 16-row bucket-carry spine (median branch)
    "ngram_coverage_curve": 2,      # 16-row count-carry spine (rank + mass)
    "energy_distance_two_sample": 4,  # 16-row carry spine, 4 prefix quantities
    "wasserstein1_distance": 2,     # 16-row carry spine (2 counts)
    "jonckheere_terpstra": 4,       # 16-row carry spine, 5-group prefix counts
    "pacf_lags": 3,                 # daily spine lag triplet
    "page_hinkley_drift": 6,        # day-spine prefix sums ×3 + row_number + order-less Σ/count (r9 docstring "Scale shape")
    "qini_curve_deciles": 5,        # carry + decile cumsum spines (gains shape)
    "qq_plot_deciles": 2,           # 16-row bucket-carry spine (2 counts)
    "quantile_normalize_lengths": 2,  # bounded length-value spine cumsum + order-less total
    "rbo_rank_agreement": 4,        # top-k ranking spine
    "runs_test_randomness": 3,      # value-spine walk + day-spine lag
    "seat_apportionment": 3,        # 25-row remainder rank + 25k quotient-grid rank + order-less leftover Σ
    "sax_motifs": 2,                # daily spine 3-gram leads (one spec per lead frame)
    "seasonal_residual_anomaly": 8, # daily spine decomposition
    "skyline_2d": 1,                # pruned local-survivor pass
    "spc_control_chart": 1,         # day-spine gaps-and-islands row_number
    "spearman_corr_lengths": 2,    # two value-domain rank spines
    "sprt_sequential_test": 3,      # day-spine LLR cumsum + the unordered crossing-min itself (r10 sweep counts it)
    "token_budget_pack": 1,         # 16-row token-carry spine (running tokens)
    "ts_decomposition": 2,          # daily spine
    "wilcoxon_signed_rank": 1,      # |diff| rank spine (audit-panel sized)
    "window_ntile": 1,              # global ntile is the operator semantic
    "woe_iv_binning": 1,            # 16-row carry spine (prefix count)
    "zipf_fit": 1,                  # capped vocab rank spine
    "binary_segmentation_changepoints": 3,  # day-spine CUSUM, re-listed per consumer of the split day
    "hurst_rs_lite": 1,             # daily-spine row index, behind its cut
    "power_iteration_top_eigen": 12,  # sup-norm over the 64-row iterate, one per round (12 rounds)
    "sample_entropy_daily": 4,      # day-spine row index + next-day lead, re-listed per bucket-join side
}


@pytest.fixture(scope="module")
def all_plans(built_registry):
    return {n: b.plan for n, b in built_registry.items() if b.error is None}


@pytest.fixture(scope="module")
def swept_plans(built_registry):
    """name -> the returned plan followed by every pre-cut plan."""
    return {
        n: [b.plan, *b.cut_plans] for n, b in built_registry.items() if b.error is None
    }


def test_every_query_builds(built_registry):
    """Every registered query builds at the test SF; the sweeps below read
    only the plans that did, so a build error must fail here by name."""
    failed = {n: b.error for n, b in built_registry.items() if b.error is not None}
    assert failed == {}


def test_no_cartesian_product_anywhere(swept_plans):
    """Zero CartesianProduct nodes across the whole registry, behind cuts
    too: every join in every query has equi-keys or a bounded broadcast
    side."""
    offenders = [
        n for n, plans in swept_plans.items() if any("CartesianProduct" in p for p in plans)
    ]
    assert offenders == []


def test_partitionless_windows_all_pinned(swept_plans):
    """Every partitionless window spec in the registry, behind cuts too, is
    on the audited bounded-spine allowlist; any query exceeding its pin (or
    a new query introducing one) fails by name."""
    offenders = {
        n: f"{got} partitionless specs (pinned {PARTITIONLESS_ALLOWED.get(n, 0)})"
        for n, plans in swept_plans.items()
        if (got := sum(map(n_partitionless, plans))) > PARTITIONLESS_ALLOWED.get(n, 0)
    }
    assert offenders == {}


# ---- targeted pins for the four queries VERDICT r5 named explicitly ----


def test_kaplan_meier_windows_on_day_spine_only(all_plans):
    """KM's descending at-risk cumsum and the log-survival running sum must
    order by the calendar-day spine (bounded), never a per-user column."""
    plan = all_plans["kaplan_meier_survival"]
    specs = [
        m.group(1)
        for m in re.finditer(r"windowspecdefinition\(([^,]+),", plan)
        if " ASC" in m.group(1) or " DESC" in m.group(1)
    ]
    assert len(specs) == 3
    assert all("t_day" in s for s in specs)
    # the user-level reductions collapse BEFORE the spine: keyed aggregates
    assert "user_id" in plan and plan.count("HashAggregate") >= 4


def test_ccf_all_shifts_in_one_window_node(all_plans):
    """All 14 lead/lag shifted columns must come out of ONE Window exec over
    the daily spine — 14 specs, one physical node, one sort."""
    plan = all_plans["ccf_lead_lag"]
    assert n_partitionless(plan) == 14
    window_nodes = re.findall(r"^\s*(?:[:+\-|\s]*)Window ", plan, re.M)
    assert len(window_nodes) == 1
    assert all(
        "day" in m.group(1)
        for m in re.finditer(r"windowspecdefinition\(([^,]+),", plan)
    )


def test_reliability_bins_fixed_spine_no_windows(all_plans):
    """The reliability diagram aggregates into 10 FIXED confidence bins —
    pure keyed aggregation, no window functions at all."""
    plan = all_plans["reliability_calibration_bins"]
    assert "windowspecdefinition" not in plan


def test_cohort_ltv_cumsum_is_cohort_partitioned(all_plans):
    """Cohort LTV's running revenue must partition by the cohort key: zero
    partitionless specs, and every spec's first arg is a bare partition
    attribute (no sort direction)."""
    plan = all_plans["cohort_ltv_curve"]
    assert "windowspecdefinition" in plan  # the cumsum exists
    assert n_partitionless(plan) == 0
