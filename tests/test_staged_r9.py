"""Oracle coverage for the r9 query slate (plans/staged_r9.py): every
registry entry whose builder lives in that module runs through the
strict driver-faithful harness.

The staged-Horner gsw_dynamic_enthalpy / gsw_enthalpy
live in plans/staged_r5.py; this file keeps their value-identity check
against the unregistered flat forms there."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR_SMOKE, slate_entries


def _staged():
    return slate_entries("staged_r9")


def test_staged_now_registered():
    """Every slate builder is live in the registry with its oracle."""
    from cioos_siooc_data_transform_spark.plans import all_oracles, all_queries

    qs, os_ = _staged()
    assert set(qs) == set(os_)
    live_q, live_o = all_queries(), all_oracles()
    missing = set(qs) - set(live_q)
    assert not missing, f"staged queries not registered: {missing}"
    missing_o = set(os_) - set(live_o)
    assert not missing_o, f"staged oracles not registered: {missing_o}"


def test_replacements_recheck_completed():
    """The staged-Horner names re-earned green driver rows on their new
    expression trees (CORRECTNESS_r09.json has both) and sit in
    _CHECKED. If this fails because one is missing from _CHECKED, its
    re-check never landed — do NOT just add it; find the green row
    first."""
    import __spark_entry__ as e

    unrechecked = set(REPLACEMENT_NAMES) - e._CHECKED
    assert not unrechecked, (
        f"staged-Horner names never re-checked: {unrechecked}"
    )


STAGED_NAMES = [
    # wave A — analytic alpha/beta/ratio
    "gsw_alpha_beta_75term",
    # wave C — ice second-derivative quantities (Table-6 + FD pinned)
    "gsw_kappa_const_t_ice",
    "gsw_internal_energy_ice",
    "gsw_helmholtz_energy_ice",
    "gsw_sound_speed_ice",
    # wave D — statistical audits
    "lineitem_simpson_paradox_audit",
    "interval_union_coverage",
    "events_dft_power_daily_weekly",
    "events_block_maxima_gumbel",
    # wave E — ANN tuning, LM backoff, finance/ops round-out
    "similarity_ivf_nprobe_curve",
    "lm_trigram_backoff_logprob",
    "orders_backlog_aging",
    "lineitem_price_index_laspeyres",
    "quality_filter_funnel",
    "events_record_breaks",
    # wave F — sketch/split/session audits
    "sketch_kmv_distinct",
    "temporal_split_leakage_audit",
    "sessionize_gap_sensitivity",
    # wave G — imputation/quantization/distribution audits
    "events_mean_imputation_audit",
    "similarity_int8_recall_audit",
    "orders_lognormal_fit_audit",
    # wave H — inventory/graph/two-way-variance round-out
    "part_abc_xyz_matrix",
    "graph_degree_powerlaw_fit",
    "events_weekday_hour_twoway_anova",
    # wave I — pipeline plumbing/monitoring round-out
    "multimodal_chunk_manifest",
    "events_out_of_order_profile",
    "embedding_label_centroid_drift",
    "user_growth_accounting",
    "dedup_vocab_impact",
    "part_name_token_topk",
    # wave J — MLD, density derivatives, tail index, circular stats
    "gsw_mixed_layer_pressure",
    "gsw_rho_first_derivatives",
    "events_pareto_tail_index",
    "events_circular_mean_hour",
    # wave K — inequality/seasonal/reach round-out
    "part_brand_price_theil_index",
    "orders_seasonal_trend_decomposition",
    "graph_two_hop_reach_profile",
    # wave L — GSW derivative/inversion surfaces + rank test
    "gsw_t_freezing_derivatives",
    "gsw_enthalpy_first_derivatives",
    "gsw_ct_maxdensity",
    "gsw_pot_enthalpy_from_pt",
    "lineitem_mannwhitney_returnflag",
    # wave M — changepoint, Kendall tau-b, bias audit, quantile norm
    "events_changepoint_location",
    "lineitem_kendall_tau_contingency",
    "orders_first_vs_repeat_value",
    "supplier_balance_quantile_normalize",
    # wave N — slate completion: ice chemical potential, Cohen's kappa
    "gsw_chem_potential_water_ice",
    "doc_quality_cohen_kappa",
]

REPLACEMENT_NAMES = [
    # staged-Horner dynamic-enthalpy builders, registered from staged_r5
    "gsw_dynamic_enthalpy",
    "gsw_enthalpy",
]


def test_staged_name_list_is_complete():
    qs, _ = _staged()
    assert sorted(qs) == sorted(STAGED_NAMES)


@pytest.mark.parametrize("name", STAGED_NAMES)
def test_staged_query_matches_oracle(spark, name):
    from tests.oracle_harness import compare_query

    qs, os_ = _staged()
    ok, msg = compare_query(spark, SF_DIR_SMOKE, qs[name], os_[name])
    assert ok, f"{name}: {msg}"


@pytest.mark.parametrize("name", REPLACEMENT_NAMES)
def test_replacement_matches_oracle(spark, name):
    from tests.oracle_harness import compare_query

    from cioos_siooc_data_transform_spark.plans import all_oracles, all_queries

    ok, msg = compare_query(
        spark, SF_DIR_SMOKE, all_queries()[name], all_oracles()[name]
    )
    assert ok, f"{name}: {msg}"


@pytest.mark.parametrize("name", REPLACEMENT_NAMES)
def test_replacement_value_identical_to_flat_form(spark, name):
    """The registered staged-Horner builder must reproduce the flat-form
    builder's quantized output row-for-row at the smoke SF (the regrouped
    tree differs only in last-ulp rounding below the output floor). The
    flat builders stay unregistered in plans/staged_r5.py for this
    comparison."""
    from cioos_siooc_data_transform_spark.plans import all_queries, staged_r5

    flat = {
        "gsw_dynamic_enthalpy": staged_r5.gsw_dynamic_enthalpy,
        "gsw_enthalpy": staged_r5.gsw_enthalpy,
    }[name]
    fn = all_queries()[name]
    assert fn is not flat
    new = {tuple(r) for r in fn(spark, SF_DIR_SMOKE).collect()}
    old = {tuple(r) for r in flat(spark, SF_DIR_SMOKE).collect()}
    assert new == old


def test_registered_callables_are_the_staged_ones():
    """Every slate name resolves to this module's builder: a same-name
    registration in another module would have overwritten it."""
    from cioos_siooc_data_transform_spark.plans import all_queries

    live = all_queries()
    qualified = "cioos_siooc_data_transform_spark.plans.staged_r9"
    shadowed = {
        n for n in STAGED_NAMES
        if getattr(live.get(n), "__module__", None) != qualified
    }
    assert not shadowed, f"staged_r9 names shadowed by other modules: {shadowed}"
