"""Oracle coverage for the r12 query slate (plans/staged_r12.py): every
registry entry whose builder lives in that module runs through the
strict driver-faithful harness. The slate is detector-clean (zero allowlist entries)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR_SMOKE, slate_entries


def _staged():
    return slate_entries("staged_r12")


def test_staged_now_fully_registered():
    """Every slate builder is live in the registry with its oracle."""
    from cioos_siooc_data_transform_spark.plans import all_oracles, all_queries

    qs, os_ = _staged()
    assert set(qs) == set(os_)
    live_q, live_o = all_queries(), all_oracles()
    missing = set(qs) - set(live_q)
    assert not missing, f"staged queries not registered: {missing}"
    missing_o = set(os_) - set(live_o)
    assert not missing_o, f"staged oracles not registered: {missing_o}"


def test_budget():
    """The slate registers exactly 50 names."""
    qs, _ = _staged()
    assert len(qs) == 50


def test_rotation_names_rejoined_checked():
    """The 5 round-12 rotated names earned fresh green rows
    (CORRECTNESS_r12) and REJOINED _CHECKED in round 13. In round 14,
    two of them (dedup_semantic_clusters, similarity_lsh_topk) rotated
    OUT again per the moved-code-rotates-first policy (their operators
    were restructured by the round-13 optimizations); those two must be
    fresh, the other three must still be checked, and all five live."""
    from cioos_siooc_data_transform_spark.plans import all_queries

    import __spark_entry__ as entrymod

    rotated = {
        "q1_pricing_summary",
        "dedup_semantic_clusters",
        "similarity_lsh_topk",
        "similarity_topk_bruteforce",
        "similarity_ivf_topk",
    }
    rerotated_r14 = {"dedup_semantic_clusters", "similarity_lsh_topk"}
    not_back = (rotated - rerotated_r14) - entrymod._CHECKED
    assert not not_back, f"r12-rotated names did not rejoin _CHECKED: {not_back}"
    stale = rerotated_r14 & entrymod._CHECKED
    assert not stale, f"round-14 re-rotated names still in _CHECKED: {stale}"
    live = set(all_queries())
    assert rotated <= live, f"rotated names missing from registry: {rotated - live}"


def test_activated_names_are_checked():
    """Every slate name has a green driver row (CORRECTNESS_r12 and
    CORRECTNESS_r13) and must sit in _CHECKED so the fresh sample is
    spent on never-checked names only."""
    import __spark_entry__ as entrymod

    qs, _ = _staged()
    # dedup_bucket_cap_sweep and dedup_lsh_band_tradeoff rotated OUT
    # again MID-round-14: they consume the shared _distinct_shingles
    # helper, whose reuse anchor changed (moved-code-rotates-first).
    rerotated_r14 = {"dedup_bucket_cap_sweep", "dedup_lsh_band_tradeoff"}
    missing = (set(qs) - rerotated_r14) - entrymod._CHECKED
    assert not missing, f"r12-green staged names not in _CHECKED: {missing}"
    stale = rerotated_r14 & entrymod._CHECKED
    assert not stale, f"round-14 re-rotated names still in _CHECKED: {stale}"


def test_registered_callables_are_the_staged_ones():
    """Every slate name resolves to this module's builder: a same-name
    registration in another module would have overwritten it."""
    from cioos_siooc_data_transform_spark.plans import all_queries

    live = all_queries()
    qualified = "cioos_siooc_data_transform_spark.plans.staged_r12"
    shadowed = {
        n for n in STAGED_NAMES
        if getattr(live.get(n), "__module__", None) != qualified
    }
    assert not shadowed, f"staged_r12 names shadowed by other modules: {shadowed}"


def test_no_collision_with_earlier_slates():
    """No staged_r12 name is served by an r8..r11 builder (the
    lineitem_benford_audit lesson)."""
    earlier = set()
    for mod in ("staged_r8", "staged_r9", "staged_r10", "staged_r11"):
        earlier |= set(slate_entries(mod)[0])
    clash = set(STAGED_NAMES) & earlier
    assert not clash, f"staged_r12 names collide with r8..r11: {clash}"


STAGED_NAMES: list[str] = [
    # wave A — GSW CT-derivative tranche (symdiff)
    "gsw_ct_first_derivatives",
    "gsw_ct_second_derivatives",
    "gsw_pt_first_derivatives",
    "gsw_entropy_first_derivatives",
    # wave B — robust trend / spectrum / variance components
    "orders_theil_sen_trend",
    "events_spectral_flatness",
    "customer_spend_intraclass_corr",
    # wave C — sampling/index composition audits
    "sample_pps_horvitz_thompson",
    "multimodal_frame_hash_dedup",
    "dedup_lsh_band_tradeoff",
    # wave D — GSW completions + paired rank test + acquisition mix
    "gsw_specvol_second_derivatives",
    "gsw_t_from_pt0_ice",
    "orders_wilcoxon_signed_rank",
    "orders_new_customer_share_trend",
    # wave E — chain-rule closure + null models + knob sweeps
    "gsw_entropy_second_derivatives",
    "decontam_ngram_size_sweep",
    "graph_triangle_config_null",
    "embedding_centroid_classifier_confusion",
    # wave F — enthalpy curvature, data profiling, regional decomposition
    "gsw_enthalpy_second_derivatives",
    "tpch_fd_violation_audit",
    "nation_revenue_shift_share",
    # wave G — reference-domain depth
    "ios_channel_unit_profile",
    # wave H — information structure, windows, budgets, demand patterns
    "text_ngram_entropy_rate_curve",
    "text_sttr_by_source",
    "multimodal_fps_sweep",
    "part_demand_sbc_classification",
    # wave I — enthalpy-coordinate derivatives, winnowing sweep, rank
    # fidelity, attribute assortativity
    "gsw_rho_first_derivatives_wrt_enthalpy",
    "dedup_winnowing_window_sweep",
    "graph_price_assortativity",
    # wave J — rank fidelity, truncated counts, calibration, QTE
    "similarity_adc_rank_correlation",
    "customer_order_count_ztp_fit",
    "text_langid_calibration_curve",
    "orders_quantile_treatment_effect",
    # wave K — distribution distance, index balance, cell audits
    "customer_energy_distance_segments",
    "similarity_ivf_cell_balance",
    "part_price_ending_digits",
    "events_type_hour_stdres_outliers",
    # wave L — process tests and coverage/threshold curves
    "orders_gap_exponentiality_ks",
    "text_oov_vocab_curve",
    "graph_support_threshold_sweep",
    "supplier_type_concentration_cr4",
    # wave M — freezing inversion in t, guard cost curve, retention,
    # stochastic dominance
    "gsw_sa_freezing_from_t",
    "dedup_bucket_cap_sweep",
    "events_dayk_retention_curve",
    "orders_priority_stochastic_dominance",
    # wave N — slate close-out part 2
    "sketch_cm_width_sweep",
    "part_unit_price_dispersion",
    "partsupp_stock_cover_audit",
    "customer_discounted_ltv",
    "similarity_srp_bit_independence",
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


def test_reload_does_not_mutate_registry():
    """Re-importing the module re-registers the same names in place:
    registry order and oracle text stay unchanged."""
    import importlib

    from cioos_siooc_data_transform_spark.plans import all_oracles, all_queries

    before_names, before_oracles = list(all_queries()), all_oracles()
    import cioos_siooc_data_transform_spark.plans.staged_r12 as m

    importlib.reload(m)
    assert list(all_queries()) == before_names
    assert all_oracles() == before_oracles
