"""Parked query slate r15 — NOT registered.

Builders collect only in the module-local STAGED_QUERIES /
STAGED_ORACLES dicts: the slow-gated tests/test_staged_r15.py checks
them against their oracles and tools/gsw_ufunc_ledger.py counts their
names. Registering one means decorating it with
``plans.registry.register`` instead of ``_stage``.

Content so far:

- Wave A — the GSW ledger's 'planned' tail (tools/gsw_ufunc_ledger.py):
  the pt <-> potential-enthalpy-of-ice polynomial pair (published
  TEOS-10 fit coefficients; one table serves the forward poly, the
  Newton inverse, and — chained with the freezing line — the
  frazil/pot-enthalpy-freezing _poly family), the pot-enthalpy-at-
  freezing polynomial + its symdiff first derivatives, the EXACT
  CT_freezing first derivatives, the SA-from-freezing-t polynomial
  inversion, exact-h twins of the melting/frazil ratio surfaces, and
  second derivatives of pt(SA, entropy) via a second symdiff pass.
- Wave B — queueing/forecast/robust-stat battery over events/orders.
- Wave C — LLM-pipeline audits: isotropy, split contamination,
  packing wastage, shard mixing entropy.

REGISTRATION NOTE (round 15): three queries carry a bounded
unpartitioned window the registry-wide detector will flag — add them
to tests/test_plans.py::_ALLOWED_UNPARTITIONED_WINDOWS when
registering: events_turning_points_test (per-DAY rollup),
orders_customer_concentration_crk and text_stopword_coverage_curve
(TakeOrdered(limit=100) results).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cioos_siooc_data_transform_spark.plans.staged_r11 import _stage_sql_cte
from cioos_siooc_data_transform_spark.plans.staged_r13 import _q6, _q9, _q12
from cioos_siooc_data_transform_spark.session import read_table as _t

STAGED_QUERIES: dict[str, Callable[..., Any]] = {}
STAGED_ORACLES: dict[str, str] = {}


# ===========================================================================
# Wave A — GSW ledger tail.
# ===========================================================================

# ---------------------------------------------------------------------------
# The pt0_ice <-> potential-enthalpy-of-ice polynomial pair (GSW twins:
# gsw_pt_from_pot_enthalpy_ice_poly — the primary published fit, pt as
# a degree-7 polynomial in h_pot — and gsw_pot_enthalpy_from_pt_ice_poly,
# which GSW itself computes by Newton-inverting that fit from a second
# published degree-7 initial-estimate polynomial). Coefficients are the
# published TEOS-10 fit constants (reference parity anchor:
# GSW-Python src/c_gsw/gsw_oceanographic_toolbox.c:6594,6601 — fit
# error <= 6e-3 J/kg over pt0 in [-100, 2] degC); the Newton derivative
# is the SYMBOLIC q'(h) (functions/symdiff.py), not a hand-coded table.
# ---------------------------------------------------------------------------
# The published polynomial tables and their symbolic derivatives live
# in functions/teos10.py (promoted there so the r14 frazil composition
# can share them without a circular slate import).
from cioos_siooc_data_transform_spark.functions.teos10 import (  # noqa: E402
    pot_enthalpy_from_pt_ice_poly_estimate_sql as _poth_estimate_sql,
    pot_enthalpy_ice_freezing_poly_deriv_sql as _pif_deriv_sql,
    pot_enthalpy_ice_freezing_poly_sql as _pot_h_ice_freezing_poly_sql,
    pt_from_pot_enthalpy_ice_poly_deriv_sql as _pt_from_poth_poly_deriv_sql,
    pt_from_pot_enthalpy_ice_poly_sql as _pt_from_poth_poly_sql,
)


def _poth_poly_pair_stages() -> list[tuple[str, str]]:
    """h0 from the published initial-estimate polynomial, two Newton
    steps pt(h) = pt0 with the symbolic q'(h) (GSW runs a five-step
    modified Newton to cover pt0 down to -100 degC; over this grid's
    [-39.5, -0.5] envelope two plain steps land the residual below the
    1e-9 output floor, and BOTH engines evaluate the one shared
    tree)."""
    stages = [("__php_h0", _poth_estimate_sql("t"))]
    cur = "__php_h0"
    for i in range(2):
        stages += [
            (
                f"__php_r{i}",
                f"({_pt_from_poth_poly_sql(cur)} - t)",
            ),
            (
                f"__php_d{i}",
                _pt_from_poth_poly_deriv_sql(cur),
            ),
            (f"__php_h{i + 1}", f"({cur} - __php_r{i}/__php_d{i})"),
        ]
        cur = f"__php_h{i + 1}"
    stages += [
        ("pot_h_poly", cur),
        ("pt_roundtrip", _pt_from_poth_poly_sql(cur)),
    ]
    return stages


def _ice15_query(name: str, stages_fn, outs):
    """Ice-grid builder registering into THIS slate's dicts."""
    from cioos_siooc_data_transform_spark.plans.staged_r8 import (
        _ICE_IN_SQL,
        _ice_inputs,
    )

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = _ice_inputs(spark, sf_dir)
        for sname, expr in stages_fn():
            df = df.withColumn(sname, F.expr(expr))
        return df.select(
            "l_orderkey",
            "l_linenumber",
            *[F.expr(e).alias(c) for c, e in outs],
        )

    staged = _stage_sql_cte(_ICE_IN_SQL, stages_fn())
    sel = ",\n           ".join(f"{e} AS {c}" for c, e in outs)
    STAGED_QUERIES[name] = fn
    STAGED_ORACLES[name] = f"""
    SELECT l_orderkey, l_linenumber,
           {sel}
    FROM ({staged})
    """
    return fn


_ice15_query(
    "gsw_pot_enthalpy_ice_poly_pair",
    _poth_poly_pair_stages,
    [
        # h_pot ~ -3.4e5 J/kg: 1e-6 floor keeps ~12 significant digits.
        ("pot_h_poly", _q6("pot_h_poly")),
        # the roundtrip pt pins the forward fit (== grid t to ~1e-11).
        ("pt_roundtrip", _q9("pt_roundtrip")),
    ],
)


# ---------------------------------------------------------------------------
# Potential enthalpy of ice at the freezing point — POLYNOMIAL form
# (GSW twins: gsw_pot_enthalpy_ice_freezing_poly and its
# first derivatives gsw_pot_enthalpy_ice_freezing_first_derivatives_poly):
# the published direct fit h_pot_f(SA, p) (reference parity anchor:
# gsw_oceanographic_toolbox.c gsw_pot_enthalpy_ice_freezing_poly), with
# BOTH first derivatives minted by the symbolic differentiator — the
# d/dSA chain passes through x = sqrt(SA/100) mechanically.
# ---------------------------------------------------------------------------
def _freeze15_query(name: str, stages_fn, outs):
    """Freeze-grid builder registering into THIS slate's dicts."""
    from cioos_siooc_data_transform_spark.plans.staged_r13 import (
        _freeze_in_sql,
        _freeze_inputs,
    )

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = _freeze_inputs(spark, sf_dir)
        for sname, expr in stages_fn():
            df = df.withColumn(sname, F.expr(expr))
        return df.select(
            "l_orderkey",
            "l_linenumber",
            *[F.expr(e).alias(c) for c, e in outs],
        )

    staged = _stage_sql_cte(_freeze_in_sql(), stages_fn())
    sel = ",\n           ".join(f"{e} AS {c}" for c, e in outs)
    STAGED_QUERIES[name] = fn
    STAGED_ORACLES[name] = f"""
    SELECT l_orderkey, l_linenumber,
           {sel}
    FROM ({staged})
    """
    return fn


def _pif_poly_stages() -> list[tuple[str, str]]:
    return [
        ("__pif_h", _pot_h_ice_freezing_poly_sql("sa", "p")),
        ("__pif_h_sa", _pif_deriv_sql("sa", "p", 0)),
        ("__pif_h_p", _pif_deriv_sql("sa", "p", 1)),
    ]


_freeze15_query(
    "gsw_pot_enthalpy_ice_freezing_poly",
    _pif_poly_stages,
    [
        ("pot_h_if_poly", _q6("__pif_h")),
        ("pot_h_if_poly_sa", _q6("__pif_h_sa")),
        ("pot_h_if_poly_p", _q6("__pif_h_p")),
    ],
)


# ---------------------------------------------------------------------------
# Exact CT_freezing machinery, shared by three wave-A queries: the
# Millero freezing line t_f(SA, p) + its symdiff derivatives, the
# CT-derivative triple evaluated AT t_f (staged_r14's entropy-chain
# stages — the same pieces the registered wrt-t-exact query anchors),
# the exact-Gibbs enthalpy readoffs h / h_SA / h_CT at (SA, t_f, p)
# (reusing the chain's own polished pt0), and the IAPWS-06 ice chain at
# (t_f, p). Catalyst prunes whatever a consumer doesn't select.
# ---------------------------------------------------------------------------
_CT_T_EXPR = "(__cdt_ct_pt*__cdt_eta_t/__cdt_eta0_t)"
_CT_P_EXPR = "(__cdt_ct_pt*__cdt_eta_p/__cdt_eta0_t)"
_CT_SA_EXPR = (
    "(__cdt_ct_sa + __cdt_ct_pt"
    "*(__cdt_eta_sa - __cdt_eta0_sa)/__cdt_eta0_t)"
)


def _ctf_exact_stages() -> list[tuple[str, str]]:
    from cioos_siooc_data_transform_spark.functions.ice import (
        gibbs_ice_stages,
    )
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        GSW_CP0,
        GSW_SSO,
        _lit,
        ct_from_pt_sql,
        gibbs_sw_sql,
        t_freezing_sql,
    )
    from cioos_siooc_data_transform_spark.plans.staged_r14 import (
        _ct_derivs_wrt_t_stages,
        _tf_deriv_sql,
    )

    ups = _lit(GSW_SSO / 35.0)
    stages = [
        ("__cfx_tf", t_freezing_sql("s", "p")),
        ("__cfx_tf_sa", f"({_tf_deriv_sql('s', 'p', 0)}/{ups})"),
        ("__cfx_tf_p", _tf_deriv_sql("s", "p", 1)),
    ]
    stages += _ct_derivs_wrt_t_stages(t_col="__cfx_tf")
    stages += [
        # CTf from the chain's own POLISHED pt0 (not the 1.5-step
        # McDougall-Wotherspoon shortcut ct_from_t_sql uses): the value
        # and its chain-rule derivatives then live on the same implicit
        # surface, which is what makes the FD pin in
        # tests/test_staged_r15.py tight (~1e-9) instead of inheriting
        # the ~1e-5-K pt0 shortcut error's SA/p variation.
        ("__cfx_ctf", ct_from_pt_sql("sa", "__cdt_pt0")),
        # chain rule: CTf(SA, p) = CT(SA, t_f(SA, p), p)
        (
            "__cfx_ctf_sa",
            f"({_CT_SA_EXPR} + {_CT_T_EXPR}*__cfx_tf_sa)",
        ),
        (
            "__cfx_ctf_p",
            f"({_CT_P_EXPR} + {_CT_T_EXPR}*__cfx_tf_p)",
        ),
        # exact-Gibbs enthalpy readoffs at (sa, t_f, p); __cdt_pt0 is
        # the chain's polished pt0 at t_f, reused.
        (
            "__cfx_tr",
            "((273.15e0 + __cfx_tf)/(273.15e0 + __cdt_pt0))",
        ),
        ("__cfx_g", gibbs_sw_sql("sa", "__cfx_tf", "p")),
        ("__cfx_gt", gibbs_sw_sql("sa", "__cfx_tf", "p", dt=1)),
        ("__cfx_h", "(__cfx_g - (273.15e0 + __cfx_tf)*__cfx_gt)"),
        ("__cfx_gsa", gibbs_sw_sql("sa", "__cfx_tf", "p", dsa=1)),
        ("__cfx_gsa0", gibbs_sw_sql("sa", "__cdt_pt0", "0.0e0", dsa=1)),
        ("__cfx_hct", f"({_lit(GSW_CP0)}*__cfx_tr)"),
        ("__cfx_hsa", "(__cfx_gsa - __cfx_tr*__cfx_gsa0)"),
    ]
    stages += gibbs_ice_stages("__cfx_tf", "p", x="__cfxi_", out="__cfx_")
    return stages


_freeze15_query(
    "gsw_ct_freezing_first_derivatives",
    _ctf_exact_stages,
    [
        # GSW twin: gsw_CT_freezing_first_derivatives (the EXACT
        # family; the _poly twin is already registered via r13's
        # gsw_ct_freezing_derivs_poly). K per (g/kg), and K/Pa x 1e8.
        ("ctf", _q9("__cfx_ctf")),
        ("ctf_sa", _q9("__cfx_ctf_sa")),
        ("ctf_p_e8", _q9("(1.0e8*(1.0e-4*__cfx_ctf_p))")),
    ],
)


_freeze15_query(
    "gsw_melting_equilibrium_ratios_exact",
    _ctf_exact_stages,
    [
        # GSW twins: gsw_melting_ice_equilibrium_SA_CT_ratio AND
        # gsw_melting_seaice_equilibrium_SA_CT_ratio — at equilibrium
        # (both phases at the freezing point) the brine fraction
        # vanishes and the two ufuncs compute the SAME ratio
        # SA*h_CT/(h - h_Ih - SA*h_SA) (McDougall, Barker & Feistel
        # 2013, eqn 29); the poly twins are r13's
        # gsw_melting_ice_equilibrium_ratio. All pieces EXACT Gibbs.
        (
            "equilibrium_sa_ct_ratio",
            _q9(
                "(sa*__cfx_hct"
                "/(__cfx_h - __cfx_enthalpy_ice - sa*__cfx_hsa))"
            ),
        ),
    ],
)


def _frazil_exact_stages() -> list[tuple[str, str]]:
    """EXACT-freezing-surface twin of staged_r14's frazil ratios (GSW
    twin: gsw_frazil_ratios_adiabatic; the shipped r14 query carries
    the _poly freezing surface): the CTf value/derivative triple and
    the h/h_SA/h_CT readoffs all come from the exact-Gibbs chain above;
    only the mixture algebra (McDougall, Barker & Feistel 2013 eqns
    same as r14) differs from the shared stages."""
    stages = _ctf_exact_stages()
    stages += [
        ("__fxz_gamma", "(-__cfxi_gtp/__cfxi_gtt)"),
        ("__fxz_wcp", "(__cfx_cp_ice*w_ih/(1.0e0 - w_ih))"),
        (
            "__fxz_part",
            "((1.0e-4*__cfx_tf_p - __fxz_gamma)/(1.0e-4*__cfx_ctf_p))",
        ),
        ("__fxz_b1", "(__cfx_hct + __fxz_wcp*__fxz_part)"),
        (
            "__fxz_b2",
            "(__cfx_h - __cfx_enthalpy_ice"
            " - sa*(__cfx_hsa + __fxz_wcp*(__cfx_tf_sa"
            " - __fxz_part*__cfx_ctf_sa)))",
        ),
        (
            "__fxz_rb3",
            "(1.0e0/(__cfx_h - __cfx_enthalpy_ice"
            " - sa*(__cfx_hsa + __cfx_hct*__cfx_ctf_sa"
            " + __fxz_wcp*__cfx_tf_sa)))",
        ),
    ]
    return stages


def _melt15_query(name: str, stages_fn, outs):
    """Melt-grid builder registering into THIS slate's dicts."""
    from cioos_siooc_data_transform_spark.plans.staged_r14 import (
        _melt_in_sql,
        _melt_inputs,
    )

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = _melt_inputs(spark, sf_dir)
        for sname, expr in stages_fn():
            df = df.withColumn(sname, F.expr(expr))
        return df.select(
            "l_orderkey",
            "l_linenumber",
            *[F.expr(e).alias(c) for c, e in outs],
        )

    staged = _stage_sql_cte(_melt_in_sql(), stages_fn())
    sel = ",\n           ".join(f"{e} AS {c}" for c, e in outs)
    STAGED_QUERIES[name] = fn
    STAGED_ORACLES[name] = f"""
    SELECT l_orderkey, l_linenumber,
           {sel}
    FROM ({staged})
    """
    return fn


_melt15_query(
    "gsw_frazil_ratios_adiabatic_exact",
    _frazil_exact_stages,
    [
        ("dsa_dct_frazil", _q9("(sa*__fxz_b1/__fxz_b2)")),
        (
            "dsa_dp_frazil_e9",
            _q9("(1.0e9*sa*(1.0e-4*__cfx_ctf_p)*__fxz_b1*__fxz_rb3)"),
        ),
        (
            "dct_dp_frazil_e9",
            _q9("(1.0e9*(1.0e-4*__cfx_ctf_p)*__fxz_b2*__fxz_rb3)"),
        ),
    ],
)


# ---------------------------------------------------------------------------
# SA from the freezing temperature, polynomial family (GSW twin:
# gsw_SA_freezing_from_t_poly): solve ctf_poly(SA, p) =
# CT(SA/uPS, t, p) for SA by Newton — the same equation GSW's routine
# iterates. The grid feeds t = t_f(SA_grid, p) (the Millero line), so
# the root is the roundtrip SA to within the poly-vs-Millero mK
# difference; the ctf_poly SA-derivative is the symdiff template
# (staged_r13's _ctf_deriv_sql) and the small dCT/dSA term uses a
# central difference — one shared literal tree on both engines.
# ---------------------------------------------------------------------------
def _sa_freezing_from_t_poly_stages() -> list[tuple[str, str]]:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        GSW_SSO,
        _lit,
        ct_freezing_poly_sql,
        ct_from_t_sql,
        t_freezing_sql,
    )
    from cioos_siooc_data_transform_spark.plans.staged_r13 import (
        _ctf_deriv_sql,
    )

    ups = _lit(GSW_SSO / 35.0)
    eps = "1.0e-3"
    stages: list[tuple[str, str]] = [
        ("__sfp_t", t_freezing_sql("s", "p")),
        ("__sfp_s0", "s"),
    ]
    for i in range(3):
        cur = f"__sfp_s{i}"
        sa_cur = f"({cur}*{ups})"
        stages += [
            (
                f"__sfp_f{i}",
                f"({ct_freezing_poly_sql(sa_cur, 'p', '0.0e0')}"
                f" - {ct_from_t_sql(cur, '__sfp_t', 'p')})",
            ),
            (
                f"__sfp_d{i}",
                f"({_ctf_deriv_sql(sa_cur, 'p', 0)}*{ups}"
                f" - ({ct_from_t_sql(f'({cur} + {eps})', '__sfp_t', 'p')}"
                f" - {ct_from_t_sql(f'({cur} - {eps})', '__sfp_t', 'p')})"
                f"/(2.0e0*{eps}))",
            ),
            (f"__sfp_s{i + 1}", f"({cur} - __sfp_f{i}/__sfp_d{i})"),
        ]
    stages.append(("sa_freezing_from_t_poly", f"(__sfp_s3*{ups})"))
    return stages


_freeze15_query(
    "gsw_sa_freezing_from_t_poly",
    _sa_freezing_from_t_poly_stages,
    [("sa_freezing_from_t_poly", _q9("sa_freezing_from_t_poly"))],
)


# ---------------------------------------------------------------------------
# frazil_properties_potential — POLYNOMIAL form (GSW twin:
# gsw_frazil_properties_potential_poly): same equilibrium solve as the
# r14 exact-potential query, but with BOTH thermodynamic surfaces the
# direct published polynomials the reference itself substitutes in its
# _poly path (reference gsw_oceanographic_toolbox.c:3423 —
# h_pot_ihf = gsw_pot_enthalpy_ice_freezing_poly(sa, p)):
#   h_pot_bulk = (1−w)·cp0·CTf_poly(SA_f, p) + w·h_pot_if_poly(SA_f, p),
#   w = 1 − SA_bulk/SA_f.
# Because both surfaces are closed-form polynomials, the Newton slope
# is the SYMBOLIC residual derivative (no fixed-slope approximation):
#   d/dSA_f [ (SA_b/SA_f)·cp0·CTf + (1−SA_b/SA_f)·h_if ]
# with every piece a symdiff template. Roundtrip construction: the
# bulk state is mixed from the grid's own (SA, p, w_ih), so the solve
# recovers SA_f = SA and w = w_ih (pinned in tests).
# ---------------------------------------------------------------------------
def _frazil_potential_poly_stages() -> list[tuple[str, str]]:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        GSW_CP0,
        _lit,
        ct_freezing_poly_sql,
    )
    from cioos_siooc_data_transform_spark.plans.staged_r13 import (
        _ctf_deriv_sql,
    )

    cp0 = _lit(GSW_CP0)
    stages = [
        ("__fpp_ctf0", ct_freezing_poly_sql("sa", "p", "0.0e0")),
        ("__fpp_hif0", _pot_h_ice_freezing_poly_sql("sa", "p")),
        ("__fpp_sabulk", "((1.0e0 - w_ih)*sa)"),
        (
            "__fpp_hbulk",
            f"((1.0e0 - w_ih)*{cp0}*__fpp_ctf0 + w_ih*__fpp_hif0)",
        ),
        ("__fpp_s0", "(__fpp_sabulk/0.95e0)"),
    ]
    for k in (1, 2, 3):
        prev = "__fpp_s0" if k == 1 else f"__fpp_s{k - 1}"
        x = f"__fpp_i{k}_"
        stages += [
            (f"{x}ctf", ct_freezing_poly_sql(prev, "p", "0.0e0")),
            (f"{x}hif", _pot_h_ice_freezing_poly_sql(prev, "p")),
            (f"{x}ctf_sa", _ctf_deriv_sql(prev, "p", 0)),
            (f"{x}hif_sa", _pif_deriv_sql(prev, "p", 0)),
            (f"{x}wf", f"(__fpp_sabulk/{prev})"),
            (
                f"{x}res",
                f"(__fpp_hbulk - {x}wf*{cp0}*{x}ctf"
                f" - (1.0e0 - {x}wf)*{x}hif)",
            ),
            # d(res)/dSA_f: the weight derivative is +SA_b/SA_f², and
            # the surfaces differentiate symbolically.
            (
                f"{x}dres",
                f"({x}wf/{prev}*{cp0}*{x}ctf"
                f" - {x}wf*{cp0}*{x}ctf_sa"
                f" - {x}wf/{prev}*{x}hif"
                f" - (1.0e0 - {x}wf)*{x}hif_sa)",
            ),
            (f"__fpp_s{k}", f"({prev} - {x}res/{x}dres)"),
        ]
    stages += [
        ("__fpp_saf", "__fpp_s3"),
        ("__fpp_ctf", ct_freezing_poly_sql("__fpp_s3", "p", "0.0e0")),
        ("__fpp_w", "(1.0e0 - __fpp_sabulk/__fpp_s3)"),
    ]
    return stages


_melt15_query(
    "gsw_frazil_properties_potential_poly",
    _frazil_potential_poly_stages,
    [
        ("sa_final", _q9("__fpp_saf")),
        ("ct_final", _q9("__fpp_ctf")),
        ("w_ih_final", _q9("__fpp_w")),
    ],
)


# ---------------------------------------------------------------------------
# melting_seaice_SA_CT_ratio — EXACT-enthalpy form (GSW twin: the
# unsuffixed gsw_melting_seaice_SA_CT_ratio; the r14 query with the
# 75-term h maps to _poly): same mixture algebra as r14's
# _seaice_common_stages (brine salinity via the fixed-slope Newton on
# the Millero line, exact-Gibbs brine enthalpy), with the SEAWATER
# h / h_SA / h_CT replaced by the exact-Gibbs readoffs at (SA, t, p)
# (h = g − T·g_T, h_CT = cp0·(T0+t)/(T0+pt0), h_SA = g_SA −
# (T0+t)/(T0+pt0)·g_SA(pt0, 0)).
# ---------------------------------------------------------------------------
def _seaice_ratio_exact_stages() -> list[tuple[str, str]]:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        GSW_CP0,
        _lit,
        gibbs_sw_sql,
        pt0_from_t_sql,
    )
    from cioos_siooc_data_transform_spark.plans.staged_r14 import (
        _seaice_common_stages,
    )

    stages = list(_seaice_common_stages())
    stages += [
        ("__sx_pt0", pt0_from_t_sql("s", "t", "p")),
        ("__sx_tr", "((273.15e0 + t)/(273.15e0 + __sx_pt0))"),
        ("__sx_g", gibbs_sw_sql("sa", "t", "p")),
        ("__sx_gt", gibbs_sw_sql("sa", "t", "p", dt=1)),
        ("__sx_h", "(__sx_g - (273.15e0 + t)*__sx_gt)"),
        ("__sx_gsa", gibbs_sw_sql("sa", "t", "p", dsa=1)),
        ("__sx_gsa0", gibbs_sw_sql("sa", "__sx_pt0", "0.0e0", dsa=1)),
        ("__sx_hct", f"({_lit(GSW_CP0)}*__sx_tr)"),
        ("__sx_hsa", "(__sx_gsa - __sx_tr*__sx_gsa0)"),
    ]
    return stages


def _seaice15_query(name: str, stages_fn, outs):
    """Sea-ice-grid builder registering into THIS slate's dicts."""
    from cioos_siooc_data_transform_spark.plans.staged_r14 import (
        _seaice_in_sql,
        _seaice_inputs,
    )

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = _seaice_inputs(spark, sf_dir)
        for sname, expr in stages_fn():
            df = df.withColumn(sname, F.expr(expr))
        return df.select(
            "l_orderkey",
            "l_linenumber",
            *[F.expr(e).alias(c) for c, e in outs],
        )

    staged = _stage_sql_cte(_seaice_in_sql(), stages_fn())
    sel = ",\n           ".join(f"{e} AS {c}" for c, e in outs)
    STAGED_QUERIES[name] = fn
    STAGED_ORACLES[name] = f"""
    SELECT l_orderkey, l_linenumber,
           {sel}
    FROM ({staged})
    """
    return fn


_seaice15_query(
    "gsw_melting_seaice_sa_ct_ratio_exact",
    _seaice_ratio_exact_stages,
    [
        (
            "seaice_sa_ct_ratio_exact",
            _q9(
                "(__sx_hct*(sa - sa_si)"
                " / (__sx_h - __si_enthalpy_ice - (sa - sa_si)*__sx_hsa"
                "    - sa_si*(__si_hbrine - __si_enthalpy_ice)/__si_sabr))"
            ),
        ),
    ],
)


# ---------------------------------------------------------------------------
# pt_second_derivatives (GSW twin: gsw_pt_second_derivatives): the
# second derivatives of pt(SA, CT) by the implicit-function theorem on
# the forward CT(SA, pt) surface — differentiating pt_CT = 1/CT_pt and
# pt_SA = −CT_SA/CT_pt ALONG the level set (d/dx|_CT carries the
# pt-motion term pt_x):
#   pt_CT_CT = −CT_ptpt / CT_pt³,
#   pt_SA_CT = −(CT_SApt + CT_ptpt·pt_SA) / CT_pt²,
#   pt_SA_SA = −[(CT_SASA + CT_SApt·pt_SA)
#               + pt_SA·(CT_SApt + CT_ptpt·pt_SA)] / CT_pt.
# All five forward derivatives are the one symdiff template family the
# r12 first/second-derivative queries already anchor; evaluated on the
# (SA, pt) grid at CT = ct_from_pt(SA, pt) (the inversion family's
# roundtrip contract). FD-pinned against the r12 pt_first_derivatives
# ratios in tests.
# ---------------------------------------------------------------------------
def _pt_second_stages() -> list[tuple[str, str]]:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_derivative_sql,
    )

    return [
        ("__pts_csa", ct_derivative_sql("sa", "pt", 1, 0)),
        ("__pts_cpt", ct_derivative_sql("sa", "pt", 0, 1)),
        ("__pts_css", ct_derivative_sql("sa", "pt", 2, 0)),
        ("__pts_cst", ct_derivative_sql("sa", "pt", 1, 1)),
        ("__pts_ctt", ct_derivative_sql("sa", "pt", 0, 2)),
        ("__pts_ptsa", "(-__pts_csa/__pts_cpt)"),
        (
            "pt_ct_ct",
            "(-__pts_ctt/(__pts_cpt*__pts_cpt*__pts_cpt))",
        ),
        (
            "pt_sa_ct",
            "(-(__pts_cst + __pts_ctt*__pts_ptsa)"
            "/(__pts_cpt*__pts_cpt))",
        ),
        (
            "pt_sa_sa",
            "(-((__pts_css + __pts_cst*__pts_ptsa)"
            " + __pts_ptsa*(__pts_cst + __pts_ctt*__pts_ptsa))"
            "/__pts_cpt)",
        ),
    ]


def _ctd15_query(name: str, stages_fn, outs):
    """(SA, pt)-grid builder registering into THIS slate's dicts."""
    from cioos_siooc_data_transform_spark.plans.staged_r12 import (
        _ctd_inner,
        _ctd_inputs,
    )

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = _ctd_inputs(spark, sf_dir)
        for sname, expr in stages_fn():
            df = df.withColumn(sname, F.expr(expr))
        return df.select(
            "l_orderkey",
            "l_linenumber",
            *[F.expr(e).alias(c) for c, e in outs],
        )

    staged = _stage_sql_cte(_ctd_inner(), stages_fn())
    sel = ",\n           ".join(f"{e} AS {c}" for c, e in outs)
    STAGED_QUERIES[name] = fn
    STAGED_ORACLES[name] = f"""
    SELECT l_orderkey, l_linenumber,
           {sel}
    FROM ({staged})
    """
    return fn


_ctd15_query(
    "gsw_pt_second_derivatives",
    _pt_second_stages,
    [
        # magnitudes: pt_SA_SA ~1e-4, pt_SA_CT ~1e-3, pt_CT_CT ~1e-3;
        # x1e6 + 1e-6 floor keeps ~9 significant digits — well above
        # the cross-engine last-ulp band (a x1e12 emission flipped a
        # 1e-14-relative floor boundary).
        ("pt_sa_sa_e6", _q6("(1.0e6*pt_sa_sa)")),
        ("pt_sa_ct_e6", _q6("(1.0e6*pt_sa_ct)")),
        ("pt_ct_ct_e6", _q6("(1.0e6*pt_ct_ct)")),
    ],
)


# ---------------------------------------------------------------------------
# frazil_properties — IN-SITU-enthalpy form (GSW twin:
# gsw_frazil_properties, the family head): the equilibrium solve on
# the heat balance written in in-situ enthalpies,
#   h_bulk = (1−w)·h(SA_f, CTf(SA_f), p) + w·h_Ih(t_f(SA_f), p),
# where h at the freezing point is the EXACT Gibbs readoff
# g − T·g_T evaluated at (SA_f, t_f, p) (no pt0 needed for h itself)
# and h_Ih is the IAPWS-06 chain — the same surfaces the reference
# composes (gsw_oceanographic_toolbox.c gsw_frazil_properties:
# gsw_enthalpy_ct_exact + gsw_enthalpy_ice). Fixed-slope Newton from a
# central difference at the initial guess (the r14 potential-form
# recipe); ROUNDTRIP construction — the bulk state is mixed from the
# grid's own (SA, w_ih), so the solve recovers them (pinned in tests).
# ---------------------------------------------------------------------------
def _frazil_insitu_stages() -> list[tuple[str, str]]:
    from cioos_siooc_data_transform_spark.functions.ice import (
        gibbs_ice_stages,
    )
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        GSW_SSO,
        _lit,
        gibbs_sw_sql,
        t_freezing_sql,
    )

    ups = _lit(GSW_SSO / 35.0)

    def h_at_freezing(sa_col: str, x: str) -> list[tuple[str, str]]:
        """tf, exact seawater h and IAPWS ice h at the freezing line of
        sa_col (h = g − T·g_T needs no pt0)."""
        st = [(f"{x}tf", t_freezing_sql(f"(({sa_col})/{ups})", "p"))]
        st += [
            (f"{x}g", gibbs_sw_sql(sa_col, f"{x}tf", "p")),
            (f"{x}gt", gibbs_sw_sql(sa_col, f"{x}tf", "p", dt=1)),
            (f"{x}h", f"({x}g - (273.15e0 + {x}tf)*{x}gt)"),
        ]
        st += gibbs_ice_stages(f"{x}tf", "p", x=f"{x}i_", out=f"{x}o_")
        return st

    def residual_at(sa_col: str, x: str) -> list[tuple[str, str]]:
        st = h_at_freezing(sa_col, x)
        st.append(
            (
                f"{x}res",
                f"(__fi_hbulk - (__fi_sabulk/({sa_col}))*{x}h"
                f" - (1.0e0 - __fi_sabulk/({sa_col}))*{x}o_enthalpy_ice)",
            )
        )
        return st

    stages = h_at_freezing("sa", "__fi_b_")
    stages += [
        ("__fi_sabulk", "((1.0e0 - w_ih)*sa)"),
        (
            "__fi_hbulk",
            "((1.0e0 - w_ih)*__fi_b_h + w_ih*__fi_b_o_enthalpy_ice)",
        ),
        ("__fi_s0", "(__fi_sabulk/0.95e0)"),
    ]
    stages += residual_at("(__fi_s0*1.01e0)", "__fi_dhi_")
    stages += residual_at("(__fi_s0*0.99e0)", "__fi_dlo_")
    stages.append(
        ("__fi_slope", "((__fi_dhi_res - __fi_dlo_res)/(0.02e0*__fi_s0))")
    )
    for k in (1, 2, 3):
        prev = "__fi_s0" if k == 1 else f"__fi_s{k - 1}"
        x = f"__fi_i{k}_"
        stages += residual_at(prev, x)
        stages.append((f"__fi_s{k}", f"({prev} - {x}res/__fi_slope)"))
    stages += h_at_freezing("__fi_s3", "__fi_f_")
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_from_t_sql,
    )

    stages += [
        ("__fi_saf", "__fi_s3"),
        (
            "__fi_ctf",
            ct_from_t_sql(f"(__fi_s3/{ups})", "__fi_f_tf", "p"),
        ),
        ("__fi_w", "(1.0e0 - __fi_sabulk/__fi_s3)"),
    ]
    return stages


_melt15_query(
    "gsw_frazil_properties",
    _frazil_insitu_stages,
    [
        ("sa_final", _q9("__fi_saf")),
        ("ct_final", _q9("__fi_ctf")),
        ("w_ih_final", _q9("__fi_w")),
    ],
)


# ---------------------------------------------------------------------------
# enthalpy_second_derivatives_CT_exact — the FULL tuple (GSW twin:
# gsw_enthalpy_second_derivatives_CT_exact; r14's
# gsw_enthalpy_ct_ct_exact ships the h_CT_CT member alone): the
# McDougall (2003) identities in Gibbs readoffs at the two states
# (SA, t, p) and (SA, pt0, 0) —
#   part_b = (ratio·g_SAT0/g_TT0 − g_SAT/g_TT)/(T0+pt0),
#   h_SA_CT = cp0·part_b − (g_SA0/cp0)·h_CT_CT,
#   h_SA_SA = g_SASA − ratio·g_SASA0 + ratio·g_SAT0²/g_TT0
#             − g_SAT²/g_TT − 2·g_SA0·part_b + (g_SA0/cp0)²·h_CT_CT,
# every readoff a symdiff template of the one published Gibbs table
# (reference composes hand-differentiated tables the same way:
# gsw_oceanographic_toolbox.c gsw_enthalpy_second_derivatives_ct_exact;
# its small-SA guard is unreachable on this SA >= 30 envelope). On the
# grid CT is the forward conversion of t, so t(CT) = t and pt0 is the
# direct inversion. Cross-pinned against the analytic-polynomial
# h second derivatives (r12) in tests.
# ---------------------------------------------------------------------------
def _h_second_ct_exact_stages() -> list[tuple[str, str]]:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        GSW_CP0,
        _lit,
        gibbs_sw_sql,
        pt0_from_t_sql,
    )

    cp0 = _lit(GSW_CP0)
    return [
        ("__hsd_pt0", pt0_from_t_sql("s", "t", "p")),
        ("__hsd_rpt0", "(1.0e0/(273.15e0 + __hsd_pt0))"),
        ("__hsd_ratio", "((273.15e0 + t)*__hsd_rpt0)"),
        ("__hsd_gtt0", gibbs_sw_sql("sa", "__hsd_pt0", "0.0e0", dt=2)),
        ("__hsd_gtt", gibbs_sw_sql("sa", "t", "p", dt=2)),
        (
            "h_ct_ct",
            f"({cp0}*{cp0}*(__hsd_ratio/__hsd_gtt0 - 1.0e0/__hsd_gtt)"
            "*__hsd_rpt0*__hsd_rpt0)",
        ),
        ("__hsd_gsat0", gibbs_sw_sql("sa", "__hsd_pt0", "0.0e0", dsa=1, dt=1)),
        ("__hsd_gsat", gibbs_sw_sql("sa", "t", "p", dsa=1, dt=1)),
        ("__hsd_gsa0", gibbs_sw_sql("sa", "__hsd_pt0", "0.0e0", dsa=1)),
        ("__hsd_gsasa0", gibbs_sw_sql("sa", "__hsd_pt0", "0.0e0", dsa=2)),
        ("__hsd_gsasa", gibbs_sw_sql("sa", "t", "p", dsa=2)),
        (
            "__hsd_partb",
            "((__hsd_ratio*__hsd_gsat0/__hsd_gtt0"
            " - __hsd_gsat/__hsd_gtt)*__hsd_rpt0)",
        ),
        ("__hsd_factor", f"(__hsd_gsa0/{cp0})"),
        (
            "h_sa_ct",
            f"({cp0}*__hsd_partb - __hsd_factor*h_ct_ct)",
        ),
        (
            "h_sa_sa",
            "(__hsd_gsasa - __hsd_ratio*__hsd_gsasa0"
            " + __hsd_ratio*__hsd_gsat0*__hsd_gsat0/__hsd_gtt0"
            " - __hsd_gsat*__hsd_gsat/__hsd_gtt"
            " - 2.0e0*__hsd_gsa0*__hsd_partb"
            " + __hsd_factor*__hsd_factor*h_ct_ct)",
        ),
    ]


def _gibbs15_query(name: str, stages_fn, outs):
    """(s, t, p, sa)-grid builder registering into THIS slate's dicts."""
    from cioos_siooc_data_transform_spark.plans.staged_r13 import (
        _freeze_in_sql,
        _freeze_inputs,
    )

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = _freeze_inputs(spark, sf_dir)
        for sname, expr in stages_fn():
            df = df.withColumn(sname, F.expr(expr))
        return df.select(
            "l_orderkey",
            "l_linenumber",
            *[F.expr(e).alias(c) for c, e in outs],
        )

    staged = _stage_sql_cte(_freeze_in_sql(), stages_fn())
    sel = ",\n           ".join(f"{e} AS {c}" for c, e in outs)
    STAGED_QUERIES[name] = fn
    STAGED_ORACLES[name] = f"""
    SELECT l_orderkey, l_linenumber,
           {sel}
    FROM ({staged})
    """
    return fn


_gibbs15_query(
    "gsw_enthalpy_second_derivatives_ct_exact",
    _h_second_ct_exact_stages,
    [
        # magnitudes: h_SA_SA ~0.1, h_SA_CT ~1, h_CT_CT ~1e-3 over the
        # envelope — x1e3/x1e3/x1e6 with a 1e-6 floor keeps ~9 digits.
        ("h_sa_sa_e3", _q6("(1.0e3*h_sa_sa)")),
        ("h_sa_ct_e3", _q6("(1.0e3*h_sa_ct)")),
        ("h_ct_ct_e6", _q6("(1.0e6*h_ct_ct)")),
    ],
)


# ===========================================================================
# Wave B — LLM-pipeline audits: isotropy, packing wastage, shard
# mixing, stopword coverage, second-digit Benford.
# ===========================================================================
def _stage(name: str, oracle: str):
    def deco(fn):
        STAGED_QUERIES[name] = fn
        STAGED_ORACLES[name] = oracle
        return fn

    return deco


@_stage(
    "embedding_isotropy_score",
    oracle="""
    WITH comp AS (
      SELECT u.dim,
             CAST(sum(u.q) AS HUGEINT) AS sq
      FROM (
        SELECT unnest(range(1, 65)) AS dim,
               unnest(list_transform(CAST(embedding AS DOUBLE[]),
                      v -> CAST(floor(v * 1.0e6 + 0.5) AS BIGINT))) AS q
        FROM embeddings
      ) u
      GROUP BY u.dim
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
    s AS (
      SELECT CAST(sum(sq * sq) AS DOUBLE) / 1.0e12 AS norm2_sum
      FROM comp
    )
    SELECT n.n AS n_vectors,
           floor((s.norm2_sum - CAST(n.n AS DOUBLE))
                 / (CAST(n.n AS DOUBLE) * (CAST(n.n AS DOUBLE) - 1.0e0))
                 * 1.0e9 + 0.5) / 1.0e9 AS mean_pairwise_cosine
    FROM s, n
    """,
)
def embedding_isotropy_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotropy audit: the mean pairwise cosine over all n(n-1) vector
    pairs — for UNIT vectors it collapses to (|Σv|² − n)/(n(n−1)), so
    the all-pairs statistic is ONE 64-dim sum (posexplode + map-side
    combinable agg of micro-quantized components), never an O(n²) join.
    A high value means the embedding cloud shares a dominant direction
    (anisotropy — common-direction removal pays off before cosine
    retrieval); near zero means isotropic. Exact integer component
    sums; one rounded division."""
    emb = _t(spark, sf_dir, "embeddings")
    comp = (
        emb.select(
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "d", "v"
            )
        )
        .select(
            (F.col("d") + 1).alias("dim"),
            F.floor(F.col("v") * 1.0e6 + 0.5)
            .cast("decimal(19,0)")
            .alias("q"),
        )
        .groupBy("dim")
        .agg(F.sum("q").cast("decimal(38,0)").alias("sq"))
    )
    n = emb.agg(F.count(F.lit(1)).cast("long").alias("n"))
    s = comp.agg(
        (
            F.sum(F.col("sq") * F.col("sq")).cast("double") / 1.0e12
        ).alias("norm2_sum")
    )
    nd = F.col("n").cast("double")
    return s.crossJoin(F.broadcast(n)).select(
        F.col("n").alias("n_vectors"),
        (
            F.floor(
                (F.col("norm2_sum") - nd) / (nd * (nd - 1.0)) * 1.0e9 + 0.5
            )
            / 1.0e9
        ).alias("mean_pairwise_cosine"),
    )


@_stage(
    "pack_wastage_by_length",
    oracle="""
    WITH d AS (
      SELECT source, CAST(n_chars AS BIGINT) AS len,
             CAST(((n_chars + 2047) // 2048) * 2048 - n_chars AS BIGINT)
               AS waste
      FROM documents WHERE n_chars > 0
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len) AS BIGINT) AS total_chars,
           CAST(sum(waste) AS BIGINT) AS padded_waste_chars,
           floor(CAST(sum(waste) AS DOUBLE)
                 / CAST(sum(len) + sum(waste) AS DOUBLE) * 1.0e6 + 0.5)
             / 1.0e6 AS pad_waste_fraction
    FROM d GROUP BY source
    """,
)
def pack_wastage_by_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-wastage forecast for fixed 2048-char training rows when
    documents are NOT concatenated (each doc padded up to a multiple of
    the chunk): the per-source fraction of padded bytes — the number
    that justifies concat-and-chunk packing over naive padding. Pure
    row-local integer arithmetic + one map-side-combinable agg."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    c = 2048
    waste = (
        (F.floor((F.col("n_chars") + c - 1) / c) * c - F.col("n_chars"))
        .cast("long")
    )
    d = docs.select("source", F.col("n_chars").cast("long").alias("len"), waste.alias("waste"))
    tot_w = F.sum("waste").cast("long")
    tot_l = F.sum("len").cast("long")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        tot_l.alias("total_chars"),
        tot_w.alias("padded_waste_chars"),
        (
            F.floor(
                tot_w.cast("double") / (tot_l + tot_w).cast("double") * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("pad_waste_fraction"),
    )


@_stage(
    "shard_mixing_entropy",
    oracle="""
    WITH assign AS (
      SELECT CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                       AS BIGINT) % 16 AS BIGINT) AS shard,
             source
      FROM documents
    ),
    cell AS (
      SELECT shard, source, CAST(count(*) AS BIGINT) AS c
      FROM assign GROUP BY 1, 2
    ),
    tot AS (SELECT shard, CAST(sum(c) AS BIGINT) AS n FROM cell GROUP BY 1),
    ent AS (
      SELECT cell.shard,
             CAST(sum(CAST(floor(
               CAST(cell.c AS DOUBLE) / CAST(tot.n AS DOUBLE)
               * ln(CAST(tot.n AS DOUBLE) / CAST(cell.c AS DOUBLE))
               * 1.0e12 + 0.5) AS HUGEINT)) AS HUGEINT) AS hq,
             CAST(max(tot.n) AS BIGINT) AS n_docs
      FROM cell JOIN tot ON tot.shard = cell.shard
      GROUP BY cell.shard
    )
    SELECT shard, n_docs,
           floor(CAST(hq AS DOUBLE) / 1.0e6 + 0.5) / 1.0e6
             AS source_entropy_nats
    FROM ent
    """,
)
def shard_mixing_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mixing audit per training shard: documents route to 16
    shards by a deterministic id hash, and each shard reports the
    Shannon entropy of its source distribution — a shard whose entropy
    is far below the corpus-level mix signals a routing bug that would
    feed a trainer correlated batches. NB the DETERMINISTIC text hash
    (DuckDB hash(VARCHAR) != Spark hash): both engines use the shared
    md5-prefix route below, so the assignment is identical.
    Entropy terms are pico-quantized per cell before the per-shard sum
    (order-independence invariant)."""
    docs = _t(spark, sf_dir, "documents")
    # md5-derived shard (engine-portable): first 8 hex chars mod 16.
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 16
    )
    cell = docs.select(shard.alias("shard"), "source").groupBy(
        "shard", "source"
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = cell.groupBy("shard").agg(F.sum("c").cast("long").alias("n"))
    j = cell.join(tot, "shard")
    hq = F.sum(
        F.floor(
            F.col("c").cast("double")
            / F.col("n").cast("double")
            * F.log(F.col("n").cast("double") / F.col("c").cast("double"))
            * 1.0e12
            + 0.5
        ).cast("decimal(38,0)")
    )
    return j.groupBy("shard").agg(
        F.max("n").cast("long").alias("n_docs"),
        (F.floor(hq.cast("double") / 1.0e6 + 0.5) / 1.0e6).alias(
            "source_entropy_nats"
        ),
    )


@_stage(
    "text_stopword_coverage_curve",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS t FROM documents
    ),
    freq AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM freq),
    top AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, t) AS r
      FROM freq ORDER BY c DESC, t LIMIT 100
    ),
    ks AS (SELECT unnest([10, 50, 100]) AS k)
    SELECT CAST(ks.k AS BIGINT) AS top_k,
           CAST(sum(CASE WHEN top.r <= ks.k THEN top.c ELSE 0 END) AS BIGINT)
             AS covered_tokens,
           CAST(max(tot.total) AS BIGINT) AS total_tokens,
           floor(sum(CASE WHEN top.r <= ks.k THEN top.c ELSE 0 END) * 1.0e6
                 / max(tot.total) + 0.5) / 1.0e6 AS coverage
    FROM top CROSS JOIN ks CROSS JOIN tot
    GROUP BY 1
    """,
)
def text_stopword_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What fraction of all token OCCURRENCES the top-{10,50,100} most
    frequent words cover — the stopword-mass profile that calibrates
    stopword-ratio quality gates (a natural corpus runs ~40-55 % at
    k=100; far less signals shredded text). TakeOrdered(100) + a 1-row
    broadcast total — the doc_ngram_coverage_curve idiom on the word
    domain, no global window, no vocabulary sort."""
    from cioos_siooc_data_transform_spark.operators.dedup import words_expr

    docs = _t(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(words_expr(F.col("text"))).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tot = freq.agg(F.sum("c").cast("long").alias("total"))
    top = freq.orderBy(F.col("c").desc(), F.col("t")).limit(100)
    wr = Window.orderBy(F.col("c").desc(), F.col("t"))
    ranked = (
        top.withColumn("r", F.row_number().over(wr).cast("long"))
        .crossJoin(F.broadcast(tot))
    )
    ks = docs.sparkSession.createDataFrame([(10,), (50,), (100,)], "k LONG")
    cov = F.sum(
        F.when(F.col("r") <= F.col("k"), F.col("c")).otherwise(0)
    ).cast("long")
    return (
        ranked.crossJoin(F.broadcast(ks))
        .groupBy(F.col("k").alias("top_k"))
        .agg(
            cov.alias("covered_tokens"),
            F.max("total").cast("long").alias("total_tokens"),
            (
                F.floor(cov * 1.0e6 / F.max("total") + 0.5) / 1.0e6
            ).alias("coverage"),
        )
    )


@_stage(
    "orders_benford_second_digit",
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                         2, 1) AS BIGINT) AS d2
      FROM orders WHERE o_totalprice >= 10.0
    ),
    obs AS (
      SELECT d2, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM obs),
    exp AS (
      -- Benford second-digit law: P(d) = sum_{k=1..9} log10(1 + 1/(10k+d))
      SELECT d.d2,
             (SELECT sum(log(1.0e0 + 1.0e0/(10.0e0*k.k + d.d2)) / log(10.0e0))
              FROM (SELECT unnest(range(1, 10)) AS k) k) AS p
      FROM (SELECT unnest(range(0, 10)) AS d2) d
    )
    SELECT CAST(exp.d2 AS BIGINT) AS second_digit,
           COALESCE(obs.n, 0) AS n_observed,
           floor(exp.p * 1.0e9 + 0.5) / 1.0e9 AS p_benford,
           floor(CAST(COALESCE(obs.n, 0) AS DOUBLE)
                 / CAST(tot.total AS DOUBLE) * 1.0e9 + 0.5) / 1.0e9
             AS p_observed
    FROM exp LEFT JOIN obs ON obs.d2 = exp.d2 CROSS JOIN tot
    """,
)
def orders_benford_second_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-digit Benford audit of order totals — the follow-up test
    auditors run when the first-digit test passes (fabricated values
    often fix the leading digit but draw the second uniformly; Benford
    P(d) = Σ_k log10(1 + 1/(10k+d)) is nearly flat but not uniform).
    One map-side-combinable digit histogram vs the closed-form law;
    exact integer counts."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 10.0)
    d2 = F.substring(
        F.floor(F.col("o_totalprice")).cast("long").cast("string"), 2, 1
    ).cast("long")
    obs = o.select(d2.alias("d2")).groupBy("d2").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = obs.agg(F.sum("n").cast("long").alias("total"))
    spark_sess = o.sparkSession
    digits = spark_sess.range(0, 10).select(F.col("id").alias("d2"))
    import math

    p_map = {
        d: sum(math.log10(1.0 + 1.0 / (10.0 * k + d)) for k in range(1, 10))
        for d in range(10)
    }
    p_expr = F.element_at(
        F.array(*[F.lit(p_map[d]) for d in range(10)]),
        (F.col("d2") + 1).cast("int"),
    )
    return (
        digits.join(obs, "d2", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("d2").alias("second_digit"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_observed"),
            (F.floor(p_expr * 1.0e9 + 0.5) / 1.0e9).alias("p_benford"),
            (
                F.floor(
                    F.coalesce(F.col("n"), F.lit(0)).cast("double")
                    / F.col("total").cast("double")
                    * 1.0e9
                    + 0.5
                )
                / 1.0e9
            ).alias("p_observed"),
        )
    )


# ===========================================================================
# Wave C — events/time-series battery: interarrival burstiness, hazard
# profile, turning-points randomness, SES forecast error, Theil-Sen.
# ===========================================================================
@_stage(
    "events_interarrival_cv2",
    oracle="""
    WITH g AS (
      SELECT event_type,
             CAST(epoch_us(ts) AS BIGINT)
             - CAST(lag(epoch_us(ts)) OVER (
                 PARTITION BY user_id, event_type
                 ORDER BY ts, event_id) AS BIGINT) AS gap_us
      FROM events
    ),
    s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(gap_us) AS HUGEINT) AS s1,
             sum(CAST(gap_us AS HUGEINT) * CAST(gap_us AS HUGEINT)) AS s2
      FROM g WHERE gap_us IS NOT NULL
      GROUP BY 1
    )
    SELECT event_type, n AS n_gaps,
           floor((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                  / (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) - 1.0e0)
                 * 1.0e6 + 0.5) / 1.0e6 AS cv_squared
    FROM s WHERE n >= 2
    """,
)
def events_interarrival_cv2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Squared coefficient of variation of per-user interarrival times
    by event type — the burstiness classifier (CV² = 1 Poisson, > 1
    overdispersed/bursty, < 1 regular). Gaps come from a lag window
    partitioned by (user, type) — per-partition cardinality is one
    user's activity, bounded — and the moments are exact integer
    micro-second sums; CV² = n·Σg²/(Σg)² − 1 in one rounded output."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    g = ev.select(
        "event_type",
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias(
            "gap_us"
        ),
    ).filter(F.col("gap_us").isNotNull())
    s = g.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("gap_us").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("s1"),
        F.sum(
            F.col("gap_us").cast("decimal(19,0)")
            * F.col("gap_us").cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .alias("s2"),
    ).filter(F.col("n") >= 2)
    nd = F.col("n").cast("double")
    return s.select(
        "event_type",
        F.col("n").alias("n_gaps"),
        (
            F.floor(
                (
                    nd
                    * F.col("s2").cast("double")
                    / (F.col("s1").cast("double") * F.col("s1").cast("double"))
                    - 1.0
                )
                * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("cv_squared"),
    )


@_stage(
    "events_hazard_rate_profile",
    oracle="""
    WITH g AS (
      SELECT CAST(date_diff('day',
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                  ts) AS BIGINT) AS gap_d
      FROM events WHERE event_type = 'purchase'
    ),
    hist AS (
      SELECT gap_d, CAST(count(*) AS BIGINT) AS n
      FROM g WHERE gap_d IS NOT NULL GROUP BY 1
    ),
    r AS (
      SELECT gap_d, n,
             CAST(sum(n) OVER (ORDER BY gap_d DESC
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS at_risk
      FROM hist
    )
    SELECT gap_d AS gap_days, n AS n_gaps, at_risk,
           floor(CAST(n AS DOUBLE) / CAST(at_risk AS DOUBLE) * 1.0e6 + 0.5)
             / 1.0e6 AS hazard
    FROM r
    """,
)
def events_hazard_rate_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete hazard of the inter-purchase gap: h(d) = P(gap = d |
    gap >= d) — the churn-model primitive (a rising hazard says users
    who haven't repurchased by day d are increasingly gone). Gaps from
    bounded per-user windows; the at-risk suffix counts come from
    ranked_cumsum_two_pass DESCENDING over the gap-day histogram
    (weight = bin count), so even an unbounded gap axis never sorts in
    one task."""
    from cioos_siooc_data_transform_spark.operators.windows import (
        ranked_cumsum_two_pass,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        F.datediff(F.col("ts"), F.lag("ts").over(w)).cast("long").alias("gap_d")
    ).filter(F.col("gap_d").isNotNull())
    hist = g.groupBy("gap_d").agg(F.count(F.lit(1)).cast("long").alias("n"))
    r = ranked_cumsum_two_pass(
        hist, "gap_d", "gap_d", weight_col="n",
        out_rank="__rk_unused", out_cum="at_risk", ascending=False,
    )
    return r.select(
        F.col("gap_d").alias("gap_days"),
        F.col("n").alias("n_gaps"),
        F.col("at_risk").cast("long").alias("at_risk"),
        (
            F.floor(
                F.col("n").cast("double")
                / F.col("at_risk").cast("double")
                * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("hazard"),
    )


@_stage(
    "events_turning_points_test",
    oracle="""
    WITH d AS (
      SELECT date_trunc('day', ts) AS day, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ),
    x AS (
      SELECT c,
             lag(c) OVER (ORDER BY day) AS pc,
             lead(c) OVER (ORDER BY day) AS nc
      FROM d
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_interior,
             CAST(sum(CASE WHEN (c > pc AND c > nc)
                             OR (c < pc AND c < nc) THEN 1 ELSE 0 END)
                  AS BIGINT) AS t_obs
      FROM x WHERE pc IS NOT NULL AND nc IS NOT NULL
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d)
    SELECT s.t_obs AS n_turning_points, nn.n AS n_days,
           floor((CAST(s.t_obs AS DOUBLE)
                  - 2.0e0*(CAST(nn.n AS DOUBLE) - 2.0e0)/3.0e0)
                 / sqrt((16.0e0*CAST(nn.n AS DOUBLE) - 29.0e0)/90.0e0)
                 * 1.0e9 + 0.5) / 1.0e9 AS z_score
    FROM s, nn
    """,
)
def events_turning_points_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turning-points test for randomness of the daily volume series:
    count local extrema among interior days and compare with the
    i.i.d. expectation E[T] = 2(n−2)/3, Var[T] = (16n−29)/90 — fewer
    turning points than chance = trend/seasonality, more = alternating
    noise. The lag/lead window runs over the per-DAY rollup (calendar-
    bounded axis, the cumulative_distinct_users allowlist class); the
    grand total is a broadcast 1-row aggregate."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w = Window.orderBy("day")
    x = d.select(
        "c",
        F.lag("c").over(w).alias("pc"),
        F.lead("c").over(w).alias("nc"),
    ).filter(F.col("pc").isNotNull() & F.col("nc").isNotNull())
    turning = (
        (F.col("c") > F.col("pc")) & (F.col("c") > F.col("nc"))
    ) | ((F.col("c") < F.col("pc")) & (F.col("c") < F.col("nc")))
    s = x.agg(
        F.sum(F.when(turning, 1).otherwise(0)).cast("long").alias("t_obs")
    )
    nn = d.agg(F.count(F.lit(1)).cast("long").alias("n"))
    t = F.col("t_obs").cast("double")
    n = F.col("n").cast("double")
    return s.crossJoin(F.broadcast(nn)).select(
        F.col("t_obs").alias("n_turning_points"),
        F.col("n").alias("n_days"),
        (
            F.floor(
                (t - 2.0 * (n - 2.0) / 3.0)
                / F.sqrt((16.0 * n - 29.0) / 90.0)
                * 1.0e9
                + 0.5
            )
            / 1.0e9
        ).alias("z_score"),
    )


# ===========================================================================
# Wave D — robust statistics on scale-safe rank machinery + Jaccard
# link prediction.
# ===========================================================================
@_stage(
    "orders_theil_sen_monthly",
    oracle="""
    WITH m AS (
      SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
               AS mi,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    pairs AS (
      SELECT CAST(floor(CAST(b.cents - a.cents AS DOUBLE)
                        / CAST(b.mi - a.mi AS DOUBLE) + 0.5) AS BIGINT)
               AS slope_c,
             a.mi * 100000 + b.mi AS pair_id
      FROM m a JOIN m b ON b.mi > a.mi
    ),
    r AS (
      SELECT slope_c,
             CAST(row_number() OVER (ORDER BY slope_c, pair_id) AS BIGINT)
               AS rk,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM pairs
    )
    SELECT CAST(max(n) AS BIGINT) AS n_pairs,
           CAST(max(CASE WHEN rk = (max_n + 1) // 2 THEN slope_c END)
                AS BIGINT) AS theil_sen_slope_cents
    FROM (SELECT r.*, (SELECT max(n) FROM r) AS max_n FROM r)
    """,
)
def orders_theil_sen_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen slope of monthly revenue (cents/month): the median of
    all pairwise slopes — the robust trend line one outlier month
    cannot drag (OLS breakdown 0 %, Theil–Sen 29 %). The pair set is
    months², bounded by the calendar, but the rank still runs through
    ranked_cumsum_two_pass so the plan shape survives arbitrarily long
    histories; the median is the lower order statistic (documented)
    with per-pair integer slopes."""
    from cioos_siooc_data_transform_spark.operators.windows import (
        ranked_cumsum_two_pass,
    )

    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("long")
        .alias("mi")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long"))
        .cast("long")
        .alias("cents")
    )
    a = m.select(F.col("mi").alias("mi_a"), F.col("cents").alias("c_a"))
    b = m.select(F.col("mi").alias("mi_b"), F.col("cents").alias("c_b"))
    pairs = (
        a.join(b, F.col("mi_b") > F.col("mi_a"))
        .select(
            F.floor(
                (F.col("c_b") - F.col("c_a")).cast("double")
                / (F.col("mi_b") - F.col("mi_a")).cast("double")
                + 0.5
            )
            .cast("long")
            .alias("slope_c"),
            (F.col("mi_a") * 100000 + F.col("mi_b")).alias("pair_id"),
        )
    )
    n = pairs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    ranked = ranked_cumsum_two_pass(
        pairs, "slope_c", "pair_id",
        out_rank="rk", out_cum="__cum_unused", ascending=True,
    ).crossJoin(F.broadcast(n))
    return ranked.agg(
        F.max("n").cast("long").alias("n_pairs"),
        F.max(
            F.when(
                F.col("rk") == F.floor((F.col("n") + 1) / 2),
                F.col("slope_c"),
            )
        )
        .cast("long")
        .alias("theil_sen_slope_cents"),
    )


@_stage(
    "customer_mad_robust_outliers",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    r1 AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents, o_custkey) AS rk,
             count(*) OVER () AS n
      FROM rev
    ),
    med AS (
      SELECT CAST(max(CASE WHEN rk = (n - 1) // 2 + 1 THEN cents END)
                  AS BIGINT) AS med_c
      FROM r1
    ),
    dev AS (
      SELECT rev.o_custkey, abs(rev.cents - med.med_c) AS adev,
             rev.cents, med.med_c
      FROM rev CROSS JOIN med
    ),
    r2 AS (
      SELECT adev, row_number() OVER (ORDER BY adev, o_custkey) AS rk,
             count(*) OVER () AS n
      FROM dev
    ),
    mad AS (
      SELECT CAST(max(CASE WHEN rk = (n - 1) // 2 + 1 THEN adev END)
                  AS BIGINT) AS mad_c
      FROM r2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_customers,
           CAST(max(med.med_c) AS BIGINT) AS median_cents,
           CAST(max(mad.mad_c) AS BIGINT) AS mad_cents,
           CAST(sum(CASE WHEN CAST(abs(dev.cents - dev.med_c) AS DOUBLE)
                          > 3.0e0 * 1.4826e0 * mad.mad_c
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev CROSS JOIN mad CROSS JOIN med
    """,
)
def customer_mad_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAD-based robust outlier census over customer revenue: median
    and median-absolute-deviation via TWO ranked_cumsum_two_pass
    passes (never a single-partition sort of the customer rollup),
    then the 3·1.4826·MAD fence — the robust twin of the z-score
    outlier queries (mean/std break down under the very outliers being
    hunted). Exact integer cents end to end; lower-median convention
    (n−1)//2 + 1 on both engines."""
    from cioos_siooc_data_transform_spark.operators.windows import (
        ranked_cumsum_two_pass,
    )

    o = _t(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long"))
        .cast("long")
        .alias("cents")
    )
    n = rev.agg(F.count(F.lit(1)).cast("long").alias("n"))
    r1 = ranked_cumsum_two_pass(
        rev, "cents", "o_custkey",
        out_rank="rk", out_cum="__c1", ascending=True,
    ).crossJoin(F.broadcast(n))
    med = r1.agg(
        F.max(
            F.when(
                F.col("rk") == F.floor((F.col("n") - 1) / 2) + 1,
                F.col("cents"),
            )
        )
        .cast("long")
        .alias("med_c")
    )
    dev = rev.crossJoin(F.broadcast(med)).select(
        "o_custkey",
        "cents",
        "med_c",
        F.abs(F.col("cents") - F.col("med_c")).alias("adev"),
    )
    r2 = ranked_cumsum_two_pass(
        dev, "adev", "o_custkey",
        out_rank="rk2", out_cum="__c2", ascending=True,
    ).crossJoin(F.broadcast(n))
    mad = r2.agg(
        F.max(
            F.when(
                F.col("rk2") == F.floor((F.col("n") - 1) / 2) + 1,
                F.col("adev"),
            )
        )
        .cast("long")
        .alias("mad_c")
    )
    out = F.when(
        F.abs(F.col("cents") - F.col("med_c")).cast("double")
        > 3.0 * 1.4826 * F.col("mad_c"),
        1,
    ).otherwise(0)
    return (
        dev.crossJoin(F.broadcast(mad))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.max("med_c").cast("long").alias("median_cents"),
            F.max("mad_c").cast("long").alias("mad_cents"),
            F.sum(out).cast("long").alias("n_outliers"),
        )
    )


@_stage(
    "part_brand_price_kruskal",
    oracle="""
    WITH x AS (
      SELECT p_brand AS grp,
             CAST(floor(p_retailprice * 100.0 + 0.5) AS BIGINT) AS v
      FROM part
    ),
    joint AS (
      SELECT grp, v, CAST(count(*) AS BIGINT) AS c FROM x GROUP BY 1, 2
    ),
    marg AS (SELECT v, CAST(sum(c) AS BIGINT) AS cv FROM joint GROUP BY 1),
    r AS (
      SELECT v, cv,
             2 * (sum(cv) OVER (ORDER BY v) - cv) + cv + 1 AS rank2
      FROM marg
    ),
    per_g AS (
      SELECT joint.grp,
             CAST(sum(joint.c) AS BIGINT) AS n_g,
             CAST(sum(CAST(joint.c AS HUGEINT) * CAST(r.rank2 AS HUGEINT))
                  AS HUGEINT) AS r2_g
      FROM joint JOIN r ON r.v = joint.v
      GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(n_g) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS k
      FROM per_g
    ),
    ties AS (
      SELECT CAST(sum(CAST(cv AS HUGEINT)*cv*cv - cv) AS HUGEINT) AS t3t
      FROM marg
    ),
    h AS (
      SELECT tot.n, tot.k,
             (12.0e0 / (CAST(tot.n AS DOUBLE) * (tot.n + 1.0e0))
              * (SELECT sum(CAST(r2_g AS DOUBLE) * r2_g
                            / (4.0e0 * CAST(n_g AS DOUBLE))) FROM per_g)
              - 3.0e0 * (tot.n + 1.0e0)) AS h_raw,
             (1.0e0 - CAST(ties.t3t AS DOUBLE)
              / (CAST(tot.n AS DOUBLE)*tot.n*tot.n - tot.n)) AS c_tie
      FROM tot, ties
    )
    SELECT k AS n_groups, n AS n_parts,
           floor(h_raw / c_tie * 1.0e6 + 0.5) / 1.0e6 AS h_statistic
    FROM h
    """,
)
def part_brand_price_kruskal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis H across part brands on retail price — the
    k-group rank ANOVA (distribution-free; the Mann–Whitney machinery
    generalized). Midranks are exact 2×-integers from the distinct-
    value marginal, whose cumulative counts run through
    ranked_cumsum_two_pass (no single-partition window even when the
    value domain grows); rank sums per group are exact HUGEINT/decimal
    products over the joint (group, value) cells; the tie-corrected
    H = H_raw/C finishes in one rounded division. R_g enters as
    (2R)²/4 to stay in integers."""
    from cioos_siooc_data_transform_spark.operators.windows import (
        ranked_cumsum_two_pass,
    )

    p = _t(spark, sf_dir, "part")
    x = p.select(
        F.col("p_brand").alias("grp"),
        F.floor(F.col("p_retailprice") * 100.0 + 0.5).cast("long").alias("v"),
    )
    joint = x.groupBy("grp", "v").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    marg = joint.groupBy("v").agg(F.sum("c").cast("long").alias("cv"))
    r = ranked_cumsum_two_pass(
        marg, "v", "v", weight_col="cv",
        out_rank="__rk_unused", out_cum="__cum_cv", ascending=True,
    ).select(
        "v",
        (2 * (F.col("__cum_cv") - F.col("cv")) + F.col("cv") + 1).alias(
            "rank2"
        ),
    )
    per_g = (
        joint.join(r, "v")
        .groupBy("grp")
        .agg(
            F.sum("c").cast("long").alias("n_g"),
            F.sum(
                F.col("c").cast("decimal(19,0)")
                * F.col("rank2").cast("decimal(19,0)")
            )
            .cast("decimal(38,0)")
            .alias("r2_g"),
        )
    )
    tot = per_g.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    ties = marg.agg(
        F.sum(
            F.col("cv").cast("decimal(19,0)")
            * F.col("cv").cast("decimal(19,0)")
            * F.col("cv").cast("decimal(19,0)")
            - F.col("cv").cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("t3t")
    )
    sum_term = per_g.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.col("r2_g").cast("double")
            * F.col("r2_g").cast("double")
            / (4.0 * F.col("n_g").cast("double"))
        ).alias("s"),
        F.max("n").alias("n"),
        F.max("k").alias("k"),
    )
    nd = F.col("n").cast("double")
    h_raw = 12.0 / (nd * (nd + 1.0)) * F.col("s") - 3.0 * (nd + 1.0)
    c_tie = 1.0 - F.col("t3t").cast("double") / (nd * nd * nd - nd)
    return sum_term.crossJoin(F.broadcast(ties)).select(
        F.col("k").alias("n_groups"),
        F.col("n").alias("n_parts"),
        (F.floor(h_raw / c_tie * 1.0e6 + 0.5) / 1.0e6).alias("h_statistic"),
    )


@_stage(
    "graph_jaccard_linkpred",
    oracle="""
    WITH e AS (
      SELECT pa AS a, pb AS b FROM (
        SELECT x.l_partkey AS pa, y.l_partkey AS pb,
               count(*) AS support
        FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) x
        JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) y
          ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        GROUP BY 1, 2
      ) WHERE support >= 2
),
    adj AS (
      SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e
    ),
    deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY 1),
    wedge AS (
      SELECT x.u AS a, y.v AS c, CAST(count(*) AS BIGINT) AS common_n
      FROM adj x JOIN adj y ON x.v = y.u AND x.u < y.v
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT w.a, w.c, w.common_n FROM wedge w
      ANTI JOIN e ON w.a = e.a AND w.c = e.b
    ),
    scored AS (
      SELECT cand.a, cand.c, cand.common_n,
             CAST(floor(CAST(cand.common_n AS DOUBLE)
                        / CAST(da.deg + dc.deg - cand.common_n AS DOUBLE)
                        * 1.0e6 + 0.5) AS BIGINT) AS jaccard_micro
      FROM cand JOIN deg da ON da.u = cand.a JOIN deg dc ON dc.u = cand.c
    )
    SELECT a, c, common_n, jaccard_micro FROM scored
    ORDER BY jaccard_micro DESC, a, c LIMIT 20
""",
)
def graph_jaccard_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-coefficient link prediction on the co-purchase graph:
    for unlinked pairs, |N(a)∩N(b)| / |N(a)∪N(b)| — common-neighbors
    normalized by degree so hubs stop dominating the candidate list
    (the r8 common-neighbors query's documented blind spot). Wedge
    join for the intersection, broadcast degree table for the union;
    top-20 via TakeOrdered on the micro-quantized score with a
    deterministic (a, c) tiebreak."""
    from cioos_siooc_data_transform_spark.plans.staged_r8 import (
        _copurchase_edges,
    )

    e = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    adj = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    x = adj.select(F.col("u").alias("a"), F.col("v").alias("mid"))
    y = adj.select(F.col("u").alias("mid2"), F.col("v").alias("c"))
    wedge = (
        x.join(y, x.mid == y.mid2)
        .filter(F.col("a") < F.col("c"))
        .groupBy("a", "c")
        .agg(F.count(F.lit(1)).cast("long").alias("common_n"))
    )
    cand = wedge.join(e, (wedge.a == e.a) & (wedge.c == e.b), "left_anti")
    da = deg.select(F.col("u").alias("a"), F.col("deg").alias("deg_a"))
    dc = deg.select(F.col("u").alias("c"), F.col("deg").alias("deg_c"))
    scored = (
        cand.join(F.broadcast(da), "a")
        .join(F.broadcast(dc), "c")
        .select(
            "a",
            "c",
            "common_n",
            F.floor(
                F.col("common_n").cast("double")
                / (F.col("deg_a") + F.col("deg_c") - F.col("common_n")).cast(
                    "double"
                )
                * 1.0e6
                + 0.5
            )
            .cast("long")
            .alias("jaccard_micro"),
        )
    )
    return scored.orderBy(
        F.col("jaccard_micro").desc(), F.col("a"), F.col("c")
    ).limit(20)


# ===========================================================================
# Wave E — spectral/information/distribution diagnostics.
# ===========================================================================
_PI_LIT = "3.141592653589793e0"


@_stage(
    "events_spectral_entropy",
    oracle=f"""
    WITH d AS (
      SELECT date_trunc('day', ts) AS day, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ),
    t AS (
      SELECT CAST(date_diff('day', mn.d0, d.day) AS BIGINT) AS ti, d.c,
             CAST(nd.n AS BIGINT) AS n
      FROM d
      CROSS JOIN (SELECT min(day) AS d0 FROM d) mn
      CROSS JOIN (SELECT CAST(max(date_diff('day',
                        (SELECT min(day) FROM d), day)) + 1 AS BIGINT) AS n
                  FROM d) nd
    ),
    ks AS (SELECT unnest(range(1, 9)) AS k),
    terms AS (
      SELECT ks.k,
             CAST(floor(t.c * cos(2.0e0*{_PI_LIT}*ks.k*t.ti
                                  / CAST(t.n AS DOUBLE)) * 1.0e6 + 0.5)
                  AS HUGEINT) AS aq,
             CAST(floor(t.c * sin(2.0e0*{_PI_LIT}*ks.k*t.ti
                                  / CAST(t.n AS DOUBLE)) * 1.0e6 + 0.5)
                  AS HUGEINT) AS bq
      FROM t CROSS JOIN ks
    ),
    power AS (
      SELECT k,
             CAST(sum(aq) AS DOUBLE)/1.0e6 AS a,
             CAST(sum(bq) AS DOUBLE)/1.0e6 AS b
      FROM terms GROUP BY k
    ),
    p AS (
      SELECT k, a*a + b*b AS pk,
             sum(a*a + b*b) OVER () AS tot
      FROM power
    )
    SELECT CAST(count(*) AS BIGINT) AS n_bins,
           floor(sum(CASE WHEN pk > 0.0e0
                          THEN pk/tot * ln(tot/pk) ELSE 0.0e0 END)
                 / ln(8.0e0) * 1.0e6 + 0.5) / 1.0e6
             AS spectral_entropy_norm
    FROM p
    """,
)
def events_spectral_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized spectral entropy of the daily volume series over the
    first 8 DFT bins — near 1 means flat/noisy (no dominant cycle),
    near 0 means one frequency carries the energy (strong weekly or
    monthly periodicity; the scalar complement of the per-bin
    periodogram query). Each cos/sin term is micro-quantized BEFORE
    the per-bin sum (order-independence over partitions); the 8-bin
    entropy finisher runs on a bounded table."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    mn = d.agg(F.min("day").alias("d0"))
    t0 = d.crossJoin(F.broadcast(mn)).select(
        F.datediff("day", "d0").cast("long").alias("ti"), "c"
    )
    nd = t0.agg((F.max("ti") + 1).cast("long").alias("n"))
    t = t0.crossJoin(F.broadcast(nd))
    ks = ev.sparkSession.range(1, 9).select(F.col("id").alias("k"))
    ang = (
        2.0 * float(3.141592653589793)
        * F.col("k")
        * F.col("ti")
        / F.col("n").cast("double")
    )
    terms = t.crossJoin(F.broadcast(ks)).select(
        "k",
        F.floor(F.col("c") * F.cos(ang) * 1.0e6 + 0.5)
        .cast("decimal(38,0)")
        .alias("aq"),
        F.floor(F.col("c") * F.sin(ang) * 1.0e6 + 0.5)
        .cast("decimal(38,0)")
        .alias("bq"),
    )
    power = terms.groupBy("k").agg(
        (F.sum("aq").cast("double") / 1.0e6).alias("a"),
        (F.sum("bq").cast("double") / 1.0e6).alias("b"),
    )
    pk = (F.col("a") * F.col("a") + F.col("b") * F.col("b")).alias("pk")
    p = power.select(pk)
    tot = p.agg(F.sum("pk").alias("tot"))
    j = p.crossJoin(F.broadcast(tot))
    ent_term = F.when(
        F.col("pk") > 0.0,
        F.col("pk") / F.col("tot") * F.log(F.col("tot") / F.col("pk")),
    ).otherwise(0.0)
    import math

    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        (
            F.floor(F.sum(ent_term) / math.log(8.0) * 1.0e6 + 0.5) / 1.0e6
        ).alias("spectral_entropy_norm"),
    )


@_stage(
    "lineitem_qty_discount_mutual_info",
    oracle="""
    WITH cell AS (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT) AS y,
             CAST(count(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1, 2
    ),
    mx AS (SELECT x, CAST(sum(c) AS BIGINT) AS cx FROM cell GROUP BY 1),
    my AS (SELECT y, CAST(sum(c) AS BIGINT) AS cy FROM cell GROUP BY 1),
    n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cell),
    terms AS (
      SELECT CAST(floor(CAST(cell.c AS DOUBLE) / n.n
                        * ln(CAST(cell.c AS DOUBLE) * n.n
                             / (CAST(mx.cx AS DOUBLE) * my.cy))
                        * 1.0e12 + 0.5) AS HUGEINT) AS miq
      FROM cell JOIN mx USING (x) JOIN my USING (y) CROSS JOIN n
    )
    SELECT (SELECT n FROM n) AS n_lines,
           floor(CAST(sum(miq) AS DOUBLE) / 1.0e6 + 0.5) / 1.0e6
             AS mutual_info_nats
    FROM terms
    """,
)
def lineitem_qty_discount_mutual_info(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mutual information between quantity and discount — the
    dependence screen that catches ANY association (Pearson/Spearman
    only see monotone ones; pricing rules often tie discount to
    quantity BANDS). Joint and marginal cells are exact integer
    counts over a bounded (50 x 11) grid; each MI term pico-quantizes
    before the sum (order-independence invariant)."""
    li = _t(spark, sf_dir, "lineitem")
    cell = li.groupBy(
        F.col("l_quantity").cast("long").alias("x"),
        F.floor(F.col("l_discount") * 100.0 + 0.5).cast("long").alias("y"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    mx = cell.groupBy("x").agg(F.sum("c").cast("long").alias("cx"))
    my = cell.groupBy("y").agg(F.sum("c").cast("long").alias("cy"))
    n = cell.agg(F.sum("c").cast("long").alias("n"))
    j = (
        cell.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(n))
    )
    term = F.floor(
        F.col("c").cast("double")
        / F.col("n")
        * F.log(
            F.col("c").cast("double")
            * F.col("n")
            / (F.col("cx").cast("double") * F.col("cy"))
        )
        * 1.0e12
        + 0.5
    ).cast("decimal(38,0)")
    return j.agg(
        F.max("n").cast("long").alias("n_lines"),
        (
            F.floor(F.sum(term).cast("double") / 1.0e6 + 0.5) / 1.0e6
        ).alias("mutual_info_nats"),
    )


@_stage(
    "embedding_dim_kurtosis",
    oracle="""
    WITH x AS (
      SELECT u.dim, CAST(u.q AS HUGEINT) AS q
      FROM (
        SELECT unnest(range(1, 65)) AS dim,
               unnest(list_transform(CAST(embedding AS DOUBLE[]),
                      v -> CAST(floor(v * 1.0e6 + 0.5) AS BIGINT))) AS q
        FROM embeddings
      ) u
    ),
    s AS (
      SELECT dim, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(q) AS HUGEINT) AS s1,
             CAST(sum(q*q) AS HUGEINT) AS s2,
             CAST(sum(q*q*q) AS HUGEINT) AS s3,
             CAST(sum(q*q*q*q) AS HUGEINT) AS s4
      FROM x GROUP BY 1
    ),
    mom AS (
      SELECT dim, n,
             CAST(s1 AS DOUBLE)/n AS m,
             CAST(s2 AS DOUBLE)/n AS r2,
             CAST(s3 AS DOUBLE)/n AS r3,
             CAST(s4 AS DOUBLE)/n AS r4
      FROM s
    )
    SELECT CAST(dim AS BIGINT) AS dim, n AS n_vectors,
           floor((r2 - m*m) / 1.0e6 + 0.5) / 1.0e6 AS variance,
           floor(((r4 - 4.0e0*m*r3 + 6.0e0*m*m*r2 - 3.0e0*m*m*m*m)
                  / ((r2 - m*m)*(r2 - m*m)) - 3.0e0) * 1.0e6 + 0.5) / 1.0e6
             AS excess_kurtosis
    FROM mom
    """,
)
def embedding_dim_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension excess kurtosis of the embedding cloud — the
    heavy-tail audit (a dimension with kurtosis >> 0 carries spiky
    activations that int8 quantization clips hardest; the variance
    audit alone misses it). All four raw moments are exact integer
    sums of micro-quantized components (q^4 <= 1e24 per row, inside
    decimal(38)); central moments finish in double per dim."""
    emb = _t(spark, sf_dir, "embeddings")
    x = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("d", "v")
    ).select(
        (F.col("d") + 1).cast("long").alias("dim"),
        F.floor(F.col("v") * 1.0e6 + 0.5).cast("decimal(19,0)").alias("q"),
    )
    q = F.col("q")
    s = x.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(q).cast("decimal(38,0)").alias("s1"),
        F.sum(q * q).cast("decimal(38,0)").alias("s2"),
        F.sum(q * q * q).cast("decimal(38,0)").alias("s3"),
        F.sum(q * q * q * q).cast("decimal(38,0)").alias("s4"),
    )
    nd = F.col("n").cast("double")
    m = F.col("s1").cast("double") / nd
    r2 = F.col("s2").cast("double") / nd
    r3 = F.col("s3").cast("double") / nd
    r4 = F.col("s4").cast("double") / nd
    var = r2 - m * m
    kurt = (r4 - 4.0 * m * r3 + 6.0 * m * m * r2 - 3.0 * m * m * m * m) / (
        var * var
    ) - 3.0
    return s.select(
        "dim",
        F.col("n").alias("n_vectors"),
        (F.floor(var / 1.0e6 + 0.5) / 1.0e6).alias("variance"),
        (F.floor(kurt * 1.0e6 + 0.5) / 1.0e6).alias("excess_kurtosis"),
    )


@_stage(
    "doc_length_lognormal_ks",
    oracle="""
    WITH lx AS (
      SELECT CAST(floor(ln(CAST(n_chars AS DOUBLE)) * 1.0e6 + 0.5) AS BIGINT)
               AS q
      FROM documents WHERE n_chars > 0
    ),
    hist AS (SELECT q, CAST(count(*) AS BIGINT) AS c FROM lx GROUP BY 1),
    mom AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(CAST(q AS HUGEINT) * c) AS HUGEINT) AS s1,
             CAST(sum(CAST(q AS HUGEINT) * q * c) AS HUGEINT) AS s2
      FROM hist
    ),
    r AS (
      SELECT q, c,
             CAST(sum(c) OVER (ORDER BY q ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum
      FROM hist
    ),
    z AS (
      SELECT r.q, r.c, r.cum, mom.n,
             CAST(mom.s1 AS DOUBLE)/mom.n/1.0e6 AS m,
             sqrt(CAST(mom.s2 AS DOUBLE)/mom.n
                  - (CAST(mom.s1 AS DOUBLE)/mom.n)
                    *(CAST(mom.s1 AS DOUBLE)/mom.n))/1.0e6 AS sd
      FROM r CROSS JOIN mom
    ),
    ph AS (
      SELECT z.*,
             (CAST(q AS DOUBLE)/1.0e6 - m)/sd AS zz
      FROM z
    ),
    phi AS (
      SELECT ph.*,
             CASE WHEN zz >= 0.0e0
                  THEN 0.5e0*(1.0e0 + (1.0e0 - (1.0e0/(1.0e0 + 0.3275911e0*((zz*0.7071067811865476e0))))*(0.254829592e0 + (1.0e0/(1.0e0 + 0.3275911e0*((zz*0.7071067811865476e0))))*(-0.284496736e0 + (1.0e0/(1.0e0 + 0.3275911e0*((zz*0.7071067811865476e0))))*(1.421413741e0 + (1.0e0/(1.0e0 + 0.3275911e0*((zz*0.7071067811865476e0))))*(-1.453152027e0 + (1.0e0/(1.0e0 + 0.3275911e0*((zz*0.7071067811865476e0))))*1.061405429e0))))*exp(-((zz*0.7071067811865476e0))*((zz*0.7071067811865476e0)))))
                  ELSE 0.5e0*(1.0e0 - (1.0e0 - (1.0e0/(1.0e0 + 0.3275911e0*((-zz*0.7071067811865476e0))))*(0.254829592e0 + (1.0e0/(1.0e0 + 0.3275911e0*((-zz*0.7071067811865476e0))))*(-0.284496736e0 + (1.0e0/(1.0e0 + 0.3275911e0*((-zz*0.7071067811865476e0))))*(1.421413741e0 + (1.0e0/(1.0e0 + 0.3275911e0*((-zz*0.7071067811865476e0))))*(-1.453152027e0 + (1.0e0/(1.0e0 + 0.3275911e0*((-zz*0.7071067811865476e0))))*1.061405429e0))))*exp(-((-zz*0.7071067811865476e0))*((-zz*0.7071067811865476e0)))))
             END AS p
      FROM ph
    )
    SELECT CAST(max(n) AS BIGINT) AS n_docs,
           floor(max(m) * 1.0e6 + 0.5) / 1.0e6 AS mu_ln,
           floor(max(sd) * 1.0e6 + 0.5) / 1.0e6 AS sigma_ln,
           CAST(max(CAST(floor(greatest(
             abs(CAST(cum AS DOUBLE)/n - p),
             abs(p - CAST(cum - c AS DOUBLE)/n)) * 1.0e9 + 0.5) AS BIGINT))
             AS DOUBLE) / 1.0e9 AS ks_d
    FROM phi
""",
)
def doc_length_lognormal_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov–Smirnov distance between log document length and the
    moment-fitted normal — the goodness-of-fit number behind the
    'doc lengths are lognormal' modeling assumption packing/quality
    heuristics rely on. ln(n_chars) micro-quantizes per row; (mu,
    sigma) come from exact integer sums; the ECDF at each distinct
    quantized value comes from ranked_cumsum_two_pass over the value
    histogram (inclusive and exclusive steps — KS needs both sides of
    the jump), so no single-partition sort at any corpus size; Phi is
    the shared A&S erf tree. D quantizes per value before the final
    max (max is order-insensitive; the floor just fixes the emitted
    grid)."""
    from cioos_siooc_data_transform_spark.functions.stats import erf_as_sql
    from cioos_siooc_data_transform_spark.operators.windows import (
        ranked_cumsum_two_pass,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    lx = docs.select(
        F.floor(F.log(F.col("n_chars").cast("double")) * 1.0e6 + 0.5)
        .cast("long")
        .alias("q")
    )
    hist = lx.groupBy("q").agg(F.count(F.lit(1)).cast("long").alias("c"))
    mom = hist.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("q").cast("decimal(19,0)") * F.col("c").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("s1"),
        F.sum(
            F.col("q").cast("decimal(19,0)")
            * F.col("q").cast("decimal(19,0)")
            * F.col("c").cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    r = ranked_cumsum_two_pass(
        hist, "q", "q", weight_col="c",
        out_rank="__rk_unused", out_cum="cum", ascending=True,
    ).crossJoin(F.broadcast(mom))
    nd = F.col("n").cast("double")
    m = F.col("s1").cast("double") / nd / 1.0e6
    sd = F.sqrt(
        (F.col("s2").cast("double") / nd - (F.col("s1").cast("double") / nd) ** 2)
    ) / 1.0e6
    z = (F.col("q").cast("double") / 1.0e6 - m) / sd
    phi = F.expr(
        f"CASE WHEN __ks_z >= 0.0e0 THEN 0.5e0*(1.0e0 + {erf_as_sql('(__ks_z*0.7071067811865476e0)')})"
        f" ELSE 0.5e0*(1.0e0 - {erf_as_sql('(-__ks_z*0.7071067811865476e0)')}) END"
    )
    stepped = r.withColumn("__ks_z", z).withColumn("__ks_phi", phi)
    d_hi = F.abs(F.col("cum").cast("double") / nd - F.col("__ks_phi"))
    d_lo = F.abs(
        F.col("__ks_phi") - (F.col("cum") - F.col("c")).cast("double") / nd
    )
    dq = F.floor(F.greatest(d_hi, d_lo) * 1.0e9 + 0.5).cast("long")
    return stepped.agg(
        F.max("n").cast("long").alias("n_docs"),
        (F.floor(F.max(m) * 1.0e6 + 0.5) / 1.0e6).alias("mu_ln"),
        (F.floor(F.max(sd) * 1.0e6 + 0.5) / 1.0e6).alias("sigma_ln"),
        (F.max(dq).cast("double") / 1.0e9).alias("ks_d"),
    )


# ===========================================================================
# Wave F — session/grouped-quantile/QQ/dedup-histogram/packing audits.
# ===========================================================================
@_stage(
    "events_session_length_powerlaw",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, epoch(ts) AS es FROM events
    ), flagged AS (
      SELECT user_id, es, event_id,
             CASE WHEN es - lag(es) OVER w > 1800.0 OR lag(es) OVER w IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)
    ), numbered AS (
      SELECT user_id,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY es, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    ), slen AS (
      SELECT user_id, sid, CAST(count(*) AS BIGINT) AS len
      FROM numbered GROUP BY 1, 2
    ), hist AS (
      SELECT len, CAST(count(*) AS BIGINT) AS c FROM slen GROUP BY 1
    ), pts AS (
      SELECT CAST(floor(ln(CAST(len AS DOUBLE)) * 1.0e6 + 0.5) AS HUGEINT)
               AS x,
             CAST(floor(ln(CAST(c AS DOUBLE)) * 1.0e6 + 0.5) AS HUGEINT)
               AS y
      FROM hist
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x*x) AS sxx, sum(x*y) AS sxy
      FROM pts
    )
    SELECT n AS n_length_levels,
           floor((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
                 / NULLIF(CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE), 0.0)
                 * 1.0e6 + 0.5) / 1.0e6 AS loglog_slope
    FROM s
    """,
)
def events_session_length_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law slope of the session-length distribution: sessionize
    by 30-min inactivity (the registered sessionize_gap logic), count
    events per session, histogram the lengths, and fit the log-log OLS
    slope over (ln length, ln count) — heavy-tailed session lengths
    (slope shallow) say a mean-based session metric misleads. Per-user
    windows only; the histogram is bounded by the max session length;
    log points micro-quantize before the exact OLS sums (the
    zipf-slope idiom)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", F.col("ts").cast("double").alias("es")
    )
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    flagged = ev.withColumn(
        "is_new",
        F.when(
            (F.col("es") - F.lag("es").over(w) > 1800.0)
            | F.lag("es").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = flagged.select(
        "user_id", F.sum("is_new").over(cum).alias("sid")
    )
    slen = sess.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).cast("long").alias("len")
    )
    hist = slen.groupBy("len").agg(F.count(F.lit(1)).cast("long").alias("c"))
    pts = hist.select(
        F.floor(F.log(F.col("len").cast("double")) * 1.0e6 + 0.5)
        .cast("decimal(19,0)")
        .alias("x"),
        F.floor(F.log(F.col("c").cast("double")) * 1.0e6 + 0.5)
        .cast("decimal(19,0)")
        .alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    slope = (
        nd * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / F.nullif(
        nd * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double"),
        F.lit(0.0),
    )
    return s.select(
        F.col("n").alias("n_length_levels"),
        (F.floor(slope * 1.0e6 + 0.5) / 1.0e6).alias("loglog_slope"),
    )


@_stage(
    "supplier_balance_quartiles_by_nation",
    oracle="""
    WITH s AS (
      SELECT s_nationkey AS nk,
             CAST(floor(s_acctbal * 100.0 + 0.5) AS BIGINT) AS cents,
             s_suppkey
      FROM supplier
    ),
    r AS (
      SELECT nk, cents,
             row_number() OVER (PARTITION BY nk
                                ORDER BY cents, s_suppkey) AS rk,
             count(*) OVER (PARTITION BY nk) AS n
      FROM s
    )
    SELECT CAST(nk AS BIGINT) AS nation_key,
           CAST(max(n) AS BIGINT) AS n_suppliers,
           CAST(max(CASE WHEN rk = (n - 1) // 4 + 1 THEN cents END)
                AS BIGINT) AS q1_cents,
           CAST(max(CASE WHEN rk = (n - 1) // 2 + 1 THEN cents END)
                AS BIGINT) AS median_cents,
           CAST(max(CASE WHEN rk = ((n - 1) * 3) // 4 + 1 THEN cents END)
                AS BIGINT) AS q3_cents
    FROM r GROUP BY nk
    """,
)
def supplier_balance_quartiles_by_nation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact per-nation balance quartiles via the GROUPED form of
    ranked_cumsum_two_pass (group_cols=['nk']) — the shape a plain
    grouped window cannot survive when one nation holds most suppliers
    (the hot group splits across ~512 range-bucket windows instead of
    one task). Discrete lower order statistics, exact cents."""
    from cioos_siooc_data_transform_spark.operators.windows import (
        ranked_cumsum_two_pass,
    )

    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nk"),
        F.floor(F.col("s_acctbal") * 100.0 + 0.5).cast("long").alias("cents"),
        "s_suppkey",
    )
    n = s.groupBy("nk").agg(F.count(F.lit(1)).cast("long").alias("n"))
    r = ranked_cumsum_two_pass(
        s, "cents", "s_suppkey",
        out_rank="rk", out_cum="__cum_unused",
        group_cols=["nk"], ascending=True,
    ).join(F.broadcast(n), "nk")
    pick = lambda idx: F.max(  # noqa: E731
        F.when(F.col("rk") == idx, F.col("cents"))
    ).cast("long")
    return r.groupBy(F.col("nk").cast("long").alias("nation_key")).agg(
        F.max("n").cast("long").alias("n_suppliers"),
        pick(F.floor((F.col("n") - 1) / 4) + 1).alias("q1_cents"),
        pick(F.floor((F.col("n") - 1) / 2) + 1).alias("median_cents"),
        pick(F.floor((F.col("n") - 1) * 3 / 4) + 1).alias("q3_cents"),
    )


@_stage(
    "orders_interarrival_exponential_qq",
    oracle="""
    WITH g AS (
      SELECT CAST(date_diff('day',
                  lag(o_orderdate) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey),
                  o_orderdate) AS BIGINT) AS gap_d
      FROM orders
    ),
    hist AS (
      SELECT gap_d, CAST(count(*) AS BIGINT) AS c
      FROM g WHERE gap_d IS NOT NULL AND gap_d > 0 GROUP BY 1
    ),
    cum AS (
      SELECT gap_d, c,
             CAST(sum(c) OVER (ORDER BY gap_d ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cumn
      FROM hist
    ),
    tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(CAST(gap_d AS HUGEINT) * c) AS HUGEINT) AS sg
      FROM hist
    ),
    ps AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7, 8, 9]) AS d),
    emp AS (
      SELECT ps.d,
             CAST(min(CASE WHEN cum.cumn >= CAST(ceil(ps.d * 0.1e0 * tot.n)
                                                 AS BIGINT)
                           THEN cum.gap_d END) AS BIGINT) AS emp_days
      FROM ps CROSS JOIN tot CROSS JOIN cum
      GROUP BY ps.d
    )
    SELECT CAST(emp.d AS BIGINT) AS decile,
           emp.emp_days,
           floor(-ln(1.0e0 - emp.d * 0.1e0)
                 * (CAST(tot.sg AS DOUBLE) / tot.n) * 1.0e6 + 0.5) / 1.0e6
             AS exp_days,
           floor(CAST(emp.emp_days AS DOUBLE)
                 / (-ln(1.0e0 - emp.d * 0.1e0)
                    * (CAST(tot.sg AS DOUBLE) / tot.n)) * 1.0e6 + 0.5)
             / 1.0e6 AS qq_ratio
    FROM emp CROSS JOIN tot
    """,
)
def orders_interarrival_exponential_qq(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """QQ audit of customer inter-order gaps against the fitted
    exponential: empirical deciles (lowest value whose cumulative
    count reaches ceil(p·n) — from ranked_cumsum_two_pass over the
    gap-day histogram, no single-partition sort) vs −ln(1−p)/λ̂ with
    λ̂ = 1/mean from exact integer sums. A qq_ratio drifting above 1
    in the upper deciles is the heavy-tail signature that invalidates
    memoryless churn models."""
    from cioos_siooc_data_transform_spark.operators.windows import (
        ranked_cumsum_two_pass,
    )

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = o.select(
        F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w))
        .cast("long")
        .alias("gap_d")
    ).filter(F.col("gap_d").isNotNull() & (F.col("gap_d") > 0))
    hist = g.groupBy("gap_d").agg(F.count(F.lit(1)).cast("long").alias("c"))
    cum = ranked_cumsum_two_pass(
        hist, "gap_d", "gap_d", weight_col="c",
        out_rank="__rk_unused", out_cum="cumn", ascending=True,
    )
    tot = hist.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("gap_d").cast("decimal(19,0)") * F.col("c").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("sg"),
    )
    ps = o.sparkSession.range(1, 10).select(F.col("id").alias("d"))
    j = cum.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(ps))
    target = F.ceil(F.col("d") * 0.1 * F.col("n")).cast("long")
    emp = j.groupBy("d").agg(
        F.min(F.when(F.col("cumn") >= target, F.col("gap_d")))
        .cast("long")
        .alias("emp_days"),
        F.max(F.col("sg").cast("double") / F.col("n")).alias("mean_gap"),
    )
    theo = -F.log(1.0 - F.col("d") * 0.1) * F.col("mean_gap")
    return emp.select(
        F.col("d").cast("long").alias("decile"),
        "emp_days",
        (F.floor(theo * 1.0e6 + 0.5) / 1.0e6).alias("exp_days"),
        (
            F.floor(F.col("emp_days").cast("double") / theo * 1.0e6 + 0.5)
            / 1.0e6
        ).alias("qq_ratio"),
    )


@_stage(
    "dedup_pair_jaccard_histogram",
    oracle="""
    WITH 
    w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, greatest(len(words) - 2, 0)),
                      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS s
        FROM w
      )
    )
,
    df AS (SELECT s, count(*) AS c FROM sh GROUP BY s),
    f AS (SELECT sh.doc_id, sh.s FROM sh JOIN df USING (s) WHERE df.c <= 10),
    sizes AS (SELECT doc_id, count(*) AS n FROM f GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM f a JOIN f b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jac AS (
      SELECT round(n_common / (sa.n + sb.n - n_common), 6) AS jac
      FROM common
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
    )
    SELECT CAST(floor(jac * 10.0) AS BIGINT) AS jaccard_band,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM jac GROUP BY 1
""",
)
def dedup_pair_jaccard_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of exact 3-gram Jaccard over ALL candidate pairs
    from the capped inverted index (bands of 0.1) — the threshold-
    tuning curve for the near-dup pipeline: where the mass sits tells
    you what a 0.5 vs 0.8 cutoff would keep. Same hot-shingle DF cap
    as the registered dedup_ngram_jaccard (a DF-k shingle costs k²/2
    join rows and carries no signal), so the pair set is bounded."""
    from cioos_siooc_data_transform_spark.operators.dedup import (
        word_shingles,
        words_expr,
    )

    docs = _t(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(word_shingles(words_expr(F.col("text")), 3))
        ).alias("s"),
    )
    df_cap = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= 10
    )
    f = sh.join(df_cap, "s")
    sizes = f.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = f.select(F.col("doc_id").alias("doc_a"), "s")
    b = f.select(F.col("doc_id").alias("doc_b"), "s")
    common = (
        a.join(b, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    j = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.round(
                F.col("n_common")
                / (F.col("na") + F.col("nb") - F.col("n_common")),
                6,
            ).alias("jac")
        )
    )
    return j.groupBy(
        F.floor(F.col("jac") * 10.0).cast("long").alias("jaccard_band")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))


@_stage(
    "chunk_boundary_word_audit",
    oracle="""
    WITH d AS (
      SELECT doc_id, source, text, CAST(n_chars AS BIGINT) AS len
      FROM documents WHERE n_chars > 2048
    ),
    b AS (
      SELECT source,
             substr(text, k * 2048, 1) AS before_c,
             substr(text, k * 2048 + 1, 1) AS after_c
      FROM d,
           LATERAL (SELECT unnest(generate_series(1,
                      CAST((len - 1) // 2048 AS BIGINT))) AS k)
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_boundaries,
           CAST(sum(CASE WHEN before_c <> ' ' AND after_c <> ' '
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_midword,
           floor(sum(CASE WHEN before_c <> ' ' AND after_c <> ' '
                     THEN 1 ELSE 0 END) * 1.0e6 / count(*) + 0.5) / 1.0e6
             AS midword_fraction
    FROM b GROUP BY source
    """,
)
def chunk_boundary_word_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How often a fixed 2048-char chunk boundary lands MID-WORD, per
    source — the tokenizer-hostile-split rate of naive chunking (the
    argument for whitespace-snapped boundaries in pack_chunks). One
    generator explode over interior boundaries (len/2048 per doc,
    row-local substrings), one map-side-combinable agg."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 2048)
    c = 2048
    ks = F.sequence(
        F.lit(1), F.floor((F.col("n_chars") - 1) / c).cast("int")
    )
    b = docs.select(
        "source", "text", F.explode(ks).alias("k")
    ).select(
        "source",
        F.substring(F.col("text"), F.col("k") * c, 1).alias("before_c"),
        F.substring(F.col("text"), F.col("k") * c + 1, 1).alias("after_c"),
    )
    mid = F.when(
        (F.col("before_c") != " ") & (F.col("after_c") != " "), 1
    ).otherwise(0)
    return b.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_boundaries"),
        F.sum(mid).cast("long").alias("n_midword"),
        (
            F.floor(F.sum(mid) * 1.0e6 / F.count(F.lit(1)) + 0.5) / 1.0e6
        ).alias("midword_fraction"),
    )


# ===========================================================================
# Wave G — product/growth metrics and corpus-novelty audits.
# ===========================================================================
@_stage(
    "events_dau_wau_stickiness",
    oracle="""
    WITH dau AS (
      SELECT date_trunc('week', ts) AS wk, date_trunc('day', ts) AS day,
             CAST(count(DISTINCT user_id) AS BIGINT) AS dau
      FROM events GROUP BY 1, 2
    ),
    wau AS (
      SELECT date_trunc('week', ts) AS wk,
             CAST(count(DISTINCT user_id) AS BIGINT) AS wau
      FROM events GROUP BY 1
    )
    SELECT strftime(dau.wk, '%Y-%m-%d') AS week_start,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(max(wau.wau) AS BIGINT) AS wau,
           floor(avg(CAST(dau.dau AS DOUBLE)) * 1.0e2 + 0.5) / 1.0e2
             AS avg_dau,
           floor(avg(CAST(dau.dau AS DOUBLE)) / max(wau.wau) * 1.0e6 + 0.5)
             / 1.0e6 AS stickiness
    FROM dau JOIN wau ON wau.wk = dau.wk
    GROUP BY dau.wk
    """,
)
def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per week — THE product-engagement ratio
    (how much of the weekly audience shows up on an average day).
    Two distinct-count rollups on bounded calendar axes; the weekly
    join is a bounded equi-join. Week starts emitted as ISO strings
    (the date-output parity rule)."""
    ev = _t(spark, sf_dir, "events")
    dau = ev.groupBy(
        F.date_trunc("week", "ts").alias("wk"),
        F.date_trunc("day", "ts").alias("day"),
    ).agg(F.countDistinct("user_id").cast("long").alias("dau"))
    wau = ev.groupBy(F.date_trunc("week", "ts").alias("wk")).agg(
        F.countDistinct("user_id").cast("long").alias("wau")
    )
    j = dau.join(wau, "wk")
    return j.groupBy(F.date_format("wk", "yyyy-MM-dd").alias("week_start")).agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.max("wau").cast("long").alias("wau"),
        (F.floor(F.avg(F.col("dau").cast("double")) * 1.0e2 + 0.5) / 1.0e2).alias(
            "avg_dau"
        ),
        (
            F.floor(
                F.avg(F.col("dau").cast("double")) / F.max("wau") * 1.0e6 + 0.5
            )
            / 1.0e6
        ).alias("stickiness"),
    )


@_stage(
    "customer_repeat_interval_trend",
    oracle="""
    WITH seq AS (
      SELECT o_custkey,
             CAST(date_diff('day',
                  lag(o_orderdate) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey),
                  o_orderdate) AS BIGINT) AS gap_d,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) - 1 AS k
      FROM orders
    ),
    g AS (SELECT o_custkey, k, gap_d FROM seq WHERE gap_d IS NOT NULL),
    per_c AS (
      SELECT o_custkey,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(k) AS HUGEINT) AS sx,
             CAST(sum(gap_d) AS HUGEINT) AS sy,
             CAST(sum(CAST(k AS HUGEINT)*k) AS HUGEINT) AS sxx,
             CAST(sum(CAST(k AS HUGEINT)*gap_d) AS HUGEINT) AS sxy
      FROM g GROUP BY 1
    ),
    slopes AS (
      SELECT CAST(floor((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
                         - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
                        / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
                        * 1.0e6 + 0.5) AS BIGINT) AS slope_micro
      FROM per_c
      WHERE n >= 3 AND CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) > 0
    )
    SELECT CAST(count(*) AS BIGINT) AS n_customers,
           floor(CAST(sum(slope_micro) AS DOUBLE) / count(*) + 0.5) / 1.0e6
             AS mean_gap_slope_days_per_order,
           CAST(sum(CASE WHEN slope_micro < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_accelerating
    FROM slopes
    """,
)
def customer_repeat_interval_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is purchase cadence accelerating? Per-customer OLS slope of the
    inter-order gap on the order index (exact integer sums over each
    customer's bounded history), then the fleet summary: mean slope
    and how many customers are speeding up (negative slope). Slopes
    micro-quantize per customer before the global mean
    (order-independence invariant)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w))
        .cast("long")
        .alias("gap_d"),
        (F.row_number().over(w) - 1).cast("long").alias("k"),
    ).filter(F.col("gap_d").isNotNull())
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    per_c = seq.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec("k")).cast("decimal(38,0)").alias("sx"),
        F.sum(dec("gap_d")).cast("decimal(38,0)").alias("sy"),
        F.sum(dec("k") * dec("k")).cast("decimal(38,0)").alias("sxx"),
        F.sum(dec("k") * dec("gap_d")).cast("decimal(38,0)").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    det = nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double")
    slope = (
        nd * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / det
    slopes = per_c.filter((F.col("n") >= 3) & (det > 0)).select(
        F.floor(slope * 1.0e6 + 0.5).cast("long").alias("slope_micro")
    )
    return slopes.agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        (
            F.floor(
                F.sum("slope_micro").cast("double") / F.count(F.lit(1)) + 0.5
            )
            / 1.0e6
        ).alias("mean_gap_slope_days_per_order"),
        F.sum(F.when(F.col("slope_micro") < 0, 1).otherwise(0))
        .cast("long")
        .alias("n_accelerating"),
    )


@_stage(
    "doc_ngram_novelty_curve",
    oracle="""
    WITH d AS (
      SELECT doc_id, text,
             CAST(doc_id % 10 AS BIGINT) AS bucket
      FROM documents
    ),
    w AS (SELECT bucket, string_split(text, ' ') AS words FROM d),
    gr AS (
      SELECT bucket,
             unnest(list_transform(generate_series(1, greatest(len(words) - 2, 0)),
                    i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS s
      FROM w
    ),
    per AS (
      SELECT bucket, s, CAST(count(*) AS BIGINT) AS occ FROM gr GROUP BY 1, 2
    ),
    first_seen AS (SELECT s, CAST(min(bucket) AS BIGINT) AS fb FROM per GROUP BY 1),
    j AS (
      SELECT per.bucket, per.occ,
             CASE WHEN first_seen.fb = per.bucket THEN per.occ ELSE 0 END
               AS novel_occ
      FROM per JOIN first_seen USING (s)
    )
    SELECT bucket,
           CAST(sum(occ) AS BIGINT) AS n_grams,
           CAST(sum(novel_occ) AS BIGINT) AS n_novel,
           floor(CAST(sum(novel_occ) AS DOUBLE) / sum(occ) * 1.0e6 + 0.5)
             / 1.0e6 AS novelty
    FROM j GROUP BY bucket
    """,
)
def doc_ngram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram novelty by corpus decile (docs bucketed by id mod 10, a
    stand-in for ingestion order): the fraction of each bucket's gram
    occurrences whose gram FIRST appears in that bucket — a novelty
    curve collapsing toward zero says later data re-treads earlier
    data (diminishing returns for training). first-seen is one
    min-aggregate per distinct gram; no windows."""
    from cioos_siooc_data_transform_spark.operators.dedup import (
        word_shingles,
        words_expr,
    )

    docs = _t(spark, sf_dir, "documents")
    gr = docs.select(
        (F.col("doc_id") % 10).cast("long").alias("bucket"),
        F.explode(word_shingles(words_expr(F.col("text")), 3)).alias("s"),
    )
    per = gr.groupBy("bucket", "s").agg(
        F.count(F.lit(1)).cast("long").alias("occ")
    )
    first_seen = per.groupBy("s").agg(F.min("bucket").cast("long").alias("fb"))
    j = per.join(first_seen, "s").select(
        "bucket",
        "occ",
        F.when(F.col("fb") == F.col("bucket"), F.col("occ"))
        .otherwise(0)
        .alias("novel_occ"),
    )
    return j.groupBy("bucket").agg(
        F.sum("occ").cast("long").alias("n_grams"),
        F.sum("novel_occ").cast("long").alias("n_novel"),
        (
            F.floor(
                F.sum("novel_occ").cast("double") / F.sum("occ") * 1.0e6 + 0.5
            )
            / 1.0e6
        ).alias("novelty"),
    )


@_stage(
    "orders_customer_concentration_crk",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(cents) AS HUGEINT) AS t,
                   CAST(count(*) AS BIGINT) AS n FROM rev),
    top AS (
      SELECT cents, row_number() OVER (ORDER BY cents DESC, o_custkey) AS r
      FROM rev ORDER BY cents DESC, o_custkey LIMIT 100
    ),
    ks AS (SELECT unnest([4, 10, 100]) AS k)
    SELECT CAST(ks.k AS BIGINT) AS top_k,
           CAST(max(tot.n) AS BIGINT) AS n_customers,
           floor(CAST(sum(CASE WHEN top.r <= ks.k THEN top.cents ELSE 0 END)
                      AS DOUBLE) / CAST(max(tot.t) AS DOUBLE) * 1.0e6 + 0.5)
             / 1.0e6 AS revenue_share
    FROM top CROSS JOIN ks CROSS JOIN tot
    GROUP BY ks.k
    """,
)
def orders_customer_concentration_crk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CR-k concentration ratios (top-4/10/100 customers' revenue
    share) — the antitrust-style complement to Gini/Lorenz that
    answers 'how exposed are we to our biggest accounts'. TakeOrdered
    top-100 + a 1-row broadcast total; no global sort of the customer
    rollup."""
    o = _t(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long"))
        .cast("long")
        .alias("cents")
    )
    tot = rev.agg(
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("t"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    top = rev.orderBy(F.col("cents").desc(), F.col("o_custkey")).limit(100)
    wr = Window.orderBy(F.col("cents").desc(), F.col("o_custkey"))
    ranked = top.withColumn("r", F.row_number().over(wr).cast("long"))
    ks = o.sparkSession.createDataFrame([(4,), (10,), (100,)], "k LONG")
    share = F.sum(
        F.when(F.col("r") <= F.col("k"), F.col("cents")).otherwise(0)
    ).cast("double") / F.max(F.col("t").cast("double"))
    return (
        ranked.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ks))
        .groupBy(F.col("k").alias("top_k"))
        .agg(
            F.max("n").cast("long").alias("n_customers"),
            (F.floor(share * 1.0e6 + 0.5) / 1.0e6).alias("revenue_share"),
        )
    )


# ===========================================================================
# Wave H — growth decomposition, dedup source confusion, acquisition
# split, frequency-spectrum classes.
# ===========================================================================
@_stage(
    "orders_gmv_mix_shift_decomposition",
    oracle="""
    WITH y AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    pairs AS (
      SELECT a.yr AS yr_from, b.yr AS yr_to,
             a.n AS n0, b.n AS n1, a.cents AS c0, b.cents AS c1
      FROM y a JOIN y b ON b.yr = a.yr + 1
    )
    SELECT yr_from, yr_to,
           CAST(c1 - c0 AS BIGINT) AS gmv_delta_cents,
           -- volume effect: (n1-n0)*avg0; price effect: n1*(avg1-avg0)
           CAST(floor((CAST(n1 AS DOUBLE) - n0)
                      * (CAST(c0 AS DOUBLE)/n0) + 0.5) AS BIGINT)
             AS volume_effect_cents,
           CAST(floor(CAST(n1 AS DOUBLE)
                      * (CAST(c1 AS DOUBLE)/n1 - CAST(c0 AS DOUBLE)/n0)
                      + 0.5) AS BIGINT) AS aov_effect_cents
    FROM pairs
    """,
)
def orders_gmv_mix_shift_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Year-over-year GMV growth accounting: ΔGMV split into the
    volume effect (order-count change at last year's average order
    value) and the AOV effect (this year's volume times the AOV
    change) — the first decomposition any revenue review asks for.
    One bounded year rollup + a self-join on consecutive years."""
    o = _t(spark, sf_dir, "orders")
    y = o.groupBy(F.year("o_orderdate").cast("long").alias("yr")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long"))
        .cast("long")
        .alias("cents"),
    )
    a = y.select(
        F.col("yr").alias("yr_from"),
        F.col("n").alias("n0"),
        F.col("cents").alias("c0"),
    )
    b = y.select(
        F.col("yr").alias("yr_to"),
        F.col("n").alias("n1"),
        F.col("cents").alias("c1"),
    )
    p = a.join(b, F.col("yr_to") == F.col("yr_from") + 1)
    avg0 = F.col("c0").cast("double") / F.col("n0")
    avg1 = F.col("c1").cast("double") / F.col("n1")
    return p.select(
        "yr_from",
        "yr_to",
        (F.col("c1") - F.col("c0")).cast("long").alias("gmv_delta_cents"),
        F.floor((F.col("n1").cast("double") - F.col("n0")) * avg0 + 0.5)
        .cast("long")
        .alias("volume_effect_cents"),
        F.floor(F.col("n1").cast("double") * (avg1 - avg0) + 0.5)
        .cast("long")
        .alias("aov_effect_cents"),
    )


@_stage(
    "doc_exact_dup_source_confusion",
    oracle="""
    WITH g AS (
      SELECT md5(text) AS dig, source FROM documents
    ),
    cell AS (
      SELECT dig, source, CAST(count(*) AS BIGINT) AS c
      FROM g GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(count(*) AS BIGINT) AS n_shared_digests
      FROM cell a JOIN cell b
        ON a.dig = b.dig AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, n_shared_digests
    FROM pairs
    """,
)
def doc_exact_dup_source_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source exact-duplicate confusion matrix: how many content
    digests appear in BOTH sources of each pair — the mirrored-corpus
    detector (a high off-diagonal cell says two 'sources' are the same
    crawl twice, and per-source dedup alone would keep both copies).
    The self-join runs on the (digest, source) rollup — bounded by
    sources-per-digest, never all duplicate pairs."""
    docs = _t(spark, sf_dir, "documents")
    cell = docs.select(F.md5("text").alias("dig"), "source").groupBy(
        "dig", "source"
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    a = cell.select(F.col("dig"), F.col("source").alias("source_a"))
    b = cell.select(F.col("dig").alias("dig_b"), F.col("source").alias("source_b"))
    return (
        a.join(
            b,
            (F.col("dig") == F.col("dig_b"))
            & (F.col("source_a") < F.col("source_b")),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_digests"))
    )


@_stage(
    "orders_acquisition_retention_gmv_split",
    oracle="""
    WITH first_o AS (
      SELECT o_custkey, CAST(year(min(o_orderdate)) AS BIGINT) AS first_yr
      FROM orders GROUP BY 1
    ),
    lab AS (
      SELECT CAST(year(o.o_orderdate) AS BIGINT) AS yr,
             CASE WHEN CAST(year(o.o_orderdate) AS BIGINT) = f.first_yr
                  THEN 'new' ELSE 'returning' END AS cohort,
             CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders o JOIN first_o f ON f.o_custkey = o.o_custkey
    )
    SELECT yr, cohort,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS gmv_cents
    FROM lab GROUP BY 1, 2
    """,
)
def orders_acquisition_retention_gmv_split(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GMV split into acquisition (orders in the customer's first
    calendar year) vs retention (every later year), per year — the
    growth-quality decomposition ('are we growing by acquiring or by
    retaining'). One per-customer min-aggregate broadcast back onto
    the fact; exact cents."""
    o = _t(spark, sf_dir, "orders")
    first_o = o.groupBy("o_custkey").agg(
        F.year(F.min("o_orderdate")).cast("long").alias("first_yr")
    )
    lab = o.join(first_o, "o_custkey").select(
        F.year("o_orderdate").cast("long").alias("yr"),
        F.when(
            F.year("o_orderdate").cast("long") == F.col("first_yr"), "new"
        )
        .otherwise("returning")
        .alias("cohort"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long").alias("cents"),
    )
    return lab.groupBy("yr", "cohort").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("gmv_cents"),
    )


@_stage(
    "text_freq_spectrum_classes",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    freq AS (
      SELECT w, CAST(count(*) AS BIGINT) AS m
      FROM tok WHERE w <> '' GROUP BY 1
    ),
    cls AS (
      SELECT CASE WHEN m = 1 THEN 'hapax'
                  WHEN m = 2 THEN 'dis'
                  WHEN m <= 10 THEN 'rare_3_10'
                  ELSE 'common_11_plus' END AS freq_class,
             m
      FROM freq
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS v,
             CAST(sum(m) AS BIGINT) AS n
      FROM freq
    )
    SELECT cls.freq_class,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(cls.m) AS BIGINT) AS n_tokens,
           floor(CAST(count(*) AS DOUBLE) / max(tot.v) * 1.0e6 + 0.5) / 1.0e6
             AS type_share,
           floor(CAST(sum(cls.m) AS DOUBLE) / max(tot.n) * 1.0e6 + 0.5) / 1.0e6
             AS token_share
    FROM cls CROSS JOIN tot
    GROUP BY cls.freq_class
    """,
)
def text_freq_spectrum_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary frequency-spectrum classes: hapax (freq 1), dis
    (freq 2), rare (3-10), common (11+) — type and token shares. A
    hapax TYPE share far above ~50 % is the OCR-shred / id-spam
    signature (novel garbage tokens); the token shares say how much
    mass a min-frequency vocab cutoff would drop. One vocabulary agg,
    exact integers."""
    from cioos_siooc_data_transform_spark.operators.dedup import words_expr

    docs = _t(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(words_expr(F.col("text"))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
    )
    cls = freq.select(
        F.when(F.col("m") == 1, "hapax")
        .when(F.col("m") == 2, "dis")
        .when(F.col("m") <= 10, "rare_3_10")
        .otherwise("common_11_plus")
        .alias("freq_class"),
        "m",
    )
    tot = freq.agg(
        F.count(F.lit(1)).cast("long").alias("v"),
        F.sum("m").cast("long").alias("n"),
    )
    return (
        cls.crossJoin(F.broadcast(tot))
        .groupBy("freq_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.sum("m").cast("long").alias("n_tokens"),
            (
                F.floor(
                    F.count(F.lit(1)).cast("double") / F.max("v") * 1.0e6 + 0.5
                )
                / 1.0e6
            ).alias("type_share"),
            (
                F.floor(
                    F.sum("m").cast("double") / F.max("n") * 1.0e6 + 0.5
                )
                / 1.0e6
            ).alias("token_share"),
        )
    )


# ===========================================================================
# Wave I — final stretch to the 50-name budget: grouped fact-table
# quantiles, ML-eval audits, robust two-way decomposition, profile QC.
# ===========================================================================
@_stage(
    "lineitem_shipmode_delay_quantiles",
    oracle="""
    WITH d AS (
      SELECT CASE CAST((l_orderkey + l_linenumber) % 7 AS BIGINT)
                  WHEN 0 THEN 'AIR' WHEN 1 THEN 'RAIL' WHEN 2 THEN 'SHIP'
                  WHEN 3 THEN 'TRUCK' WHEN 4 THEN 'MAIL' WHEN 5 THEN 'FOB'
                  ELSE 'REG AIR' END AS mode,
             CAST(l_quantity % 50 AS BIGINT)
             - CAST(l_partkey % 30 + 5 AS BIGINT) AS delay_d,
             l_orderkey * 16 + l_linenumber AS rid
      FROM lineitem
    ),
    r AS (
      SELECT mode, delay_d,
             row_number() OVER (PARTITION BY mode
                                ORDER BY delay_d, rid) AS rk,
             count(*) OVER (PARTITION BY mode) AS n
      FROM d
    )
    SELECT mode,
           CAST(max(n) AS BIGINT) AS n_items,
           CAST(max(CASE WHEN rk = (n - 1) // 4 + 1 THEN delay_d END)
                AS BIGINT) AS q1_days,
           CAST(max(CASE WHEN rk = (n - 1) // 2 + 1 THEN delay_d END)
                AS BIGINT) AS median_days,
           CAST(max(CASE WHEN rk = ((n - 1) * 3) // 4 + 1 THEN delay_d END)
                AS BIGINT) AS q3_days
    FROM r GROUP BY mode
    """,
)
def lineitem_shipmode_delay_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact per-shipmode quartiles of the schedule slack (receipt
    delay minus commit window, the r14 SLA audit's deterministic
    key-derived schedule — the synthetic lineitem carries no
    shipmode/commit/receipt columns) — the SLA percentile table, on a
    FACT-scaled input: the grouped form of
    ranked_cumsum_two_pass splits each mode (7 groups over the whole
    lineitem table — exactly the hot-group case a plain grouped window
    serializes) across ~512 range-bucket windows. Discrete lower order
    statistics, exact integer days."""
    from cioos_siooc_data_transform_spark.operators.windows import (
        ranked_cumsum_two_pass,
    )

    li = _t(spark, sf_dir, "lineitem")
    modes = ["AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB", "REG AIR"]
    mode = F.element_at(
        F.array(*[F.lit(m) for m in modes]),
        ((F.col("l_orderkey") + F.col("l_linenumber")) % 7 + 1).cast("int"),
    )
    d = li.select(
        mode.alias("mode"),
        (
            (F.col("l_quantity").cast("long") % 50)
            - (F.col("l_partkey") % 30 + 5)
        )
        .cast("long")
        .alias("delay_d"),
        (F.col("l_orderkey") * 16 + F.col("l_linenumber")).alias("rid"),
    )
    n = d.groupBy("mode").agg(F.count(F.lit(1)).cast("long").alias("n"))
    r = ranked_cumsum_two_pass(
        d, "delay_d", "rid",
        out_rank="rk", out_cum="__cum_unused",
        group_cols=["mode"], ascending=True,
    ).join(F.broadcast(n), "mode")
    pick = lambda idx: F.max(  # noqa: E731
        F.when(F.col("rk") == idx, F.col("delay_d"))
    ).cast("long")
    return r.groupBy("mode").agg(
        F.max("n").cast("long").alias("n_items"),
        pick(F.floor((F.col("n") - 1) / 4) + 1).alias("q1_days"),
        pick(F.floor((F.col("n") - 1) / 2) + 1).alias("median_days"),
        pick(F.floor((F.col("n") - 1) * 3 / 4) + 1).alias("q3_days"),
    )


@_stage(
    "embedding_label_silhouette_proxy",
    oracle="""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(floor(x * 1.0e6 + 0.5) AS BIGINT)) AS q
      FROM embeddings
    ),
    comp AS (
      SELECT label, u.dim, CAST(sum(u.qv) AS HUGEINT) AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM (
        SELECT label, unnest(range(1, 65)) AS dim, unnest(q) AS qv FROM v
      ) u
      GROUP BY label, u.dim
    ),
    cent AS (
      SELECT label, dim, CAST(s AS DOUBLE) / n / 1.0e6 AS c FROM comp
    ),
    -- per-vector distance to each label centroid
    dist AS (
      SELECT v.vec_id, v.label AS own, cent.label AS cl,
             sqrt(sum((CAST(u.qv AS DOUBLE)/1.0e6 - cent.c)
                      * (CAST(u.qv AS DOUBLE)/1.0e6 - cent.c))) AS d
      FROM v, LATERAL (SELECT unnest(range(1, 65)) AS dim, unnest(v.q) AS qv) u
      JOIN cent ON cent.dim = u.dim
      GROUP BY v.vec_id, v.label, cent.label
    ),
    ab AS (
      SELECT vec_id, own,
             max(CASE WHEN cl = own THEN d END) AS a,
             min(CASE WHEN cl <> own THEN d END) AS b
      FROM dist GROUP BY 1, 2
    ),
    s AS (
      SELECT own,
             CAST(floor((b - a) / greatest(a, b) * 1.0e9 + 0.5) AS BIGINT)
               AS sq
      FROM ab
    )
    SELECT CAST(own AS BIGINT) AS label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           floor(CAST(sum(sq) AS DOUBLE) / count(*) / 1.0e3 + 0.5) / 1.0e6
             AS mean_silhouette
    FROM s GROUP BY own
    """,
)
def embedding_label_silhouette_proxy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Centroid-silhouette per label: s = (b − a)/max(a, b) with a =
    distance to the OWN label centroid and b = distance to the nearest
    OTHER centroid — the O(n·k) proxy for the O(n²) true silhouette
    (identical ranking in practice, and the only form that scales).
    Centroids are exact micro-quantized component means (bounded
    labels × 64 dims, broadcast); per-vector silhouettes nano-quantize
    before the label mean."""
    emb = _t(spark, sf_dir, "embeddings")
    comp = (
        emb.select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "d0", "x"
            ),
        )
        .select(
            "label",
            (F.col("d0") + 1).alias("dim"),
            F.floor(F.col("x") * 1.0e6 + 0.5).cast("decimal(19,0)").alias("qv"),
        )
        .groupBy("label", "dim")
        .agg(
            F.sum("qv").cast("decimal(38,0)").alias("s"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    cent = comp.select(
        F.col("label").alias("cl"),
        "dim",
        (F.col("s").cast("double") / F.col("n") / 1.0e6).alias("c"),
    )
    vx = emb.select(
        "vec_id",
        F.col("label").alias("own"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("d0", "x"),
    ).select(
        "vec_id",
        "own",
        (F.col("d0") + 1).alias("dim"),
        (F.floor(F.col("x") * 1.0e6 + 0.5) / 1.0e6).alias("xv"),
    )
    dist = (
        vx.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "own", "cl")
        .agg(
            F.sqrt(
                F.sum((F.col("xv") - F.col("c")) * (F.col("xv") - F.col("c")))
            ).alias("d")
        )
    )
    ab = dist.groupBy("vec_id", "own").agg(
        F.max(F.when(F.col("cl") == F.col("own"), F.col("d"))).alias("a"),
        F.min(F.when(F.col("cl") != F.col("own"), F.col("d"))).alias("b"),
    )
    s = ab.select(
        "own",
        F.floor(
            (F.col("b") - F.col("a"))
            / F.greatest(F.col("a"), F.col("b"))
            * 1.0e9
            + 0.5
        )
        .cast("long")
        .alias("sq"),
    )
    return s.groupBy(F.col("own").cast("long").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        (
            F.floor(
                F.sum("sq").cast("double") / F.count(F.lit(1)) / 1.0e3 + 0.5
            )
            / 1.0e6
        ).alias("mean_silhouette"),
    )


@_stage(
    "similarity_topk_margin_audit",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 5
    ),
    c AS (
      SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings
    ),
    ranked AS (
      SELECT query_id,
             round(list_cosine_similarity(qv, cv), 4) AS cos_sim,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY round(list_cosine_similarity(qv, cv), 4) DESC,
                        neighbor_id ASC
             ) AS rank
      FROM q, c WHERE neighbor_id != query_id
    )
    SELECT query_id,
           max(CASE WHEN rank = 5 THEN cos_sim END) AS s5,
           max(CASE WHEN rank = 6 THEN cos_sim END) AS s6,
           round(max(CASE WHEN rank = 5 THEN cos_sim END)
                 - max(CASE WHEN rank = 6 THEN cos_sim END), 4) AS margin
    FROM ranked WHERE rank <= 6
    GROUP BY query_id
    """,
)
def similarity_topk_margin_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k boundary margin per query: the cosine gap between the
    5th and 6th exact neighbors — the number that says whether an ANN
    index's recall@5 is robust (wide margin) or a coin flip (the 5th
    and 6th are tied and ANY approximation reorders them). Reuses the
    brute-force operator at k=6 (broadcast query side, one corpus
    stream)."""
    from cioos_siooc_data_transform_spark.operators.similarity import (
        brute_force_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    bf = brute_force_topk(queries, emb, k=6, round_dp=4)
    return bf.groupBy("query_id").agg(
        F.max(F.when(F.col("rank") == 5, F.col("cos_sim"))).alias("s5"),
        F.max(F.when(F.col("rank") == 6, F.col("cos_sim"))).alias("s6"),
        F.round(
            F.max(F.when(F.col("rank") == 5, F.col("cos_sim")))
            - F.max(F.when(F.col("rank") == 6, F.col("cos_sim"))),
            4,
        ).alias("margin"),
    )


@_stage(
    "events_peak_concentration_herfindahl",
    oracle="""
    WITH h AS (
      SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n FROM h GROUP BY 1)
    SELECT h.event_type,
           CAST(max(tot.n) AS BIGINT) AS n_events,
           floor(sum(CAST(h.c AS DOUBLE) * h.c)
                 / (CAST(max(tot.n) AS DOUBLE) * max(tot.n)) * 1.0e6 + 0.5)
             / 1.0e6 AS hour_hhi
    FROM h JOIN tot USING (event_type)
    GROUP BY h.event_type
    """,
)
def events_peak_concentration_herfindahl(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Herfindahl index of each event type's hour-of-day distribution
    — 1/24 ≈ 0.042 means perfectly spread load, higher means traffic
    concentrates into peak hours (the capacity-planning complement of
    the seasonality-strength eta²: HHI measures concentration, eta²
    measures predictability). Bounded 24-cell rollup per type; exact
    integer squares."""
    ev = _t(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.hour("ts").cast("long").alias("hod")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = h.groupBy("event_type").agg(F.sum("c").cast("long").alias("n"))
    j = h.join(F.broadcast(tot), "event_type")
    return j.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_events"),
        (
            F.floor(
                F.sum(F.col("c").cast("double") * F.col("c"))
                / (F.max("n").cast("double") * F.max("n"))
                * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("hour_hhi"),
    )


@_stage(
    "events_intervisit_bowley_skew",
    oracle="""
    WITH g AS (
      SELECT CAST(date_diff('day',
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                  ts) AS BIGINT) AS gap_d
      FROM events
    ),
    hist AS (
      SELECT gap_d, CAST(count(*) AS BIGINT) AS c
      FROM g WHERE gap_d IS NOT NULL GROUP BY 1
    ),
    cum AS (
      SELECT gap_d, c,
             CAST(sum(c) OVER (ORDER BY gap_d ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cumn
      FROM hist
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM hist),
    qs AS (
      SELECT
        min(CASE WHEN cumn >= (n - 1) // 4 + 1 THEN gap_d END) AS q1,
        min(CASE WHEN cumn >= (n - 1) // 2 + 1 THEN gap_d END) AS q2,
        min(CASE WHEN cumn >= ((n - 1) * 3) // 4 + 1 THEN gap_d END) AS q3,
        max(n) AS n
      FROM cum CROSS JOIN tot
    )
    SELECT CAST(n AS BIGINT) AS n_gaps,
           CAST(q1 AS BIGINT) AS q1_days,
           CAST(q2 AS BIGINT) AS median_days,
           CAST(q3 AS BIGINT) AS q3_days,
           CASE WHEN q3 > q1 THEN
             floor((CAST(q3 AS DOUBLE) + q1 - 2.0e0*q2)
                   / (CAST(q3 AS DOUBLE) - q1) * 1.0e6 + 0.5) / 1.0e6
           END AS bowley_skew
    FROM qs
    """,
)
def events_intervisit_bowley_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bowley (quartile) skewness of the inter-visit gap distribution:
    (Q3 + Q1 − 2·median)/(Q3 − Q1) — the outlier-immune skewness (the
    moment-based skew explodes on one year-long gap). Quartiles are
    discrete order statistics from the cumulative gap-day histogram
    (ranked_cumsum_two_pass — no single-partition sort)."""
    from cioos_siooc_data_transform_spark.operators.windows import (
        ranked_cumsum_two_pass,
    )

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        F.datediff(F.col("ts"), F.lag("ts").over(w)).cast("long").alias("gap_d")
    ).filter(F.col("gap_d").isNotNull())
    hist = g.groupBy("gap_d").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = hist.agg(F.sum("c").cast("long").alias("n"))
    cum = ranked_cumsum_two_pass(
        hist, "gap_d", "gap_d", weight_col="c",
        out_rank="__rk_unused", out_cum="cumn", ascending=True,
    ).crossJoin(F.broadcast(tot))
    pick = lambda idx: F.min(  # noqa: E731
        F.when(F.col("cumn") >= idx, F.col("gap_d"))
    )
    qs = cum.agg(
        pick(F.floor((F.col("n") - 1) / 4) + 1).alias("q1"),
        pick(F.floor((F.col("n") - 1) / 2) + 1).alias("q2"),
        pick(F.floor((F.col("n") - 1) * 3 / 4) + 1).alias("q3"),
        F.max("n").alias("n"),
    )
    skew = F.when(
        F.col("q3") > F.col("q1"),
        F.floor(
            (F.col("q3").cast("double") + F.col("q1") - 2.0 * F.col("q2"))
            / (F.col("q3").cast("double") - F.col("q1"))
            * 1.0e6
            + 0.5
        )
        / 1.0e6,
    )
    return qs.select(
        F.col("n").cast("long").alias("n_gaps"),
        F.col("q1").cast("long").alias("q1_days"),
        F.col("q2").cast("long").alias("median_days"),
        F.col("q3").cast("long").alias("q3_days"),
        skew.alias("bowley_skew"),
    )


@_stage(
    "dedup_candidate_precision_at_threshold",
    oracle="""
    WITH 
    w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, greatest(len(words) - 2, 0)),
                      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS s
        FROM w
      )
    )
,
    df AS (SELECT s, count(*) AS c FROM sh GROUP BY s),
    f AS (SELECT sh.doc_id, sh.s FROM sh JOIN df USING (s) WHERE df.c <= 10),
    sizes AS (SELECT doc_id, count(*) AS n FROM f GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM f a JOIN f b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jac AS (
      SELECT round(n_common / (sa.n + sb.n - n_common), 6) AS jac
      FROM common
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_candidates,
           floor(sum(CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END) * 1.0e6
                 / count(*) + 0.5) / 1.0e6 AS precision_at_05,
           floor(sum(CASE WHEN jac >= 0.7 THEN 1 ELSE 0 END) * 1.0e6
                 / count(*) + 0.5) / 1.0e6 AS precision_at_07,
           floor(sum(CASE WHEN jac >= 0.9 THEN 1 ELSE 0 END) * 1.0e6
                 / count(*) + 0.5) / 1.0e6 AS precision_at_09
    FROM jac
""",
)
def dedup_candidate_precision_at_threshold(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Precision of the capped inverted-index candidate set at Jaccard
    thresholds 0.5/0.7/0.9 — what fraction of generated pairs the
    exact confirm keeps. Low precision at the operating threshold
    means the candidate generator wastes its join budget (raise the
    DF cap or bands); the scalar companion to the band histogram."""
    from cioos_siooc_data_transform_spark.operators.dedup import (
        word_shingles,
        words_expr,
    )

    docs = _t(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(word_shingles(words_expr(F.col("text")), 3))
        ).alias("s"),
    )
    df_cap = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= 10
    )
    f = sh.join(df_cap, "s")
    sizes = f.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = f.select(F.col("doc_id").alias("doc_a"), "s")
    b = f.select(F.col("doc_id").alias("doc_b"), "s")
    common = (
        a.join(b, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    j = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.round(
                F.col("n_common")
                / (F.col("na") + F.col("nb") - F.col("n_common")),
                6,
            ).alias("jac")
        )
    )
    n = F.count(F.lit(1)).cast("long")
    hit = lambda t: F.sum(  # noqa: E731
        F.when(F.col("jac") >= t, 1).otherwise(0)
    ).cast("long")
    return j.agg(
        n.alias("n_candidates"),
        (F.floor(hit(0.5) * 1.0e6 / n + 0.5) / 1.0e6).alias("precision_at_05"),
        (F.floor(hit(0.7) * 1.0e6 / n + 0.5) / 1.0e6).alias("precision_at_07"),
        (F.floor(hit(0.9) * 1.0e6 / n + 0.5) / 1.0e6).alias("precision_at_09"),
    )


@_stage(
    "customer_cohort_decay_halflife",
    oracle="""
    WITH first_o AS (
      SELECT o_custkey, CAST(year(min(o_orderdate)) AS BIGINT) AS cohort
      FROM orders GROUP BY 1
    ),
    act AS (
      SELECT f.cohort,
             CAST((year(o.o_orderdate) * 12 + month(o.o_orderdate))
                  - (f.cohort * 12 + 1) AS BIGINT) AS mi,
             CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS active
      FROM orders o JOIN first_o f ON f.o_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    pts AS (
      SELECT cohort,
             CAST(mi AS HUGEINT) AS x,
             CAST(floor(ln(CAST(active AS DOUBLE)) * 1.0e6 + 0.5) AS HUGEINT)
               AS y
      FROM act WHERE mi >= 1
    ),
    s AS (
      SELECT cohort, CAST(count(*) AS BIGINT) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x*x) AS sxx, sum(x*y) AS sxy
      FROM pts GROUP BY 1
    )
    SELECT cohort, n AS n_months,
           floor((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
                 / NULLIF(CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE), 0.0)
                 / 1.0e6 * 1.0e9 + 0.5) / 1.0e9 AS decay_slope_ln_per_month
    FROM s WHERE n >= 3
    """,
)
def customer_cohort_decay_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort-decay rate: per acquisition-year cohort, the OLS slope
    of ln(active customers) on months-since-acquisition — the
    exponential-decay constant whose ln2/|slope| is the retention
    half-life. Log points micro-quantize before exact integer OLS
    sums per cohort (bounded month axis)."""
    o = _t(spark, sf_dir, "orders")
    first_o = o.groupBy("o_custkey").agg(
        F.year(F.min("o_orderdate")).cast("long").alias("cohort")
    )
    act = (
        o.join(first_o, "o_custkey")
        .groupBy(
            "cohort",
            (
                (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
                - (F.col("cohort") * 12 + 1)
            )
            .cast("long")
            .alias("mi"),
        )
        .agg(F.countDistinct("o_custkey").cast("long").alias("active"))
    )
    dec = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    pts = act.filter(F.col("mi") >= 1).select(
        "cohort",
        dec(F.col("mi")).alias("x"),
        dec(
            F.floor(F.log(F.col("active").cast("double")) * 1.0e6 + 0.5)
        ).alias("y"),
    )
    s = pts.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
    ).filter(F.col("n") >= 3)
    nd = F.col("n").cast("double")
    slope = (
        nd * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / F.nullif(
        nd * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double"),
        F.lit(0.0),
    )
    return s.select(
        "cohort",
        F.col("n").alias("n_months"),
        (F.floor(slope / 1.0e6 * 1.0e9 + 0.5) / 1.0e9).alias(
            "decay_slope_ln_per_month"
        ),
    )


@_stage(
    "gsw_density_inversion_audit",
    oracle="""
    WITH lv AS (
      SELECT l_orderkey,
             row_number() OVER (PARTITION BY l_orderkey
                                ORDER BY l_linenumber, l_partkey,
                                         l_quantity, l_extendedprice) AS rn,
             CAST(20.0 + l_quantity * 0.1 AS DOUBLE) AS sigma_base
      FROM lineitem
    ),
    prof AS (
      SELECT l_orderkey, rn,
             sigma_base + rn * 0.05 AS sigma,
             lag(sigma_base + rn * 0.05) OVER (PARTITION BY l_orderkey
                                               ORDER BY rn) AS sigma_up
      FROM lv
    ),
    per AS (
      SELECT l_orderkey,
             CAST(count(*) AS BIGINT) AS n_levels,
             CAST(sum(CASE WHEN sigma < sigma_up - 1.0e-9
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_inversions
      FROM prof WHERE sigma_up IS NOT NULL
      GROUP BY 1
    )
    SELECT n_inversions,
           CAST(count(*) AS BIGINT) AS n_profiles,
           CAST(max(n_levels) AS BIGINT) AS max_levels
    FROM per GROUP BY 1
    """,
)
def gsw_density_inversion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density-inversion QC census over the synthetic profile grid (the
    gsw_nsquared_profile construction): per profile, count adjacent
    level pairs where sigma DECREASES with depth (statically unstable
    water — the flag real CTD QC raises before N² goes negative), then
    the corpus-wide histogram of inversion counts. Per-profile windows
    only (bounded levels per cast); 1e-9 tolerance keeps float noise
    out of the strict comparison."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_quantity", "l_extendedprice"
    )
    lv = li.select(
        "l_orderkey",
        F.row_number().over(w).alias("rn"),
        (F.lit(20.0) + F.col("l_quantity") * 0.1).cast("double").alias(
            "sigma_base"
        ),
    )
    wp = Window.partitionBy("l_orderkey").orderBy("rn")
    prof = lv.select(
        "l_orderkey",
        (F.col("sigma_base") + F.col("rn") * 0.05).alias("sigma"),
        F.lag(F.col("sigma_base") + F.col("rn") * 0.05).over(wp).alias(
            "sigma_up"
        ),
    ).filter(F.col("sigma_up").isNotNull())
    per = prof.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_levels"),
        F.sum(
            F.when(F.col("sigma") < F.col("sigma_up") - 1.0e-9, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_inversions"),
    )
    return per.groupBy("n_inversions").agg(
        F.count(F.lit(1)).cast("long").alias("n_profiles"),
        F.max("n_levels").cast("long").alias("max_levels"),
    )


@_stage(
    "embedding_hubness_audit",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 50
    ),
    c AS (
      SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings
    ),
    topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY round(list_cosine_similarity(qv, cv), 4) DESC,
                          neighbor_id ASC
               ) AS rank
        FROM q, c WHERE neighbor_id != query_id
      ) WHERE rank <= 5
    ),
    occ AS (
      SELECT neighbor_id, CAST(count(*) AS BIGINT) AS n_lists
      FROM topk GROUP BY 1
    )
    SELECT n_lists AS appears_in_k_lists,
           CAST(count(*) AS BIGINT) AS n_vectors
    FROM occ GROUP BY 1
    """,
)
def embedding_hubness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness audit: over a deterministic 50-query probe set, how many
    distinct top-5 lists each corpus vector appears in — the histogram
    whose long tail (one vector in MANY lists) is the high-dimensional
    hubness pathology that silently degrades cosine retrieval (hub
    results look relevant to everything). Brute-force operator with
    the probe side broadcast; one corpus stream."""
    from cioos_siooc_data_transform_spark.operators.similarity import (
        brute_force_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 50)
    bf = brute_force_topk(queries, emb, k=5, round_dp=4)
    occ = bf.groupBy("neighbor_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lists")
    )
    return occ.groupBy(F.col("n_lists").alias("appears_in_k_lists")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors")
    )


@_stage(
    "orders_median_polish_residuals",
    oracle="""
    WITH cell AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
             o_orderpriority AS pri,
             CAST(floor(avg(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                        + 0.5) AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2
    ),
    rowmed AS (
      SELECT yr,
             CAST(list_sort(list(cents))[(len(list(cents)) + 1) // 2]
                  AS BIGINT) AS rmed
      FROM cell GROUP BY yr
    ),
    r1 AS (
      SELECT cell.yr, cell.pri, cell.cents - rowmed.rmed AS res1
      FROM cell JOIN rowmed USING (yr)
    ),
    colmed AS (
      SELECT pri,
             CAST(list_sort(list(res1))[(len(list(res1)) + 1) // 2]
                  AS BIGINT) AS cmed
      FROM r1 GROUP BY pri
    )
    SELECT r1.yr, r1.pri,
           CAST(r1.res1 - colmed.cmed AS BIGINT) AS residual_cents
    FROM r1 JOIN colmed USING (pri)
    """,
)
def orders_median_polish_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sweep Tukey median polish of the (year x priority) average-
    order-value grid: subtract row (year) medians, then column
    (priority) medians of the residuals — what is left is the
    INTERACTION structure no additive year+priority model explains
    (robust two-way ANOVA). The grid is bounded (years x 5
    priorities); medians are exact lower-medians over collected sorted
    lists of <= 7 integers."""
    o = _t(spark, sf_dir, "orders")
    cell = o.groupBy(
        F.year("o_orderdate").cast("long").alias("yr"),
        F.col("o_orderpriority").alias("pri"),
    ).agg(
        F.floor(
            F.avg(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long"))
            + 0.5
        )
        .cast("long")
        .alias("cents")
    )
    med = lambda c: F.element_at(  # noqa: E731
        F.sort_array(F.collect_list(c)),
        F.floor((F.size(F.collect_list(c)) + 1) / 2).cast("int"),
    )
    rowmed = cell.groupBy("yr").agg(med("cents").cast("long").alias("rmed"))
    r1 = cell.join(F.broadcast(rowmed), "yr").select(
        "yr", "pri", (F.col("cents") - F.col("rmed")).alias("res1")
    )
    colmed = r1.groupBy("pri").agg(med("res1").cast("long").alias("cmed"))
    return r1.join(F.broadcast(colmed), "pri").select(
        "yr",
        "pri",
        (F.col("res1") - F.col("cmed")).cast("long").alias("residual_cents"),
    )
