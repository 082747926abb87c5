"""Technique correctness of the pathwise QMC Greeks: the discretized
estimators must approximate the Black-Scholes closed forms."""

from __future__ import annotations

import math

from parallel_monte_carlo_simulations_spark.mc.qmc_gbm import (
    R,
    S0,
    SIGMA,
    STRIKE,
    T,
)

from ._compare import duckdb_connection


def _norm_cdf(x):
    return 0.5 * (1.0 + math.erf(x / math.sqrt(2.0)))


def _norm_pdf(x):
    return math.exp(-0.5 * x * x) / math.sqrt(2.0 * math.pi)


def test_qmc_greeks_match_black_scholes():
    from parallel_monte_carlo_simulations_spark.registry import load_all_queries

    spec = load_all_queries()["q_mc_gbm_qmc_greeks"]
    con = duckdb_connection("/root/testdata/sf0.01")
    n, delta, delta_se, vega, vega_se = con.execute(spec.oracle).fetchone()
    d1 = (math.log(S0 / STRIKE) + (R + 0.5 * SIGMA**2) * T) / (
        SIGMA * math.sqrt(T)
    )
    bs_delta = _norm_cdf(d1)
    bs_vega = S0 * _norm_pdf(d1) * math.sqrt(T)
    # stratification bias is O(1/K^2); allow a loose band plus 4 SEs
    assert abs(delta - bs_delta) < 0.01 + 4 * delta_se, (delta, bs_delta)
    assert abs(vega - bs_vega) < 0.5 + 4 * vega_se, (vega, bs_vega)
    assert n > 0 and delta_se >= 0 and vega_se >= 0


def test_barrier_dominated_by_vanilla():
    """Knock-out must only ever DISCOUNT the option: UOC <= vanilla,
    strictly when any path is knocked."""
    from parallel_monte_carlo_simulations_spark.registry import load_all_queries

    spec = load_all_queries()["q_mc_qmc_barrier"]
    con = duckdb_connection("/root/testdata/sf0.01")
    n, uoc, vanilla, se, knocked = con.execute(spec.oracle).fetchone()
    assert 0 < knocked < n
    assert uoc < vanilla
    assert uoc >= 0 and se >= 0
