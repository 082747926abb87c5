"""Exactly-oracled QMC twins of the pseudo-random GBM pricing family.

``q_mc_gbm_option_price`` / ``_antithetic`` / ``_control_variate`` /
``_importance`` (queries.py) are reference-parity Philox simulations —
property-tested but rows-only, because RNG streams can't be replayed in
SQL. Each gets a twin here that computes the SAME estimator on the
discretized-QMC path construction ``lsmc.py`` proved bit-exact
cross-engine:

- per-path uniform = base-2 radical inverse of the path index (pure
  integer arithmetic; with N_PATHS a power of two the bit-reversal is a
  permutation, so each of the K strata receives exactly N/K paths);
- the normal draw is the stratum conditional mean E[Z | stratum]
  (erf-derived Python literal pasted into BOTH engines' SQL);
- one shared SQL text for Spark and DuckDB (association identical by
  construction; ``shared_sql.register_sql`` writes both engines' text);
- aggregate moments floor-quantized BEFORE any derived arithmetic
  (beta, std errors), so downstream doubles are bit-identical.

The variance-reduction structure survives discretization — antithetic
pairs, the S_T control variate, and the drift-shifted likelihood-ratio
weights each measurably shrink std_error versus the plain twin (asserted
in tests/test_mc.py alongside closeness to Black-Scholes) — so the twins
verify the same estimator algebra the Philox originals run, with the
driver's hash gate watching every decimal.

Scale: each query is a ``range`` source + whole-stage-codegen CASE
arithmetic + one (or, for the control variate, one moments + one
constant-fold) partial aggregation; at 10^9 paths only the handful of
quantized moments crosses the wire.
"""

from __future__ import annotations

import math

from .shared_sql import (
    case_over,
    lit,
    quant,
    radical_inverse,
    range_rows,
    register_sql,
    stratum_means,
)

N_PATHS = 16_384  # 2^14: bit-reversal permutes 0..N-1, strata exactly equal
_DIGITS = 14
K = 64  # strata; N_PATHS/K = 256 paths per stratum
R, SIGMA, T = 0.03, 0.25, 1.0  # the Philox family's parameters
S0, STRIKE = 100.0, 105.0
OTM_STRIKE = 160.0  # importance twin: deep out-of-the-money
_DISC = math.exp(-R * T)
_DRIFT = (R - 0.5 * SIGMA * SIGMA) * T
_VOL = SIGMA * math.sqrt(T)
_Q = stratum_means(K)


def _spot_case(shift: float = 0.0, sign: float = 1.0) -> str:
    """S_T per stratum as one literal CASE: S0*exp(drift + vol*(sign*q + shift))."""
    return case_over(
        "k", [lit(S0 * math.exp(_DRIFT + _VOL * (sign * q + shift))) for q in _Q]
    )


def _paths_cte(duck: bool) -> str:
    u = radical_inverse("i", 2, _DIGITS)
    return (
        f"idx AS ({range_rows('i', 0, N_PATHS, duck)}),\n"
        f"u AS (SELECT i, {u} AS uni FROM idx),\n"
        f"ks AS (SELECT i, CAST(FLOOR(uni * {K}) AS INTEGER) AS k FROM u)"
    )


def _mean_stderr(sx: str, sx2: str, n: str) -> tuple[str, str]:
    """Mean and standard error from (already-quantized) moments; SQRT is
    correctly-rounded IEEE in both engines, so these are bit-identical."""
    mean = f"({sx} / {n})"
    stderr = (
        f"SQRT((({sx2}) - ({sx}) * ({sx}) / ({n})) / (({n}) - 1.0e0) / ({n}))"
    )
    return mean, stderr


def _moments_cte(x_expr: str, src: str, extra: str = "") -> str:
    return (
        f"m AS (SELECT {quant('SUM(1.0e0)')} AS n, "
        f"{quant(f'SUM({x_expr})')} AS sx, "
        f"{quant(f'SUM(({x_expr}) * ({x_expr}))')} AS sx2{extra} FROM {src})"
    )


def _plain_sql(duck: bool) -> str:
    pay = f"({lit(_DISC)} * GREATEST({_spot_case()} - {lit(STRIKE)}, 0.0e0))"
    mean, err = _mean_stderr("sx", "sx2", "n")
    return (
        f"WITH {_paths_cte(duck)},\n"
        f"{_moments_cte(pay, 'ks')}\n"
        f"SELECT CAST(n AS BIGINT) AS n_paths, "
        f"{quant(mean, 10_000)} AS mc_price, "
        f"{quant(err, 10_000)} AS std_error FROM m"
    )


def _antithetic_sql(duck: bool) -> str:
    # The mirrored leg negates the SAME stratum mean (sign=-1 inside the
    # exp literal), so the +/- pairing is exact even though the erf-derived
    # strata are only symmetric to ~1e-14.
    up = f"GREATEST({_spot_case()} - {lit(STRIKE)}, 0.0e0)"
    dn = f"GREATEST({_spot_case(sign=-1.0)} - {lit(STRIKE)}, 0.0e0)"
    pair = f"({lit(_DISC)} * (({up}) + ({dn})) / 2.0e0)"
    mean, err = _mean_stderr("sx", "sx2", "n")
    return (
        f"WITH {_paths_cte(duck)},\n"
        f"{_moments_cte(pair, 'ks')}\n"
        f"SELECT CAST(n AS BIGINT) AS n_pairs, "
        f"{quant(mean, 10_000)} AS mc_price, "
        f"{quant(err, 10_000)} AS std_error FROM m"
    )


def _control_variate_sql(duck: bool) -> str:
    # Control = S_T with its DISCRETIZED mean as the centering constant
    # (the exact mean of the stratified S_T, not the continuous
    # S0*exp(rT) — under strata the two differ by the quadrature bias).
    ev_disc = sum(S0 * math.exp(_DRIFT + _VOL * q) for q in _Q) / K
    pay = f"(GREATEST({_spot_case()} - {lit(STRIKE)}, 0.0e0))"
    ctl = _spot_case()
    extra = (
        f", {quant(f'SUM({ctl})')} AS sc, "
        f"{quant(f'SUM(({ctl}) * ({ctl}))')} AS sc2, "
        f"{quant(f'SUM(({pay}) * ({ctl}))')} AS sxc"
    )
    beta = "((sxc - sx * sc / n) / (sc2 - sc * sc / n))"
    var_x = "((sx2 - sx * sx / n) / (n - 1.0e0))"
    var_c = "((sc2 - sc * sc / n) / (n - 1.0e0))"
    cov = "((sxc - sx * sc / n) / (n - 1.0e0))"
    var_adj = f"({var_x} - 2.0e0 * beta * {cov} + (beta * beta) * {var_c})"
    price = f"({lit(_DISC)} * (sx / n - beta * (sc / n - {lit(ev_disc)})))"
    err = f"({lit(_DISC)} * SQRT({var_adj} / n))"
    return (
        f"WITH {_paths_cte(duck)},\n"
        f"{_moments_cte(pay, 'ks', extra)},\n"
        f"b AS (SELECT m.*, {quant(beta, 10_000)} AS beta FROM m)\n"
        f"SELECT CAST(n AS BIGINT) AS n_paths, "
        f"{quant(price, 10_000)} AS mc_price, "
        f"{quant(err, 10_000)} AS std_error, "
        f"beta FROM b"
    )


def _importance_sql(duck: bool) -> str:
    # Likelihood ratio for sampling Z ~ N(theta, 1) instead of N(0, 1):
    # w = exp(-theta*y - theta^2/2) with y the standard draw (stratum
    # mean); the shifted spot and the weight are both per-stratum
    # literals, all closed-form on the discretized path.
    theta = (math.log(OTM_STRIKE / S0) - _DRIFT) / _VOL
    xp = (
        f"({lit(_DISC)} * GREATEST({_spot_case()} - {lit(OTM_STRIKE)}, 0.0e0))"
    )
    w = case_over("k", [lit(math.exp(-theta * q - 0.5 * theta * theta)) for q in _Q])
    xi = (
        f"({lit(_DISC)} * GREATEST({_spot_case(shift=theta)} - "
        f"{lit(OTM_STRIKE)}, 0.0e0) * {w})"
    )
    mean, err = _mean_stderr("sx", "sx2", "n")
    mean_i, err_i = _mean_stderr("si", "si2", "n")
    extra = (
        f", {quant(f'SUM({xi})')} AS si, "
        f"{quant(f'SUM(({xi}) * ({xi}))')} AS si2"
    )
    return (
        f"WITH {_paths_cte(duck)},\n"
        f"{_moments_cte(xp, 'ks', extra)}\n"
        f"SELECT 'plain' AS estimator, CAST(n AS BIGINT) AS n_paths, "
        f"{quant(mean, 10_000)} AS mc_price, "
        f"{quant(err, 10_000)} AS std_error FROM m\n"
        f"UNION ALL\n"
        f"SELECT 'importance' AS estimator, CAST(n AS BIGINT) AS n_paths, "
        f"{quant(mean_i, 10_000)} AS mc_price, "
        f"{quant(err_i, 10_000)} AS std_error FROM m"
    )


q_mc_gbm_qmc_price = register_sql(
    "q_mc_gbm_qmc_price",
    _plain_sql,
    "QMC twin of q_mc_gbm_option_price: stratified-Halton GBM terminal, "
    "European call, exactly oracled",
    ("mc", "qmc", "gbm", "finance", "deterministic"),
)

q_mc_gbm_qmc_antithetic = register_sql(
    "q_mc_gbm_qmc_antithetic",
    _antithetic_sql,
    "QMC twin of q_mc_gbm_antithetic: reflected-stratum pairs, exactly "
    "oracled variance reduction",
    ("mc", "qmc", "gbm", "variance_reduction", "antithetic", "deterministic"),
)

q_mc_gbm_qmc_control_variate = register_sql(
    "q_mc_gbm_qmc_control_variate",
    _control_variate_sql,
    "QMC twin of q_mc_gbm_control_variate: S_T control with discretized "
    "mean, beta from quantized moments, exactly oracled",
    ("mc", "qmc", "gbm", "variance_reduction", "control_variate", "deterministic"),
)

q_mc_gbm_qmc_importance = register_sql(
    "q_mc_gbm_qmc_importance",
    _importance_sql,
    "QMC twin of q_mc_gbm_importance: drift-shifted strata with "
    "closed-form likelihood-ratio weights, exactly oracled",
    ("mc", "qmc", "gbm", "variance_reduction", "importance_sampling", "deterministic"),
)


def _greeks_sql(duck: bool) -> str:
    # Pathwise (infinitesimal-perturbation) Greeks on the discretized
    # path: every per-stratum term is a closed-form literal.
    #   delta = disc * E[ 1{S_T > K} * S_T / S0 ]          (dS_T/dS0 = S_T/S0)
    #   vega  = disc * E[ 1{S_T > K} * S_T * (sqrt(T) z - sigma T) ]
    # with z the stratum conditional mean. Both are unbiased pathwise
    # estimators for the call (payoff kink has measure zero).
    sqrt_t = math.sqrt(T)
    spots = [S0 * math.exp(_DRIFT + _VOL * q) for q in _Q]
    delta_vals = [
        _DISC * (s / S0) if s > STRIKE else 0.0 for s in spots
    ]
    vega_vals = [
        _DISC * s * (sqrt_t * q - SIGMA * T) if s > STRIKE else 0.0
        for s, q in zip(spots, _Q)
    ]
    dx = case_over("k", [lit(v) for v in delta_vals])
    vx = case_over("k", [lit(v) for v in vega_vals])
    mean_d, err_d = _mean_stderr("sx", "sx2", "n")
    mean_v, err_v = _mean_stderr("sv", "sv2", "n")
    extra = (
        f", {quant(f'SUM({vx})')} AS sv, "
        f"{quant(f'SUM(({vx}) * ({vx}))')} AS sv2"
    )
    return (
        f"WITH {_paths_cte(duck)},\n"
        f"{_moments_cte(dx, 'ks', extra)}\n"
        f"SELECT CAST(n AS BIGINT) AS n_paths, "
        f"{quant(mean_d, 10_000)} AS delta, "
        f"{quant(err_d, 10_000)} AS delta_se, "
        f"{quant(mean_v, 10_000)} AS vega, "
        f"{quant(err_v, 10_000)} AS vega_se FROM m"
    )


q_mc_gbm_qmc_greeks = register_sql(
    "q_mc_gbm_qmc_greeks",
    _greeks_sql,
    "pathwise Greeks on the stratified-QMC GBM terminal: delta "
    "(1{ITM} S_T/S0) and vega (1{ITM} S_T (sqrt(T)z - sigma T)), "
    "exactly oracled",
    ("mc", "qmc", "gbm", "greeks", "finance", "deterministic"),
)
