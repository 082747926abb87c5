"""Portfolio risk measures on QMC scenarios: VaR and CVaR (expected
shortfall), exactly oracled.

The risk-management counterpart of option pricing: generate loss
scenarios, take the alpha-quantile (Value-at-Risk) and the mean loss
BEYOND it (Conditional VaR / expected shortfall — the coherent measure
Basel moved to). Scenarios here are a two-asset portfolio driven by
CORRELATED stratified-normal shocks (Cholesky: z2' = rho z1 +
sqrt(1-rho^2) z2) from Halton uniforms — every scenario is a literal-
arithmetic double, so the empirical order statistics are deterministic
and the DuckDB oracle replays them exactly.

Order-statistic discipline: VaR is the k-th largest loss with
k = ceil((1 - alpha) * n) via row_number over (loss DESC, scenario id) — an
EXACT rank cut, not an interpolated percentile, so both engines select
the same scenario row; CVaR averages the k worst losses.
"""

from __future__ import annotations

import math

from .shared_sql import (
    lit,
    normal_case,
    quant,
    radical_inverse,
    range_rows,
    register_sql,
)

N_SCEN = 20_000
ALPHA = 0.99  # 99% VaR
RHO = 0.45
W1, W2 = 0.6, 0.4  # portfolio weights
VOL1, VOL2 = 0.22, 0.35  # annual vols, 10-day horizon below
HORIZON = 10.0 / 252.0
_BASES_DIGITS = ((2, 15), (3, 10))  # cover N_SCEN < 2^15, 3^10


def _sql(duck: bool) -> str:
    (b1, d1), (b2, d2) = _BASES_DIGITS
    z1 = normal_case(radical_inverse("i + 1", b1, d1))
    z2r = normal_case(radical_inverse("i + 1", b2, d2))
    chol = lit(math.sqrt(1 - RHO * RHO))
    s1 = lit(VOL1 * math.sqrt(HORIZON))
    s2 = lit(VOL2 * math.sqrt(HORIZON))
    k = math.ceil((1 - ALPHA) * N_SCEN)  # worst (1-alpha) tail size
    return f"""WITH idx AS ({range_rows("i", 0, N_SCEN, duck)}),
zc AS (
  SELECT i, {z1} AS z1, ({lit(RHO)} * {z1} + {chol} * {z2r}) AS z2
  FROM idx
),
losses AS (
  SELECT i,
         -({lit(W1)} * {s1} * z1 + {lit(W2)} * {s2} * z2) AS loss
  FROM zc
),
ranked AS (
  SELECT i, loss,
         ROW_NUMBER() OVER (ORDER BY loss DESC, i) AS rk
  FROM losses
)
SELECT CAST(COUNT(*) AS BIGINT)  AS n_tail,
       {quant(f"MIN(loss)", 1_000_000)}  AS var_{int(ALPHA * 100)},
       {quant(f"AVG(loss)", 1_000_000)}  AS cvar_{int(ALPHA * 100)}
FROM ranked WHERE rk <= {k}"""


q_mc_var_cvar = register_sql(
    "q_mc_var_cvar",
    _sql,
    f"portfolio risk on {N_SCEN} correlated QMC scenarios: "
    f"{int(ALPHA * 100)}% VaR (exact rank-cut order statistic) and "
    "CVaR/expected shortfall (mean of the tail)",
    ("mc", "qmc", "risk", "var", "deterministic"),
)
