"""Brownian-bridge QMC path construction, exactly oracled.

The classic QMC variance-reduction construction: instead of building a
Brownian path increment-by-increment, fill it by BISECTION — the first
quasi-random dimension drives the terminal point W(T) (which carries
most of the payoff variance), later dimensions fill conditional
midpoints with shrinking variance. Low-discrepancy sequences are most
uniform in their leading dimensions, so bridging concentrates their
quality where it matters; this is the standard pairing for QMC option
pricing (Glasserman, "Monte Carlo Methods in Financial Engineering",
ch. 5).

Four monitoring dates t = T/4, T/2, 3T/4, T with the bridge recursion

    W(T)    = sqrt(T)   * z1
    W(T/2)  = W(T)/2    + sqrt(T/4) * z2
    W(T/4)  = W(T/2)/2  + sqrt(T/8) * z3
    W(3T/4) = (W(T/2) + W(T))/2 + sqrt(T/8) * z4

where each z is a stratified normal driven by a Halton uniform (the
LSMC discipline: 8 equiprobable strata, conditional-mean literals).
All coefficients are Python-computed double literals in ONE shared SQL
text, so W values are bit-identical cross-engine; spot prices use
exp(), whose engine libms may differ in the final ulp — outputs are
therefore AGGREGATES ONLY (no per-path threshold decisions), where the
accumulated ulp noise is ~1e-10, far inside the quantization.

Priced: an arithmetic-average Asian call (the payoff bridging exists
for) plus the terminal mean as a martingale sanity (≈ S0·e^{rT}).
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

N_PATHS = 8192
S0, STRIKE = 100.0, 102.0
RATE, SIGMA = 0.04, 0.25
T = 1.0
_BASES_DIGITS = ((2, 13), (3, 9), (5, 6), (7, 5))  # cover N_PATHS=8192


def _sql(duck: bool) -> str:
    zs = {
        t + 1: normal_case(radical_inverse("i + 1", b, d))
        for t, (b, d) in enumerate(_BASES_DIGITS)
    }
    # bridge levels (times T/4 .. T), built as chained CTE columns
    w_t = f"({lit(math.sqrt(T))} * z1)"
    w_half = f"(wT / 2.0e0 + {lit(math.sqrt(T / 4))} * z2)"
    w_q1 = f"(wH / 2.0e0 + {lit(math.sqrt(T / 8))} * z3)"
    w_q3 = f"((wH + wT) / 2.0e0 + {lit(math.sqrt(T / 8))} * z4)"

    def spot(w: str, t: float) -> str:
        drift = (RATE - 0.5 * SIGMA * SIGMA) * t
        return f"({lit(S0)} * EXP({lit(drift)} + {lit(SIGMA)} * {w}))"

    s1, s2 = spot("wQ1", T / 4), spot("wH", T / 2)
    s3, s4 = spot("wQ3", 3 * T / 4), spot("wT", T)
    avg_s = f"(({s1} + {s2} + {s3} + {s4}) / 4.0e0)"
    payoff = f"GREATEST({avg_s} - {lit(STRIKE)}, 0.0e0)"
    disc = lit(math.exp(-RATE * T))
    return f"""WITH idx AS ({range_rows("i", 0, N_PATHS, duck)}),
zcols AS (
  SELECT i, {zs[1]} AS z1, {zs[2]} AS z2, {zs[3]} AS z3, {zs[4]} AS z4
  FROM idx
),
w1 AS (SELECT *, {w_t} AS wT FROM zcols),
w2 AS (SELECT *, {w_half} AS wH FROM w1),
w3 AS (SELECT *, {w_q1} AS wQ1, {w_q3} AS wQ3 FROM w2)
SELECT CAST(COUNT(*) AS BIGINT) AS n_paths,
       {quant(f"AVG({s4})", 10_000)} AS mean_terminal,
       {quant(f"{disc} * AVG({payoff})", 10_000)} AS asian_call_price
FROM w3"""


q_mc_brownian_bridge = register_sql(
    "q_mc_brownian_bridge",
    _sql,
    "Brownian-bridge QMC: bisection path construction (terminal "
    "first, conditional midpoints after) pricing an arithmetic "
    "Asian call — exactly oracled via the shared-SQL discipline",
    ("mc", "qmc", "brownian_bridge", "finance", "deterministic"),
)
