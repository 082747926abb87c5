"""Longstaff-Schwartz American option pricing, exactly DuckDB-oracled.

The hardest MC algorithm in the engine to verify cross-engine: LSMC
prices an American put by BACKWARD INDUCTION — at each exercise date,
regress the discounted continuation value on a polynomial basis of the
spot over in-the-money paths, then exercise where intrinsic beats the
regression estimate. Naive LSMC is unverifiable against SQL because the
paths come from an RNG. This implementation makes every stage exactly
replayable:

- **Paths are quasi-random, not pseudo-random**: per (path i, date t)
  uniforms are Halton radical inverses (bases 2/3/5/7) — pure integer
  arithmetic in the path index, the ``q_mc_qmc_pi`` technique.
- **Increments are a discretized normal**: the uniform picks one of 8
  equiprobable normal strata, and the increment is the stratum's
  conditional mean E[Z | stratum] — literals computed once in Python
  (erf-based, no scipy) and pasted into BOTH engines' SQL, so spots are
  literal-product doubles, bit-identical cross-engine.
- **One SQL text, two engines**: the whole unrolled computation (path
  CTE, three regression CTEs, Cramer 3x3 solves, nested exercise
  decisions) is generated ONCE by ``lsmc_sql`` and executed by
  ``spark.sql`` and DuckDB (``shared_sql`` writes each engine's range
  source and integer division), so expression association is identical
  by construction. ``paths_sql``, the path grid, is shared with
  ``qmc_barrier.py``.
- **Moment quantization**: aggregate SUMs are the one place engines
  differ (summation order → last-ulp drift). Every regression moment is
  quantized with ``floor(x*10^6 + 0.5)/10^6`` BEFORE the solve, so the
  regression coefficients — and therefore every exercise decision — are
  bit-identical, not just close.

The variant implemented carries the discounted value (exercise-or-
continue) backward rather than raw cashflow dates; tests check the
American premium against an independent binomial tree on the same
discretized increments and the American >= European dominance.

Scale: paths are rows of a ``range`` source — embarrassingly parallel,
whole-stage-codegen arithmetic, three tiny (9-value) aggregate+broadcast
rounds. At 10^9 paths the plan is unchanged: the regressions are
partial-aggregated map-side; only 9 doubles per date cross the wire.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from .shared_sql import (
    N_STRATA,
    case_over,
    lit,
    oracle,
    quant,
    radical_inverse,
    range_rows,
)
from .shared_sql import stratum_means as _stratum_means

N_PATHS = 4096
S0, STRIKE = 100.0, 105.0
RATE, SIGMA = 0.04, 0.30
N_DATES, DT = 4, 0.25  # quarterly exercise over one year
_BASES_DIGITS = ((2, 12), (3, 8), (5, 6), (7, 5))  # cover N_PATHS=4096

# Per-step gross returns over the stratum index: literal multipliers
# exp((r - sigma^2/2) dt + sigma sqrt(dt) E[Z|stratum]).
_MULTIPLIERS = [
    lit(math.exp((RATE - 0.5 * SIGMA * SIGMA) * DT + SIGMA * math.sqrt(DT) * q))
    for q in _stratum_means(N_STRATA)
]
_DISC = lit(math.exp(-RATE * DT))


def paths_sql(duck: bool, parts: int | None = None) -> str:
    """The quarterly path grid (CTEs ``idx``, ``ks``, ``sp1`` ..
    ``sp{N_DATES}``; the last carries spots ``s1`` .. ``s{N_DATES}``).
    Per-date uniforms, strata and spots; parenthesized left-to-right
    products pin multiplication association."""
    ks_cols = ", ".join(
        f"CAST(FLOOR({radical_inverse('i + 1', b, d)} * {N_STRATA}) AS INTEGER)"
        f" AS k{t + 1}"
        for t, (b, d) in enumerate(_BASES_DIGITS)
    )
    spots = ",\n".join(
        f"sp{t} AS (SELECT *, ({lit(S0) if t == 1 else f's{t - 1}'} * "
        f"{case_over(f'k{t}', _MULTIPLIERS)}) AS s{t} "
        f"FROM {'ks' if t == 1 else f'sp{t - 1}'})"
        for t in range(1, N_DATES + 1)
    )
    return (
        f"WITH idx AS ({range_rows('i', 0, N_PATHS, duck, parts)}),\n"
        f"ks AS (SELECT i, {ks_cols} FROM idx),\n{spots}"
    )


def _cramer(pfx: str) -> str:
    """SELECT list solving the 3x3 normal equations A c = b for basis
    (1, x, x^2) by Cramer's rule; inputs are the quantized moments of
    CTE ``pfx`` (n, sx, sx2, sx3, sx4, sy, sxy, sx2y)."""
    det = (
        "(n * (sx2 * sx4 - sx3 * sx3)"
        " - sx * (sx * sx4 - sx3 * sx2)"
        " + sx2 * (sx * sx3 - sx2 * sx2))"
    )
    d0 = (
        "(sy * (sx2 * sx4 - sx3 * sx3)"
        " - sx * (sxy * sx4 - sx3 * sx2y)"
        " + sx2 * (sxy * sx3 - sx2 * sx2y))"
    )
    d1 = (
        "(n * (sxy * sx4 - sx3 * sx2y)"
        " - sy * (sx * sx4 - sx3 * sx2)"
        " + sx2 * (sx * sx2y - sxy * sx2))"
    )
    d2 = (
        "(n * (sx2 * sx2y - sxy * sx3)"
        " - sx * (sx * sx2y - sxy * sx2)"
        " + sy * (sx * sx3 - sx2 * sx2))"
    )
    return (
        f"SELECT {d0} / {det} AS {pfx}a0, {d1} / {det} AS {pfx}a1, "
        f"{d2} / {det} AS {pfx}a2"
    )


def _moments(x: str, y: str) -> str:
    """Quantized regression moments of (x, y) — see module docstring."""
    return ", ".join(
        f"{quant(agg)} AS {name}"
        for name, agg in (
            ("n", "SUM(1.0e0)"),
            ("sx", f"SUM({x})"),
            ("sx2", f"SUM({x} * {x})"),
            ("sx3", f"SUM(({x} * {x}) * {x})"),
            ("sx4", f"SUM(({x} * {x}) * ({x} * {x}))"),
            ("sy", f"SUM({y})"),
            ("sxy", f"SUM({x} * ({y}))"),
            ("sx2y", f"SUM(({x} * {x}) * ({y}))"),
        )
    )


def lsmc_sql(duck: bool, parts: int | None = None) -> str:
    """The shared SQL text: the path grid, three regressions, pricing."""
    pay = {t: f"GREATEST({lit(STRIKE)} - s{t}, 0.0e0)" for t in range(1, N_DATES + 1)}
    xs = {t: f"(s{t} / {lit(S0)})" for t in range(1, N_DATES + 1)}

    # value-at-date expressions, built backward. v4 is intrinsic at
    # expiry; v_t for t<4 needs the co{t} coefficients in scope.
    v = {N_DATES: f"({pay[N_DATES]})"}
    for t in range(N_DATES - 1, 0, -1):
        cont = (
            f"(co{t}a0 + co{t}a1 * {xs[t]} + co{t}a2 * ({xs[t]} * {xs[t]}))"
        )
        v[t] = (
            f"(CASE WHEN {pay[t]} > 0.0e0 AND {pay[t]} > {cont} "
            f"THEN {pay[t]} ELSE {_DISC} * {v[t + 1]} END)"
        )

    last = f"sp{N_DATES}"
    reg_ctes = []
    co_scope = []  # coefficient CTEs already defined, cross-joined in
    for t in range(N_DATES - 1, 0, -1):
        scope = "".join(f", co{u_}" for u_ in co_scope)
        y = f"{_DISC} * {v[t + 1]}"
        reg_ctes.append(
            f"reg{t} AS (SELECT {_moments(xs[t], y)} "
            f"FROM {last}{scope} WHERE {pay[t]} > 0.0e0)"
        )
        reg_ctes.append(f"co{t} AS ({_cramer(f'co{t}')} FROM reg{t})")
        co_scope.append(t)

    scope_all = "".join(f", co{u_}" for u_ in co_scope)
    euro = f"{lit(math.exp(-RATE * DT * N_DATES))} * AVG({pay[N_DATES]})"
    return (
        paths_sql(duck, parts)
        + ",\n"
        + ",\n".join(reg_ctes)
        + f"\nSELECT CAST(COUNT(*) AS BIGINT) AS n_paths, "
        f"{quant(f'{_DISC} * AVG({v[1]})', 10_000)} AS am_price, "
        f"{quant(euro, 10_000)} AS eu_price "
        f"FROM {last}{scope_all}"
    )


@register(
    "q_mc_american_lsmc",
    oracle=oracle(lsmc_sql),
    description=(
        "Longstaff-Schwartz American put on quasi-random GBM paths: "
        "3 backward-induction regressions (Cramer-solved, moment-"
        "quantized) + exercise decisions, exactly oracled end to end"
    ),
    tags=("mc", "qmc", "lsmc", "finance", "iterative", "deterministic"),
)
def q_mc_american_lsmc(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13 (guide §2.2): size the path-source partitions to the problem,
    # not the core count. The plan re-derives the 4096-path subtree for
    # each of the 3 regression aggregates plus the final pricing pass;
    # a bare range() gives defaultParallelism slices, so every one of
    # those stages paid 32 near-empty tasks (128 rows each) of almost
    # pure scheduling overhead. 512+ paths per task keeps the arithmetic
    # vectorizable and the stage at most defaultParallelism wide —
    # N_PATHS is an algorithm constant, so this is problem-adaptive at
    # every deployment size. (Only the Spark range source carries the
    # count, so this is the one family query that builds its text per
    # session. Partition count only changes double-sum order inside the
    # 1e-6-quantized moments — the same accepted variation as the
    # driver's local[8] vs the bench's local[32].)
    parts = max(1, min(spark.sparkContext.defaultParallelism, N_PATHS // 512))
    return spark.sql(lsmc_sql(False, parts))
