"""Discretely-monitored barrier option on the LSMC path grid, exactly
DuckDB-oracled.

The path-DEPENDENT payoff class the GBM terminal twins can't express:
an up-and-out call is knocked out if the spot touches the barrier at
ANY monitoring date. Reuses ``lsmc.paths_sql``, the bit-exact quarterly
path construction (per-date Halton uniforms, stratum-mean
increments, literal multiplier CASEs, left-to-right product
association) and prices

    UOC = E[ e^{-rT} (S_T - K)^+ 1{max_t S_t < B} ]

alongside the vanilla European call on the SAME paths — the knock-out
discount (UOC <= vanilla, strictly where paths touch) is visible in
one row. Aggregate moments are floor-quantized per the shared MC
discipline, so price and standard error are bit-identical cross-engine.

Scale: identical profile to the LSMC pricer — a ``range`` source, pure
codegen CASE arithmetic per path, one partial-aggregated reduction.
"""

from __future__ import annotations

import math

from .lsmc import DT, N_DATES, RATE, paths_sql
from .shared_sql import lit, quant, register_sql

#: Barrier level (up-and-out) and strike for this product.
BARRIER = 130.0
B_STRIKE = 100.0
_DISC_T = lit(math.exp(-RATE * DT * N_DATES))


def _sql(duck: bool) -> str:
    running_max = "GREATEST(" + ", ".join(
        f"s{t}" for t in range(1, N_DATES + 1)
    ) + ")"
    vanilla = f"GREATEST(s{N_DATES} - {lit(B_STRIKE)}, 0.0e0)"
    uoc = (
        f"(CASE WHEN {running_max} < {lit(BARRIER)} "
        f"THEN {vanilla} ELSE 0.0e0 END)"
    )
    return (
        paths_sql(duck)
        + f",\nm AS (SELECT {quant('SUM(1.0e0)')} AS n, "
        f"{quant(f'SUM({uoc})')} AS sb, "
        f"{quant(f'SUM(({uoc}) * ({uoc}))')} AS sb2, "
        f"{quant(f'SUM({vanilla})')} AS sv, "
        f"{quant(f'SUM(CASE WHEN {running_max} >= {lit(BARRIER)} THEN 1.0e0 ELSE 0.0e0 END)')} AS knocked "
        f"FROM sp{N_DATES})\n"
        f"SELECT CAST(n AS BIGINT) AS n_paths, "
        f"{quant(f'{_DISC_T} * (sb / n)', 10_000)} AS barrier_price, "
        f"{quant(f'{_DISC_T} * (sv / n)', 10_000)} AS vanilla_price, "
        f"{quant('SQRT((sb2 - sb * sb / n) / (n - 1.0e0) / n)', 10_000)} "
        f"AS std_error, "
        f"CAST(knocked AS BIGINT) AS n_knocked FROM m"
    )


q_mc_qmc_barrier = register_sql(
    "q_mc_qmc_barrier",
    _sql,
    "up-and-out barrier call on the LSMC quarterly path grid: "
    "path-dependent knock-out vs the vanilla call on identical "
    "paths, exactly oracled",
    ("mc", "qmc", "barrier", "finance", "deterministic"),
)
