"""Exactly-oracled QMC twin of the random-walk drawdown analytics.

``q_mc_walk_drawdown`` (queries.py) composes MC simulation with the
max-drawdown window — rows-only, because its Philox draws cannot be
replayed in SQL. This twin verifies the IDENTICAL analytics machinery
(per-path cumulative sum -> running peak -> max drawdown) on the
discretized-QMC path construction of ``lsmc.py``:

- per (path, step) uniform = Cranley-Patterson rotation: base-2
  radical inverse of the step, shifted mod 1 by the base-3 radical
  inverse of the path (pure integer-and-literal arithmetic);
- the step increment is the stratum conditional mean E[Z | stratum],
  quantized to a DECIMAL(29,9) literal — so every cumulative sum,
  running peak, and drawdown is EXACT DECIMAL arithmetic end to end
  (no float drift to quantize away: windowed decimal sums are
  order-fixed by the frame and exact regardless of the engine's
  internal segment-tree association);
- outputs: per-path max drawdown aggregated to count / mean / max and
  the share of paths with drawdown above 2.0 — one shared SQL text for
  both engines.

Scale: (path x step) rows from one ``range`` source, window partitioned
by path — embarrassingly parallel; only the final handful of aggregates
crosses the wire.
"""

from __future__ import annotations

from .shared_sql import (
    N_STRATA,
    case_over,
    radical_inverse,
    range_rows,
    register_sql,
    stratum_means,
)

N_PATHS = 1024
N_STEPS = 32
# The stratum-mean increments as exact DECIMAL(29,9) literals.
_INCS = [f"CAST({round(v, 9)!r} AS DECIMAL(29,9))" for v in stratum_means(N_STRATA)]


def _sql(duck: bool) -> str:
    # Cranley-Patterson rotation: the base-2 radical inverse of the STEP
    # gives each path the same low-discrepancy step skeleton, and the
    # base-3 radical inverse of the PATH shifts it mod 1 — uniformity is
    # preserved, paths are decorrelated, and everything stays literal
    # integer-and-double arithmetic. (A single flattened-index inverse
    # does NOT work here: either layout aliases path and step into the
    # same digits and produces degenerate — trending or identical —
    # walks; measured before settling on the rotation.)
    u_step = radical_inverse("step", 2, 5)  # 2^5 = 32 steps
    u_path = radical_inverse("path", 3, 7)  # 3^7 > 1024 paths
    u = f"(({u_step}) + ({u_path}))"
    frac = f"(({u}) - FLOOR({u}))"
    return f"""WITH idx AS ({range_rows("i", 0, N_PATHS * N_STEPS, duck)})
, ks AS (
  SELECT (i DIV {N_STEPS}) AS path, (i % {N_STEPS}) AS step,
         CAST(FLOOR({frac} * {N_STRATA}) AS INTEGER) AS k
  FROM idx
),
walk AS (
  SELECT path, step,
         SUM({case_over('k', _INCS)}) OVER (PARTITION BY path ORDER BY step
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS level
  FROM ks
),
dd AS (
  SELECT path, step, level,
         MAX(level) OVER (PARTITION BY path ORDER BY step
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
  FROM walk
),
per_path AS (
  SELECT path, MAX(peak - level) AS max_dd
  FROM dd GROUP BY path
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_paths,
       FLOOR((CAST(SUM(max_dd) AS DOUBLE) / COUNT(*)) * 1e6 + 0.5) / 1e6 AS mean_drawdown,
       FLOOR((CAST(MAX(max_dd) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS worst_drawdown,
       CAST(COUNT(*) FILTER (WHERE max_dd > CAST(2.0 AS DECIMAL(29,9)))
            AS BIGINT) AS n_above_2
FROM per_path
"""


q_mc_qmc_drawdown = register_sql(
    "q_mc_qmc_drawdown",
    _sql,
    "QMC twin of q_mc_walk_drawdown: stratified random-walk max "
    "drawdown via exact-decimal cumulative sums and running "
    "peaks — the drawdown window machinery, exactly oracled",
    ("mc", "qmc", "drawdown", "window", "deterministic"),
)
