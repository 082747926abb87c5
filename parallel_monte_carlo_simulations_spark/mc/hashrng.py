"""Counter-based hash RNG MC — exactly-oracled twins for the last
rows-only MC class (trace analytics over pseudo-random walks/flips).

``q_mc_walk_drawdown`` and ``q_mc_heads_frequency`` (queries.py) are
reference-parity Philox simulations: property-tested, but their RNG
streams can't replay in SQL. The twins here swap the stream for a
COUNTER-BASED hash RNG — the same design idea as Philox itself
(Salmon et al., "Parallel Random Numbers: As Easy as 1, 2, 3", SC'11):
the t-th draw of simulation s is a pure function of (s, t), here the
repo's portable 60-bit md5 hash mapped to [0, 1). Both engines compute
the identical md5, so every draw — and every window statistic over the
paths — is bit-identical cross-engine and the driver's hash gate
verifies the whole computation.

This also fixes the scale story the sequential-stream originals can't
have: a counter RNG needs NO per-path state or ordering between draws,
so the (sim x step) grid is a pure ``range`` cross join — perfectly
partitionable at any scale, like the production counter RNGs used for
exactly this reason.

Normal increments are discretized through the 8-stratum conditional
means (``shared_sql.normal_case``); running path sums use an ORDER BY t
window (sequential left fold -> engine-identical), and the 0/1 coin
sums are exact integers in double, so AVG is order-independent.
"""

from __future__ import annotations

from .shared_sql import lit, normal_case, quant, range_rows, register_sql

N_SIMS = 200
N_STEPS = 50
START = 100.0

COIN_MODELS = ((0, 0.5, 16), (1, 0.7, 12))  # (model_id, bias, n_points)
COIN_SIMS = 500

_TWO60 = float(1 << 60)


def _hash60(expr: str, duck: bool) -> str:
    """Engine spelling of functions.hashing.hash60 (md5 -> 60-bit int);
    everything around it is shared text, so association is identical."""
    if duck:
        return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"
    return f"CAST(CONV(SUBSTRING(MD5({expr}), 1, 15), 16, 10) AS BIGINT)"


def _u01(tag: str, keys: list[str], duck: bool) -> str:
    """Uniform in [0, 1): hash60 of 'tag:k1:k2:...' / 2^60."""
    cast = "VARCHAR" if duck else "STRING"
    parts = ", ':', ".join(f"CAST({k} AS {cast})" for k in keys)
    h = _hash60(f"CONCAT('{tag}:', {parts})", duck)
    return f"({h} / {lit(_TWO60)})"


def _walk_sql(duck: bool) -> str:
    inc = normal_case(_u01("walk", ["s", "t"], duck))
    return f"""
WITH sims AS ({range_rows("s", 0, N_SIMS, duck)}),
steps AS ({range_rows("t", 0, N_STEPS, duck)}),
grid AS (SELECT s, t, {inc} AS inc FROM sims CROSS JOIN steps),
paths AS (
  SELECT s, t,
         {lit(START)} + SUM(inc) OVER (
           PARTITION BY s ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS v
  FROM grid
),
dd AS (
  SELECT s,
         MAX(v) OVER (
           PARTITION BY s ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) - v AS drawdown
  FROM paths
)
SELECT CAST(s AS BIGINT) AS sim_id,
       {quant("MAX(drawdown)")} AS max_drawdown
FROM dd
GROUP BY s
"""


q_mc_walk_drawdown_qmc = register_sql(
    "q_mc_walk_drawdown_qmc",
    _walk_sql,
    "exactly-oracled twin of q_mc_walk_drawdown: counter-hash RNG "
    "random walks (stateless (sim, step) grid), max drawdown via "
    "running-max window — every path value hash-verified",
    ("mc", "hashrng", "window", "analytics", "deterministic"),
)


def _coin_sql(duck: bool) -> str:
    u = _u01("coin", ["m", "s", "p"], duck)
    bias = " ".join(f"WHEN {m} THEN {lit(b)}" for m, b, _ in COIN_MODELS)
    lens = " OR ".join(f"(m = {m} AND p < {n})" for m, _, n in COIN_MODELS)
    models = ", ".join(str(m) for m, _, _ in COIN_MODELS)
    ms = f"unnest([{models}])" if duck else f"explode(array({models}))"
    n_pos = max(n for _, _, n in COIN_MODELS)
    return f"""
WITH models AS (SELECT {ms} AS m),
sims AS ({range_rows("s", 0, COIN_SIMS, duck)}),
pos AS ({range_rows("p", 0, n_pos, duck)}),
grid AS (
  SELECT m, s, p FROM models CROSS JOIN sims CROSS JOIN pos
  WHERE {lens}
),
flips AS (
  SELECT m, p,
         CASE WHEN {u} <= (CASE m {bias} END) THEN 1.0e0 ELSE 0.0e0 END AS h
  FROM grid
)
SELECT CAST(m AS INTEGER) AS model_id,
       CAST(p AS INTEGER) AS position,
       {quant("AVG(h)", 10_000)} AS h_frequency,
       CAST(COUNT(*) AS BIGINT) AS n_obs
FROM flips
GROUP BY m, p
"""


q_mc_heads_frequency_qmc = register_sql(
    "q_mc_heads_frequency_qmc",
    _coin_sql,
    "exactly-oracled twin of q_mc_heads_frequency: counter-hash coin "
    "flips for the reference's two demo models, per-position heads "
    "frequency (0/1 sums are exact in double, so AVG is "
    "order-independent)",
    ("mc", "hashrng", "aggregate", "deterministic"),
)
