"""Sobol low-discrepancy QMC — the second exactly-oracled quasi-random
generator, with genuinely different math from Halton.

Where Halton points are radical-inverse digit sums (``queries.py``'s
``q_mc_qmc_pi``), Sobol points are GRAY-CODE XOR folds of direction
numbers: ``x_i = XOR over set bits k of gray(i) of d_k``, with
dimension 2's direction numbers generated by the primitive polynomial
x^2 + x + 1 (m_k = 2 m_{k-1} XOR 4 m_{k-2} XOR m_{k-2}). Sobol is the
sequence production QMC actually uses (better 2D equidistribution than
Halton, O(1) incremental updates), and its arithmetic is pure integer
bit manipulation — so the whole estimator is whole-stage-codegen JVM
work AND exactly replayable in DuckDB.

Cross-engine note: integer XOR is spelled ``a ^ b`` in Spark SQL but
``xor(a, b)`` in DuckDB, so the one builder writes each engine's
spelling from its ``duck`` flag (``shared_sql`` owns the range source).
The direction numbers are Python-computed integer literals — identical
on both sides by construction.
"""

from __future__ import annotations

from .shared_sql import range_rows, register_sql

N_POINTS = 100_000
BITS = 20  # covers indices < 2^20


def _direction_numbers() -> tuple[list[int], list[int]]:
    d1 = [1 << (31 - k) for k in range(BITS)]  # dim 1: van der Corput
    m = [1, 3]  # dim 2: x^2 + x + 1, initial odd m-values
    for k in range(2, BITS):
        # m_k = 2 a1 m_{k-1} XOR 2^2 m_{k-2} XOR m_{k-2}; every m_k must
        # be odd and < 2^k or the sequence loses its (t,s)-net property.
        m.append((2 * m[k - 1]) ^ (4 * m[k - 2]) ^ m[k - 2])
    d2 = [m[k] << (31 - k) for k in range(BITS)]
    return d1, d2


def _xor(a: str, b: str, duck: bool) -> str:
    return f"xor({a}, {b})" if duck else f"(({a}) ^ ({b}))"


def _sobol_expr(d: list[int], duck: bool) -> str:
    """XOR fold over gray-code bits; ``g`` is the gray code column."""
    expr = "0"
    for k in range(BITS):
        bit = f"CASE WHEN ((g >> {k}) & 1) = 1 THEN {d[k]} ELSE 0 END"
        expr = _xor(expr, bit, duck)
    return f"(({expr}) / 4294967296.0e0)"


def _sql(duck: bool) -> str:
    d1, d2 = _direction_numbers()
    x, y = _sobol_expr(d1, duck), _sobol_expr(d2, duck)
    return f"""WITH pts AS ({range_rows("i", 1, N_POINTS + 1, duck)}),
g AS (SELECT {_xor("i", "i >> 1", duck)} AS g FROM pts)
SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(SUM(CASE WHEN {x} * {x} + {y} * {y} < 1.0e0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_inside,
       FLOOR((CAST(4.0 AS DOUBLE) * SUM(CASE WHEN {x} * {x} + {y} * {y} < 1.0e0
                       THEN 1 ELSE 0 END) / COUNT(*)) * 1e6 + 0.5) / 1e6 AS pi_est
FROM g
"""


q_mc_sobol_pi = register_sql(
    "q_mc_sobol_pi",
    _sql,
    f"Sobol QMC pi: {N_POINTS} points via gray-code XOR folds of "
    "primitive-polynomial direction numbers — second exactly-oracled "
    "quasi-random generator (pure integer bit math, zero Python)",
    ("mc", "qmc", "sobol", "deterministic"),
)
