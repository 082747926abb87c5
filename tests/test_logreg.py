"""Technique correctness of q_ml_logistic_irls, independent of the
cross-engine oracle gate: the two quantized Newton steps must make real
progress toward the converged MLE of the same binned model."""

from __future__ import annotations

import math

from parallel_monte_carlo_simulations_spark.operators.logreg import N_BINS

from ._compare import duckdb_connection

SF = "/root/testdata/sf0.01"

_BUCKETS_SQL = f"""
WITH raw AS (
  SELECT CAST(floor(o_totalprice * 100e0 + 0.5e0) AS BIGINT) AS cents,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS y
  FROM orders
),
bounds AS (SELECT MIN(cents) AS lo, MAX(cents) AS hi FROM raw)
SELECT ((r.cents - b.lo) * {N_BINS}) // (b.hi - b.lo + 1) AS bk,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(r.y) AS BIGINT) AS pos
FROM raw r CROSS JOIN bounds b
GROUP BY 1
"""


def _irls(buckets, n_iter):
    b0 = b1 = 0.0
    for _ in range(n_iter):
        sxx = sx = s1 = gx = g1 = 0.0
        for bk, n, pos in buckets:
            x = (bk + 0.5) / N_BINS
            p = 1.0 / (1.0 + math.exp(-(b0 + b1 * x)))
            w = n * p * (1.0 - p)
            g = pos - n * p
            sxx += w * x * x
            sx += w * x
            s1 += w
            gx += g * x
            g1 += g
        det = sxx * s1 - sx * sx
        b0 += (sxx * g1 - sx * gx) / det
        b1 += (gx * s1 - g1 * sx) / det
    return b0, b1


def test_newton_steps_converge_toward_mle():
    con = duckdb_connection(SF)
    buckets = con.execute(_BUCKETS_SQL).fetchall()
    b0_1, b1_1 = _irls(buckets, 1)
    b0_2, b1_2 = _irls(buckets, 2)
    b0_inf, b1_inf = _irls(buckets, 50)
    # each step strictly shrinks the distance to the converged MLE
    d1 = math.hypot(b0_1 - b0_inf, b1_1 - b1_inf)
    d2 = math.hypot(b0_2 - b0_inf, b1_2 - b1_inf)
    assert d2 < d1
    # and the registered query's 2-step result (quantized) is close to
    # the unquantized 2-step python replay
    oracle_sql = __import__(
        "parallel_monte_carlo_simulations_spark.operators.logreg",
        fromlist=["_ORACLE"],
    )._ORACLE
    row = con.execute(oracle_sql).fetchone()
    assert abs(row[0] - b0_2) < 1e-3
    assert abs(row[1] - b1_2) < 1e-3
    # the fitted slope is finite and the mid-bucket probability is a
    # genuine probability
    assert 0.0 < row[2] < 1.0
