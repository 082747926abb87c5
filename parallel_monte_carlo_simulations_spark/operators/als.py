"""Rank-1 ALS matrix factorization, exactly DuckDB-oracled.

Alternating least squares is THE distributed recommender workhorse
(Koren/Bell/Volinsky 2009; Spark MLlib's ALS). Rank-1 keeps every
half-step a closed-form ratio, so two full alternations are exactly
verifiable cross-engine:

    item factor   v_j = sum_i(r_ij * u_i) / (lambda + sum_i u_i^2)
    user factor   u_i = sum_j(r_ij * v_j) / (lambda + sum_j v_j^2)

Ratings are exact integers (total quantity a customer ordered of a
part). With u initialized to 1, the first item half-step is a ratio of
exact integer sums. Subsequent half-steps involve arbitrary doubles, so
the repo's quantized-term discipline applies: every per-rating product
is floor-quantized to an integer at 1e6 scale and summed as BIGINT
(order-independent), and each updated factor is one division of
identical doubles (IEEE-exact cross-engine).

Scale: each half-step is one groupBy on the updated side's key, with
the other side's factors joined in — ALS's canonical shuffle pattern.
Rank-1 ships one double per entity per step; rank-k ships k. The
final output is the top predicted (user, item) scores among observed
pairs — the fit, not a full cross recommendation (which would be
cartesian).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import adaptive_partitions, materialize, table

#: L2 regularization.
LAMBDA = 10
#: Quantization scale for cross-engine order-independent sums.
QSCALE = 1_000_000


def _ratings_sql() -> str:
    return """
  SELECT o.o_custkey AS user_id,
         l.l_partkey AS item_id,
         CAST(SUM(CAST(ROUND(l.l_quantity, 0) AS BIGINT)) AS BIGINT) AS r
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_custkey, l.l_partkey
"""


_QALS_ORACLE = f"""
WITH ratings AS ({_ratings_sql()}),
-- u0 = 1 for every user: v1 is a ratio of exact integer sums.
v1 AS (
  SELECT item_id,
         CAST(SUM(r) AS DOUBLE)
           / ({LAMBDA}e0 + CAST(COUNT(*) AS DOUBLE)) AS v
  FROM ratings GROUP BY item_id
),
-- user half-step: quantized products, BIGINT sums, one division.
u1 AS (
  SELECT ratings.user_id,
         (CAST(SUM(CAST(floor(ratings.r * v1.v * {QSCALE} + 0.5e0) AS BIGINT))
               AS DOUBLE) / {QSCALE}e0)
           / ({LAMBDA}e0
              + CAST(SUM(CAST(floor(v1.v * v1.v * {QSCALE} + 0.5e0) AS BIGINT))
                     AS DOUBLE) / {QSCALE}e0) AS u
  FROM ratings JOIN v1 ON ratings.item_id = v1.item_id
  GROUP BY ratings.user_id
),
-- second item half-step closes the alternation.
v2 AS (
  SELECT ratings.item_id,
         (CAST(SUM(CAST(floor(ratings.r * u1.u * {QSCALE} + 0.5e0) AS BIGINT))
               AS DOUBLE) / {QSCALE}e0)
           / ({LAMBDA}e0
              + CAST(SUM(CAST(floor(u1.u * u1.u * {QSCALE} + 0.5e0) AS BIGINT))
                     AS DOUBLE) / {QSCALE}e0) AS v
  FROM ratings JOIN u1 ON ratings.user_id = u1.user_id
  GROUP BY ratings.item_id
),
scored AS (
  SELECT r.user_id, r.item_id, r.r,
         FLOOR((u1.u * v2.v) * 1e6 + 0.5) / 1e6 AS predicted
  FROM ratings r
  JOIN u1 ON r.user_id = u1.user_id
  JOIN v2 ON r.item_id = v2.item_id
)
SELECT user_id, item_id, r, predicted
FROM scored
ORDER BY predicted DESC, user_id, item_id
LIMIT 50
"""


@register(
    "q_recsys_als_rank1",
    oracle=_QALS_ORACLE,
    description=(
        "rank-1 ALS matrix factorization (2 alternations) over the "
        "customer x part quantity matrix: closed-form half-steps, "
        "quantized-term sums, top fitted scores"
    ),
    tags=("recommender", "als", "ml", "iterative", "join", "aggregate"),
)
def q_recsys_als_rank1(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    # Referenced by v1, u1, v2, AND the final scoring join — cache once
    # instead of recomputing the fact join 4x (measured 2.0 s -> 1.5 s
    # steady-state at sf0.1, same JVM).
    #
    # r13 (guide §2.2/§2.4): cache in hash(item_id, P) layout. Three of
    # the four consumers key on item_id (v1 agg, the u1 ratings-side
    # join, the final scoring join), so those three corpus exchanges
    # disappear; only the user_id-keyed half-steps still shuffle.
    # Same-JVM A/B (OPTIMIZATION_r13.md, "q_recsys_als_rank1"; 4
    # interleaved reps): median 6.89 s -> 3.45 s, min 5.68 -> 2.97 at
    # sf0.1/local[32], 50-row output asserted cell-identical. P is
    # byte-derived so the pin stays in the guide's partition-size band
    # at any deployment scale.
    ratings = materialize(
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("l_partkey").alias("item_id"),
        )
        .agg(F.sum(F.round(F.col("l_quantity"), 0).cast("long")).alias("r")),
        adaptive_partitions(spark, sf_dir),
        "item_id",
    )

    def _quant(col):
        return F.floor(col * QSCALE + F.lit(0.5)).cast("long")

    lam = float(LAMBDA)
    v1 = ratings.groupBy("item_id").agg(
        (
            F.sum("r").cast("double")
            / (F.lit(lam) + F.count("*").cast("double"))
        ).alias("v")
    )
    u1 = materialize(  # u1 feeds both v2 and the final join
        ratings.join(v1, "item_id")
        .groupBy("user_id")
        .agg(
            (
                (F.sum(_quant(F.col("r") * F.col("v"))).cast("double") / QSCALE)
                / (
                    F.lit(lam)
                    + F.sum(_quant(F.col("v") * F.col("v"))).cast("double")
                    / QSCALE
                )
            ).alias("u")
        )
    )
    v2 = (
        ratings.join(u1, "user_id")
        .groupBy("item_id")
        .agg(
            (
                (F.sum(_quant(F.col("r") * F.col("u"))).cast("double") / QSCALE)
                / (
                    F.lit(lam)
                    + F.sum(_quant(F.col("u") * F.col("u"))).cast("double")
                    / QSCALE
                )
            ).alias("v")
        )
    )
    return (
        ratings.join(u1, "user_id")
        .join(v2, "item_id")
        .select(
            "user_id",
            "item_id",
            "r",
            (F.floor((F.col("u") * F.col("v")) * 1e6 + 0.5) / 1e6).alias("predicted"),
        )
        .orderBy(F.desc("predicted"), "user_id", "item_id")
        .limit(50)
    )
