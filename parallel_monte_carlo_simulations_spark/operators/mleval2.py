"""Model/experiment evaluation, part 2 (round 10): McNemar's paired
test and the decile lift/gains table.

**McNemar** is the before/after test the causal family was missing:
for PAIRED binary outcomes (the same customer observed in the pre and
post period), the marginal-change question "did the rate move?" is
answered by the DISCORDANT pairs alone — chi2 = (b - c)^2 / (b + c)
(b: 1->0, c: 0->1), continuity-corrected variant alongside. The
two-sample tests (Welch, chi-square independence) are wrong for this
design because the pairs are correlated.

**Decile lift** is the canonical model-triage table: rank by score,
cut into 10 equal buckets, report each bucket's response rate vs the
base rate (lift) and the cumulative capture (gains). Campaign targeting
reads this, not AUC.

Exactness: both reduce to exact integer cell/bucket counts; doubles
appear only in final mirrored ratios. The NTILE assignment is
deterministic (score DESC, orderkey tiebreak; both engines implement
SQL NTILE's larger-first-buckets rule identically).

Scale: McNemar is one customer-keyed groupBy then a scalar frame. The
lift table's exact NTILE is computed sort-free since round 11: the
range-bucketed rank kernel (operators/rankstats.py) assigns exact
global ranks in parallel and ``sql_ntile`` closed-forms the decile from
(rank, n) — same decile cuts as the window form, bit-for-bit, with no
single-partition global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.microunit import rdiv_halfup_duck, rdiv_halfup_expr
from ..registry import register
from ..tables import table

from .causal import SPLIT_DATE

_QMCNEMAR_ORACLE = f"""
WITH per AS (
  SELECT o_custkey,
         MAX(CASE WHEN o_orderdate <  TIMESTAMP '{SPLIT_DATE}'
                  THEN 1 ELSE 0 END) AS has_pre,
         MAX(CASE WHEN o_orderdate >= TIMESTAMP '{SPLIT_DATE}'
                  THEN 1 ELSE 0 END) AS has_post,
         MAX(CASE WHEN o_orderdate <  TIMESTAMP '{SPLIT_DATE}'
                   AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS pre_f,
         MAX(CASE WHEN o_orderdate >= TIMESTAMP '{SPLIT_DATE}'
                   AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS post_f
  FROM orders GROUP BY o_custkey
),
paired AS (SELECT pre_f, post_f FROM per WHERE has_pre = 1 AND has_post = 1),
cells AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(COUNT(*) FILTER (WHERE pre_f = 1 AND post_f = 1) AS BIGINT) AS a,
         CAST(COUNT(*) FILTER (WHERE pre_f = 1 AND post_f = 0) AS BIGINT) AS b,
         CAST(COUNT(*) FILTER (WHERE pre_f = 0 AND post_f = 1) AS BIGINT) AS c,
         CAST(COUNT(*) FILTER (WHERE pre_f = 0 AND post_f = 0) AS BIGINT) AS d
  FROM paired
)
SELECT n_pairs, a, b, c, d,
       CASE WHEN b + c > 0
            THEN {rdiv_halfup_duck("(b - c) * (b - c)", "b + c", 6)}
            END AS mcnemar_chi2,
       CASE WHEN b + c > 0
            THEN {rdiv_halfup_duck(
                "(ABS(b - c) - 1) * (ABS(b - c) - 1)", "b + c", 6)}
            END AS mcnemar_chi2_cc
FROM cells
"""


@register(
    "q_stat_mcnemar",
    oracle=_QMCNEMAR_ORACLE,
    description=(
        "McNemar's paired test: per-customer pre/post 'F'-status flags "
        "around the series midpoint, discordant-pair chi2 with and "
        "without continuity correction — the correlated-pairs test the "
        "two-sample battery cannot substitute"
    ),
    tags=("statistics", "hypothesis-test", "mcnemar", "paired", "causal"),
)
def q_stat_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    pre = F.col("o_orderdate") < F.lit(SPLIT_DATE).cast("timestamp")
    is_f = F.col("o_orderstatus") == "F"
    per = o.groupBy("o_custkey").agg(
        F.max(F.when(pre, 1).otherwise(0)).alias("has_pre"),
        F.max(F.when(~pre, 1).otherwise(0)).alias("has_post"),
        F.max(F.when(pre & is_f, 1).otherwise(0)).alias("pre_f"),
        F.max(F.when(~pre & is_f, 1).otherwise(0)).alias("post_f"),
    )
    paired = per.filter((F.col("has_pre") == 1) & (F.col("has_post") == 1))
    cells = paired.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.count(F.when((F.col("pre_f") == 1) & (F.col("post_f") == 1), 1))
        .cast("long")
        .alias("a"),
        F.count(F.when((F.col("pre_f") == 1) & (F.col("post_f") == 0), 1))
        .cast("long")
        .alias("b"),
        F.count(F.when((F.col("pre_f") == 0) & (F.col("post_f") == 1), 1))
        .cast("long")
        .alias("c"),
        F.count(F.when((F.col("pre_f") == 0) & (F.col("post_f") == 0), 1))
        .cast("long")
        .alias("d"),
    )
    diff = F.col("b") - F.col("c")
    tot = F.col("b") + F.col("c")
    # zero discordant pairs: Spark NULL vs DuckDB NaN would diverge on
    # degenerate data, so both engines emit NULL via a mirrored guard
    # (ADVICE r10).
    return cells.select(
        "n_pairs",
        "a",
        "b",
        "c",
        "d",
        F.when(
            tot > 0,
            rdiv_halfup_expr("(b - c) * (b - c)", "b + c", 6),
        )
        .otherwise(F.lit(None).cast("double"))
        .alias("mcnemar_chi2"),
        F.when(
            tot > 0,
            rdiv_halfup_expr(
                "(abs(b - c) - 1) * (abs(b - c) - 1)", "b + c", 6
            ),
        )
        .otherwise(F.lit(None).cast("double"))
        .alias("mcnemar_chi2_cc"),
    )


# --------------------------------------------------------------------------
# Decile lift / gains table.
# --------------------------------------------------------------------------

_QLIFT_ORACLE = f"""
WITH scored AS (
  SELECT o_orderkey,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS score,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
  FROM orders
),
tiled AS (
  SELECT pos,
         NTILE(10) OVER (ORDER BY score DESC, o_orderkey) AS decile
  FROM scored
),
per AS (
  SELECT decile,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(pos) AS BIGINT) AS n_pos
  FROM tiled GROUP BY decile
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(n_pos) AS BIGINT) AS pt
  FROM per
)
SELECT CAST(per.decile AS INTEGER) AS decile,
       per.n, per.n_pos,
       {rdiv_halfup_duck("per.n_pos", "per.n", 6)} AS pos_rate,
       {rdiv_halfup_duck("per.n_pos * tot.nt", "per.n * tot.pt", 6)} AS lift,
       CAST(SUM(per.n_pos) OVER (ORDER BY per.decile
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_pos,
       {rdiv_halfup_duck(
           "SUM(per.n_pos) OVER (ORDER BY per.decile "
           "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)",
           "tot.pt", 6)} AS cum_capture
FROM per CROSS JOIN tot
ORDER BY decile
"""


@register(
    "q_ml_lift_deciles",
    oracle=_QLIFT_ORACLE,
    description=(
        "decile lift/gains table of total-price ranking vs status 'F': "
        "deterministic NTILE(10) (score desc, orderkey tiebreak) via "
        "the range-bucketed rank kernel + closed-form sql_ntile, "
        "per-decile response rate, lift vs base rate, cumulative "
        "capture — the campaign-targeting report companion to "
        "q_roc_auc/q_pr_auc"
    ),
    tags=("ml", "evaluation", "lift", "gains", "window", "ranking"),
)
def q_ml_lift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE(10) over (score desc, orderkey) — but computed WITHOUT the
    global-sort window: the range-bucketed rank kernel (rankstats.py)
    gives each row its exact global rank in parallel, and sql_ntile()
    closed-forms SQL NTILE's larger-buckets-first rule from (rank, n).
    Bit-identical to the oracle's window form at any scale."""
    from .rankstats import bucketed_running, sql_ntile

    o = table(spark, sf_dir, "orders")
    scored = o.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("score"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("pos"),
    )
    nt = scored.agg(F.count(F.lit(1)).cast("long").alias("n_all"))
    ranked = bucketed_running(
        scored,
        axis=-F.col("score"),
        order=[F.desc("score"), F.col("o_orderkey").asc()],
        cums={"rank": F.lit(1)},
    )
    tiled = ranked.crossJoin(F.broadcast(nt)).select(
        "pos",
        sql_ntile(F.col("rank"), F.col("n_all"), 10).alias("decile"),
    )
    # sql_ntile yields deciles 1..10: the limit states that bound in the
    # plan, so the cumulative window below reads a capped frame.
    per = (
        tiled.groupBy("decile")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("pos").cast("long").alias("n_pos"),
        )
        .limit(10)
    )
    tot = per.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("n_pos").cast("long").alias("pt"),
    )
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            F.col("decile").cast("int").alias("decile"),
            "n",
            "n_pos",
            rdiv_halfup_expr("n_pos", "n", 6).alias("pos_rate"),
            rdiv_halfup_expr("n_pos * nt", "n * pt", 6).alias("lift"),
            F.sum("n_pos").over(wc).cast("long").alias("cum_pos"),
            F.sum("n_pos").over(wc).cast("long").alias("_cum2"),
            "pt",
        )
        .select(
            "decile",
            "n",
            "n_pos",
            "pos_rate",
            "lift",
            "cum_pos",
            rdiv_halfup_expr("_cum2", "pt", 6).alias("cum_capture"),
        )
        .orderBy("decile")
    )
