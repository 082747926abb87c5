"""Model-evaluation statistics as exact-integer aggregations.

A 100 TB training pipeline needs to *evaluate* models and features in
the warehouse, not just transform rows: ranking quality (ROC AUC),
monotone association (Spearman's rho), and single-feature split quality
(decision-stump Gini) are the workhorse screens. All three reduce to
rank/count sufficient statistics, so each is one or two shuffles of
integer aggregation — the same "training/eval is an agg" shape as
``mlstats.q_ols_regression``.

Cross-engine exactness follows the repo discipline: every rank and
count is an exact integer (doubled midranks keep tie-averaged ranks
integral), sums run in Spark DECIMAL / DuckDB BIGINT-HUGEINT, and
doubles enter only in a final mirrored-association expression, so the
rounded statistics are bit-identical across engines.

- **ROC AUC** via the rank-sum identity ``AUC = (R1 - n1(n1+1)/2) /
  (n1 n0)`` with doubled midranks: ``2·AUC·n1·n0 = D1 - n1(n1+1)``
  where ``D1 = Σ (doubled midrank of positives)`` — all integers.
- **Spearman's rho** = Pearson over doubled midranks (scale-invariant,
  so doubling does not change rho).
- **Decision stump**: weighted Gini impurity of every ``p_size``
  threshold from one cumulative-count window pass, argmin marked.

Scale notes (100 TB): each statistic groups by a low-cardinality
segment key and aggregates integers map-side; the per-(segment, value)
pre-aggregation bounds window input at distinct-value cardinality, not
row count. No collect, no Python UDFs, no cartesian joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..tables import table

_QAUC_ORACLE = """
WITH scored AS (
  SELECT o_orderpriority AS segment,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS score,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
  FROM orders
),
grp AS (
  SELECT segment, score,
         CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(pos) AS BIGINT) AS pos
  FROM scored GROUP BY segment, score
),
ranked AS (
  SELECT segment, cnt, pos,
         COALESCE(SUM(cnt) OVER (
           PARTITION BY segment ORDER BY score
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS cum_before
  FROM grp
),
agg AS (
  SELECT segment,
         CAST(SUM(pos * ((2 * cum_before) + cnt + 1)) AS BIGINT) AS d1,
         CAST(SUM(pos) AS BIGINT) AS n1,
         CAST(SUM(cnt) AS BIGINT) AS n
  FROM ranked GROUP BY segment
)
SELECT segment,
       n1 AS n_pos,
       (n - n1) AS n_neg,
       FLOOR((CAST(d1 - (n1 * (n1 + 1)) AS DOUBLE)
             / CAST(2 * n1 * (n - n1) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS auc
FROM agg
WHERE n1 > 0 AND n - n1 > 0
ORDER BY segment
"""


@register(
    "q_roc_auc",
    oracle=_QAUC_ORACLE,
    description=(
        "ROC AUC of order total-price as a ranking score for status 'F', "
        "per order priority, via the integer rank-sum identity with "
        "doubled midranks (tie-exact)"
    ),
    tags=("ml", "evaluation", "auc", "ranking", "statistics", "window"),
)
def q_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUC = P(score_pos > score_neg) + 0.5·P(tie), the Mann-Whitney
    identity. Doubled midranks: a tie group of ``cnt`` rows starting
    after ``cum_before`` earlier rows has average rank
    ``cum_before + (cnt+1)/2``; doubling makes it the integer
    ``2·cum_before + cnt + 1``. Summing over positives gives integer
    ``D1 = 2·R1``, and ``AUC = (D1 - n1(n1+1)) / (2·n1·n0)`` — one
    double division over exact integers, mirrored in the oracle.
    """
    o = table(spark, sf_dir, "orders")
    scored = o.select(
        F.col("o_orderpriority").alias("segment"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("score"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("pos"),
    )
    grp = scored.groupBy("segment", "score").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("pos").cast("long").alias("pos"),
    )
    # cum_before via the range-bucketed kernel (round 11): the
    # 5-priority partition spec would serialize the distinct-score
    # frame through 5 window tasks at scale.
    from .rankstats import bucketed_running

    ranked = bucketed_running(
        grp,
        axis="score",
        order=[F.col("score").asc()],
        cums={"cum_incl": F.col("cnt")},
        partition_by=("segment",),
    ).select(
        "segment",
        "cnt",
        "pos",
        (F.col("cum_incl") - F.col("cnt")).alias("cum_before"),
    )
    agg = ranked.groupBy("segment").agg(
        F.sum(
            F.col("pos") * ((2 * F.col("cum_before")) + F.col("cnt") + 1)
        )
        .cast("long")
        .alias("d1"),
        F.sum("pos").cast("long").alias("n1"),
        F.sum("cnt").cast("long").alias("n"),
    )
    n0 = F.col("n") - F.col("n1")
    return (
        agg.where((F.col("n1") > 0) & (n0 > 0))
        .select(
            "segment",
            F.col("n1").alias("n_pos"),
            n0.alias("n_neg"),
            (F.floor(((F.col("d1") - (F.col("n1") * (F.col("n1") + 1))).cast(
                    "double"
                )
                / (2 * F.col("n1") * n0).cast("double")) * 1e6 + 0.5) / 1e6).alias("auc"),
        )
        .orderBy("segment")
    )


_QSPEARMAN_ORACLE = """
WITH vals AS (
  SELECT l_returnflag AS flag,
         CAST(l_quantity AS BIGINT) AS x,
         CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS y
  FROM lineitem
),
ranked AS (
  SELECT flag,
         (2 * RANK() OVER (PARTITION BY flag ORDER BY x))
           + (COUNT(*) OVER (PARTITION BY flag, x)) - 1 AS dx,
         (2 * RANK() OVER (PARTITION BY flag ORDER BY y))
           + (COUNT(*) OVER (PARTITION BY flag, y)) - 1 AS dy
  FROM vals
),
stats AS (
  SELECT flag,
         CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(CAST(dx AS HUGEINT)) AS HUGEINT) AS sdx,
         CAST(SUM(CAST(dy AS HUGEINT)) AS HUGEINT) AS sdy,
         CAST(SUM(CAST(dx AS HUGEINT) * CAST(dx AS HUGEINT)) AS HUGEINT)
           AS sdxx,
         CAST(SUM(CAST(dx AS HUGEINT) * CAST(dy AS HUGEINT)) AS HUGEINT)
           AS sdxy,
         CAST(SUM(CAST(dy AS HUGEINT) * CAST(dy AS HUGEINT)) AS HUGEINT)
           AS sdyy,
         CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM ranked GROUP BY flag
)
SELECT flag,
       n_rows,
       FLOOR((CAST((n * sdxy) - (sdx * sdy) AS DOUBLE)
             / sqrt(CAST((n * sdxx) - (sdx * sdx) AS DOUBLE)
                    * CAST((n * sdyy) - (sdy * sdy) AS DOUBLE))) * 1e6 + 0.5) / 1e6
         AS spearman_rho
FROM stats
ORDER BY flag
"""


@register(
    "q_spearman_corr",
    oracle=_QSPEARMAN_ORACLE,
    description=(
        "Spearman rank correlation of quantity vs extended price per "
        "return flag — Pearson over integer doubled midranks, exact "
        "DECIMAL/HUGEINT sufficient statistics"
    ),
    tags=("ml", "statistics", "correlation", "rank", "window"),
)
def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman = Pearson on ranks; rho is scale-invariant so doubled
    midranks (integers even under ties: ``2·RANK() + tie_count - 1``)
    give the identical statistic with fully integer inputs. Sums run in
    DECIMAL(38,0) (oracle: HUGEINT) — exact, order-independent — and
    the final expression casts the exact integers to double with the
    same association on both sides.
    """
    li = table(spark, sf_dir, "lineitem")
    vals = li.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("y"),
    )
    # Doubled midranks per distinct value — 2*RANK + tie_count - 1 ==
    # 2*cum_before + cnt + 1 — come from the range-bucketed kernel per
    # axis and join back (round 11): the per-flag rank windows would
    # otherwise serialize all lineitems through |flags| tasks.
    from .rankstats import bucketed_running

    def _midranks(col: str, out: str) -> DataFrame:
        byv = vals.groupBy("flag", col).agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
        return bucketed_running(
            byv,
            axis=col,
            order=[F.col(col).asc()],
            cums={"cum": F.col("cnt")},
            partition_by=("flag",),
        ).select(
            "flag",
            col,
            (2 * (F.col("cum") - F.col("cnt")) + F.col("cnt") + 1)
            .cast("decimal(18,0)")
            .alias(out),
        )

    ranked = (
        vals.join(_midranks("x", "dx"), ["flag", "x"])
        .join(_midranks("y", "dy"), ["flag", "y"])
        .select("flag", "dx", "dy")
    )
    stats = ranked.groupBy("flag").agg(
        F.count(F.lit(1)).cast("decimal(18,0)").alias("n"),
        F.sum("dx").alias("sdx"),
        F.sum("dy").alias("sdy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sdxx"),
        F.sum(F.col("dx") * F.col("dy")).alias("sdxy"),
        F.sum(F.col("dy") * F.col("dy")).alias("sdyy"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    num = ((F.col("n") * F.col("sdxy")) - (F.col("sdx") * F.col("sdy"))).cast(
        "double"
    )
    vx = ((F.col("n") * F.col("sdxx")) - (F.col("sdx") * F.col("sdx"))).cast(
        "double"
    )
    vy = ((F.col("n") * F.col("sdyy")) - (F.col("sdy") * F.col("sdy"))).cast(
        "double"
    )
    return stats.select(
        "flag",
        "n_rows",
        (F.floor((num / F.sqrt(vx * vy)) * 1e6 + 0.5) / 1e6).alias("spearman_rho"),
    ).orderBy("flag")


_QSTUMP_ORACLE = """
WITH labeled AS (
  SELECT p_size AS size,
         CASE WHEN p_retailprice >= 950.0 THEN 1 ELSE 0 END AS pos
  FROM part
),
per_size AS (
  SELECT size,
         CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(pos) AS BIGINT) AS pos
  FROM labeled GROUP BY size
),
cum AS (
  SELECT size,
         SUM(cnt) OVER (ORDER BY size
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_l,
         SUM(pos) OVER (ORDER BY size
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pos_l,
         SUM(cnt) OVER () AS n,
         SUM(pos) OVER () AS pos_t
  FROM per_size
),
gini AS (
  SELECT size, n_l, pos_l,
         FLOOR(((
           (CAST((n_l * n_l) - (pos_l * pos_l)
                 - ((n_l - pos_l) * (n_l - pos_l)) AS DOUBLE)
            / CAST(n_l AS DOUBLE))
           + (CAST(((n - n_l) * (n - n_l))
                   - ((pos_t - pos_l) * (pos_t - pos_l))
                   - (((n - n_l) - (pos_t - pos_l))
                      * ((n - n_l) - (pos_t - pos_l))) AS DOUBLE)
              / CAST(n - n_l AS DOUBLE))
         ) / CAST(n AS DOUBLE)) * 1e8 + 0.5) / 1e8 AS gini_weighted
  FROM cum
  WHERE n - n_l > 0
),
best AS (
  SELECT size AS best_threshold
  FROM gini ORDER BY gini_weighted, size LIMIT 1
)
SELECT g.size AS size_threshold,
       CAST(g.n_l AS BIGINT) AS n_left,
       CAST(g.pos_l AS BIGINT) AS pos_left,
       g.gini_weighted,
       CASE WHEN g.size = b.best_threshold THEN 1 ELSE 0 END AS is_best
FROM gini g CROSS JOIN best b
ORDER BY g.size
"""


@register(
    "q_tree_split_gini",
    oracle=_QSTUMP_ORACLE,
    description=(
        "decision-stump split search: weighted Gini impurity of every "
        "p_size threshold predicting premium retail price, from one "
        "cumulative-count window pass; argmin threshold marked"
    ),
    tags=("ml", "decision-tree", "gini", "window", "aggregate"),
)
def q_tree_split_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best binary split of an integer feature = one pre-aggregation to
    (size -> count, positives), one cumulative window over at most
    ``distinct(size)`` rows (50 here, never row count), then a
    closed-form impurity per threshold. ``n·Gini_weighted`` has integer
    numerators ``nL² - posL² - negL²`` per side, so the double division
    is over exact integers; the argmin is taken on the *rounded* value
    with threshold tiebreak, making the marked best row deterministic
    across engines.
    """
    p = table(spark, sf_dir, "part")
    labeled = p.select(
        F.col("p_size").alias("size"),
        F.when(F.col("p_retailprice") >= 950.0, 1).otherwise(0).alias("pos"),
    )
    per_size = labeled.groupBy("size").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("pos").cast("long").alias("pos"),
    )
    w_cum = Window.orderBy("size").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per_size.select(
        "size",
        F.sum("cnt").over(w_cum).alias("n_l"),
        F.sum("pos").over(w_cum).alias("pos_l"),
        F.sum("cnt").over(w_all).alias("n"),
        F.sum("pos").over(w_all).alias("pos_t"),
    )
    n_r = F.col("n") - F.col("n_l")
    neg_l = F.col("n_l") - F.col("pos_l")
    pos_r = F.col("pos_t") - F.col("pos_l")
    neg_r = n_r - pos_r
    term_l = (
        (F.col("n_l") * F.col("n_l"))
        - (F.col("pos_l") * F.col("pos_l"))
        - (neg_l * neg_l)
    ).cast("double") / F.col("n_l").cast("double")
    term_r = ((n_r * n_r) - (pos_r * pos_r) - (neg_r * neg_r)).cast(
        "double"
    ) / n_r.cast("double")
    gini = cum.where(n_r > 0).select(
        "size",
        "n_l",
        "pos_l",
        (F.floor(((term_l + term_r) / F.col("n").cast("double")) * 1e8 + 0.5) / 1e8).alias(
            "gini_weighted"
        ),
    )
    best = gini.agg(
        F.min_by(
            "size", F.struct(F.col("gini_weighted"), F.col("size"))
        ).alias("best_threshold")
    )
    return (
        gini.crossJoin(F.broadcast(best))
        .select(
            F.col("size").alias("size_threshold"),
            F.col("n_l").alias("n_left"),
            F.col("pos_l").alias("pos_left"),
            "gini_weighted",
            F.when(F.col("size") == F.col("best_threshold"), 1)
            .otherwise(0)
            .alias("is_best"),
        )
        .orderBy("size_threshold")
    )


# --------------------------------------------------------------------------
# PR-AUC (trapezoidal average precision) — the imbalanced-data companion
# to q_roc_auc: ROC flatters skewed classes, the PR curve does not.
# --------------------------------------------------------------------------

_QPRAUC_ORACLE = """
WITH scored AS (
  SELECT o_orderpriority AS segment,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS score,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
  FROM orders
),
grp AS (
  SELECT segment, score,
         CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(pos) AS BIGINT) AS pos
  FROM scored GROUP BY segment, score
),
tot AS (
  SELECT segment, CAST(SUM(pos) AS BIGINT) AS n1,
         CAST(SUM(cnt) AS BIGINT) AS n
  FROM grp GROUP BY segment
),
cum AS (
  SELECT g.segment, t.n1, t.n,
         SUM(g.cnt) OVER w AS n_cum,
         SUM(g.pos) OVER w AS pos_cum
  FROM grp g JOIN tot t ON t.segment = g.segment
  WINDOW w AS (PARTITION BY g.segment ORDER BY g.score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
pts AS (
  SELECT segment, n1, n,
         CAST(pos_cum AS DOUBLE) / n1 AS r,
         CAST(pos_cum AS DOUBLE) / n_cum AS p,
         COALESCE(LAG(CAST(pos_cum AS DOUBLE) / n1) OVER w2, 0.0e0) AS r0,
         COALESCE(LAG(CAST(pos_cum AS DOUBLE) / n_cum) OVER w2, 1.0e0) AS p0
  FROM cum
  WHERE n1 > 0
  WINDOW w2 AS (PARTITION BY segment ORDER BY n_cum)
),
terms AS (
  SELECT segment, n1, n,
         CAST(FLOOR(((r - r0) * (p + p0) / 2.0e0) * 1e12 + 0.5) / 1e12 AS DECIMAL(24,12))
           AS term
  FROM pts
)
SELECT segment,
       CAST(ANY_VALUE(n1) AS BIGINT) AS n_pos,
       CAST(ANY_VALUE(n) - ANY_VALUE(n1) AS BIGINT) AS n_neg,
       FLOOR((CAST(SUM(term) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS pr_auc
FROM terms
GROUP BY segment
ORDER BY segment
"""


@register(
    "q_pr_auc",
    oracle=_QPRAUC_ORACLE,
    description=(
        "PR-AUC (trapezoidal average precision) of order total-price as "
        "a ranking score for status 'F', per priority: tie-exact "
        "score-group curve anchored at (recall 0, precision 1), "
        "decimal-quantized trapezoid terms — the imbalanced-data "
        "companion to q_roc_auc"
    ),
    tags=("ml", "evaluation", "pr-auc", "ranking", "statistics", "window"),
)
def q_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PR curve is evaluated at score-GROUP boundaries (ties form
    one block, so the curve — and the metric — is deterministic under
    ties), anchored at (r=0, p=1). Each trapezoid term is computed from
    exact integer (pos_cum, n_cum, n1) in identical double ops on both
    engines, rounded to 12 dp and summed as DECIMAL so cross-group
    addition order is irrelevant. The running sums over the
    distinct-score groups (corpus-sized per segment) go through the
    range-bucketed rank kernel, as in q_roc_auc."""
    o = table(spark, sf_dir, "orders")
    scored = o.select(
        F.col("o_orderpriority").alias("segment"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("score"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("pos"),
    )
    grp = scored.groupBy("segment", "score").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("pos").cast("long").alias("pos"),
    )
    tot = grp.groupBy("segment").agg(
        F.sum("pos").cast("long").alias("n1"),
        F.sum("cnt").cast("long").alias("n"),
    )
    from .rankstats import bucketed_running

    cum = (
        bucketed_running(
            grp.join(tot, "segment"),
            axis=-F.col("score"),
            order=[F.desc("score")],
            cums={"n_cum": F.col("cnt"), "pos_cum": F.col("pos")},
            partition_by=("segment",),
        )
        .filter(F.col("n1") > 0)
    )
    # the previous curve point is the running sums before this score
    # group: (pos_cum - pos, n_cum - cnt), or the (0, 1) anchor
    pos0, n0 = F.col("pos_cum") - F.col("pos"), F.col("n_cum") - F.col("cnt")
    pts = cum.select(
        "segment",
        "n1",
        "n",
        (F.col("pos_cum").cast("double") / F.col("n1")).alias("r"),
        (F.col("pos_cum").cast("double") / F.col("n_cum")).alias("p"),
        (pos0.cast("double") / F.col("n1")).alias("r0"),
        F.when(n0 == 0, F.lit(1.0))
        .otherwise(pos0.cast("double") / n0)
        .alias("p0"),
    )
    terms = pts.select(
        "segment",
        "n1",
        "n",
        (F.floor(((F.col("r") - F.col("r0"))
            * (F.col("p") + F.col("p0"))
            / F.lit(2.0)) * 1e12 + 0.5) / 1e12)
        .cast("decimal(24,12)")
        .alias("term"),
    )
    return (
        terms.groupBy("segment")
        .agg(
            F.any_value("n1").cast("long").alias("n_pos"),
            (F.any_value("n") - F.any_value("n1")).cast("long").alias("n_neg"),
            (F.floor((F.sum("term").cast("double")) * 1e6 + 0.5) / 1e6).alias("pr_auc"),
        )
        .orderBy("segment")
    )
