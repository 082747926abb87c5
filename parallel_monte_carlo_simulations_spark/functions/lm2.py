"""Bigram language model with stupid backoff — the n-gram quality tier.

One rung above the unigram filter (:mod:`.lm`): train bigram + unigram
counts on HALF the corpus (even doc_ids), score the OTHER half — a real
train/held-out split, so unseen bigrams genuinely occur and the backoff
path is exercised, not dead code. Per scored token:

    P(w | w_prev) = count(w_prev, w) / count(w_prev)   if bigram seen
                  = 0.4 * (count(w) + 1) / (N + V)     otherwise
                    (stupid backoff into an add-one unigram)

This is the KenLM-shaped filter of LLM curation pipelines reduced to
its SQL-expressible core: token explode with positions, one self-shift
for bigrams (window lag — no self-join), two tiny count aggregates
broadcast back, one per-doc aggregate. Ranking uses the ROUNDED score
(same discipline as the unigram filter) so the top-N cut is stable
across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .microunit import rdiv_halfup_duck, rdiv_halfup_expr, units_col
from ..registry import register
from ..tables import table

N_LOWEST = 40
BACKOFF = 0.4

_QBIGRAM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, doc_id % 2 = 0 AS is_train, p.pos, arr[p.pos] AS tok,
         CASE WHEN p.pos > 1 THEN arr[p.pos - 1] END AS prev
  FROM (
    SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS arr
    FROM documents
  ),
  LATERAL (SELECT unnest(range(1, len(arr) + 1)) AS pos) p
),
uni AS (
  SELECT tok, COUNT(*) AS c FROM toks WHERE is_train GROUP BY tok
),
big AS (
  SELECT prev, tok, COUNT(*) AS c FROM toks
  WHERE is_train AND prev IS NOT NULL GROUP BY prev, tok
),
stats AS (
  SELECT SUM(c) AS n, COUNT(*) AS v FROM uni
),
scored AS (
  SELECT t.doc_id,
         COUNT(*) AS n_scored,
         SUM(CAST(FLOOR(log10(CASE
           WHEN b.c IS NOT NULL THEN b.c * 1.0 / up.c
           ELSE {BACKOFF} * (COALESCE(u.c, 0) + 1) * 1.0 / (stats.n + stats.v)
         END) * 1e8 + 0.5) AS BIGINT)) AS s_u8
  FROM toks t
  LEFT JOIN big b ON t.prev = b.prev AND t.tok = b.tok
  LEFT JOIN uni up ON t.prev = up.tok
  LEFT JOIN uni u ON t.tok = u.tok
  CROSS JOIN stats
  WHERE NOT t.is_train AND t.prev IS NOT NULL
  GROUP BY t.doc_id
)
SELECT doc_id,
       CAST(n_scored AS BIGINT) AS n_scored,
       {rdiv_halfup_duck("s_u8", "n_scored * 100000000", 4)} AS avg_logprob
FROM scored
ORDER BY avg_logprob, doc_id
LIMIT {N_LOWEST}
"""


@register(
    "q_text_bigram_backoff",
    oracle=_QBIGRAM_ORACLE,
    description=(
        "bigram LM with stupid backoff: train on even doc_ids, score the "
        f"held-out half by avg log10 P(w|w_prev); {N_LOWEST} most "
        "surprising docs"
    ),
    tags=("text", "lm", "bigram", "quality", "curation"),
)
def q_text_bigram_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = (
        d.select(
            "doc_id",
            (F.col("doc_id") % 2 == 0).alias("is_train"),
            F.posexplode(
                F.filter(F.split(F.lower("text"), " "), lambda x: x != "")
            ).alias("pos0", "tok"),
        )
        .withColumn(
            "prev",
            F.lag("tok").over(
                Window.partitionBy("doc_id").orderBy("pos0")
            ),
        )
    )
    train = toks.filter("is_train")
    uni = train.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    big = (
        train.filter(F.col("prev").isNotNull())
        .groupBy("prev", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    stats = uni.agg(F.sum("c").alias("n"), F.count(F.lit(1)).alias("v"))
    t = toks.filter(~F.col("is_train") & F.col("prev").isNotNull()).alias("t")
    # The LM tables are NOT broadcastable at scale: uni is vocab-sized
    # and big is bigram-vocab-sized (both grow with the training corpus;
    # their post-explode static estimates are bogus-small, so without
    # hints the planner broadcasts them — round-8 registry audit). Pin
    # sort-merge on the keyed lookups; only the keyless `stats` scalar
    # stays a broadcast.
    scored = (
        t.join(
            big.alias("b").hint("merge"),
            (F.col("t.prev") == F.col("b.prev")) & (F.col("t.tok") == F.col("b.tok")),
            "left",
        )
        .join(
            uni.alias("up").hint("merge"), F.col("t.prev") == F.col("up.tok"), "left"
        )
        .join(
            uni.alias("u").hint("merge"), F.col("t.tok") == F.col("u.tok"), "left"
        )
        .crossJoin(F.broadcast(stats))
        .select(
            F.col("t.doc_id").alias("doc_id"),
            F.log10(
                F.when(
                    F.col("b.c").isNotNull(),
                    F.col("b.c") * 1.0 / F.col("up.c"),
                ).otherwise(
                    F.lit(BACKOFF)
                    * (F.coalesce(F.col("u.c"), F.lit(0)) + 1)
                    * 1.0
                    / (F.col("n") + F.col("v"))
                )
            ).alias("lp"),
        )
    )
    agg = (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_scored"),
            # element-wise floor-form 1e-8 units: the per-token logprob
            # quantizes identically in both engines, the BIGINT sum is
            # order-independent, and the string-form division renders
            # the 4-dec average (raw-double sum was the q05 flip class)
            F.sum(units_col(F.col("lp"), 8)).alias("s_u8"),
        )
        .select(
            "doc_id",
            "n_scored",
            rdiv_halfup_expr("s_u8", "n_scored * 100000000", 4).alias(
                "avg_logprob"
            ),
        )
    )
    return agg.orderBy("avg_logprob", "doc_id").limit(N_LOWEST)
