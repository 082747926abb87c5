"""Corpus language-model scoring: unigram log-probability filters.

The standard cheap perplexity proxy in LLM-data curation: train a
unigram LM on the corpus itself (token frequencies), score every
document by its average token log10-probability, and surface the
lowest-scoring documents — statistical outliers whose token mix
diverges most from the corpus (boilerplate, noise, wrong-domain text).
This is the first stage of the classic quality-filter cascade (unigram
-> KenLM-style n-gram -> model-based), and the only one whose math is
fully SQL-expressible, so it is hash-verified cross-engine.

Scale shape: one token explode (narrow), one vocabulary aggregate
joined back sort-merge on the token (the vocabulary grows with the
corpus), one broadcast scalar total, one per-doc aggregate. Ranking
uses the ROUNDED score so the top-N cut is reproducible across engines
regardless of last-ulp libm differences in ``log10``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import table

N_LOWEST = 50

_QUNIGRAM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, t.tok
  FROM documents,
       LATERAL (SELECT unnest(string_split(lower(text), ' ')) AS tok) t
  WHERE t.tok <> ''
),
freq AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
tot AS (SELECT COUNT(*) AS t FROM toks),
scored AS (
  SELECT doc_id,
         COUNT(*)                       AS n_tokens,
         SUM(log10(f.c * 1.0 / tot.t)) AS s
  FROM toks JOIN freq f USING (tok), tot
  GROUP BY doc_id
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT)   AS n_tokens,
       FLOOR((s / n_tokens) * 1e4 + 0.5) / 1e4     AS avg_logprob
FROM scored
ORDER BY avg_logprob, doc_id
LIMIT {N_LOWEST}
"""


@register(
    "q_text_unigram_logprob",
    oracle=_QUNIGRAM_ORACLE,
    description=(
        "unigram-LM quality filter: score docs by average token "
        f"log10-probability under corpus frequencies; {N_LOWEST} most "
        "surprising docs"
    ),
    tags=("text", "lm", "quality", "curation"),
)
def q_text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = (
        d.select(
            "doc_id",
            F.explode(F.split(F.lower("text"), " ")).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tot = toks.agg(F.count(F.lit(1)).alias("t"))
    # freq is vocabulary-sized: it grows with the corpus (Heaps' law)
    # and a post-explode frame's static estimate hides that — pin
    # sort-merge; the scalar total stays a broadcast.
    scored = (
        toks.join(freq.hint("merge"), "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.log10(F.col("c") * 1.0 / F.col("t"))).alias("s"),
        )
    )
    return (
        scored.select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            (F.floor((F.col("s") / F.col("n_tokens")) * 1e4 + 0.5) / 1e4).alias("avg_logprob"),
        )
        .orderBy("avg_logprob", "doc_id")
        .limit(N_LOWEST)
    )
