"""Hybrid retrieval: BM25 (sparse) + embedding cosine (dense) fused by
reciprocal-rank fusion.

Production RAG / search stacks run a lexical retriever and a vector
retriever side-by-side and merge their rankings; Cormack et al.'s RRF
(score = sum over lists of 1/(c + rank), c = 60) is the standard fusion
because it needs no score calibration between the two scales. Both
retrievers here are existing verified shapes — the BM25 pipeline from
``functions.text`` and the broadcast brute-force cosine from
``similarity.brute`` — so the new surface is the rank join + fusion.

Scale shape: each retriever's data-sized work is one corpus pass (tf
groupBy / broadcast-query cosine scan); the fusion joins two K-row rank
lists (K = 50) — driver-trivial at any corpus size. Ranks are
cross-engine deterministic (ordered on the 4-dp-rounded BM25 score and
the bit-identical cosine, doc-id tie-break), and the RRF score is a sum
of at most two identically-shaped double terms, so the fused ordering
oracles exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vectors import as_double, dot, norm, sql_as_double, sql_cosine
from ..functions.microunit import rdiv_halfup_duck, rdiv_halfup_expr, units_col
from ..registry import register
from ..tables import table

#: Sparse query terms (same fixed query as q_text_bm25) and the dense
#: query-by-example vector (vec_id 0, aligned with doc_id 0).
_TERMS = ("hash", "join", "stream")
_K1, _B = 1.2, 0.75

#: element-wise floor-form 1e-8 unit quantization of the per-term
#: BM25 contribution (r13): identical IEEE ops in both engines, so
#: the BIGINT unit is bit-equal and the per-doc SUM is exact and
#: order-independent (raw-double sums are the class that flipped
#: q05 at sf1.0); the string-form division renders the 4-dec score.
_BM25_U8_SUM = (
    "SUM(CAST(FLOOR((LN((s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5)"
    f" + 1.0) * tf.tf * ({_K1} + 1.0) / (tf.tf + {_K1} * (1.0 - {_B}"
    f" + {_B} * dl.dl / s.avgdl))) * 1e8 + 0.5) AS BIGINT))"
)
_QVEC = 0
_LIST_K = 50  #: depth of each retriever's candidate list
_RRF_C = 60  #: Cormack's constant
_FUSED_K = 20

_Q = sql_as_double("q.embedding")
_C = sql_as_double("c.embedding")

_QHYBRID_ORACLE = f"""
WITH dl AS (
  SELECT doc_id, len(list_filter(string_split(text, ' '), t -> t <> '')) AS dl
  FROM documents
),
stats AS (
  SELECT COUNT(*) AS n_docs, SUM(dl) * 1.0 / COUNT(*) AS avgdl FROM dl
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
  WHERE term IN {_TERMS!r}
  GROUP BY doc_id, term
),
dfreq AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term
),
bm25 AS (
  SELECT tf.doc_id,
         {rdiv_halfup_duck(_BM25_U8_SUM, "100000000", 4)} AS score
  FROM tf
  JOIN dfreq ON tf.term = dfreq.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats s
  GROUP BY tf.doc_id
),
sparse AS (
  SELECT doc_id, rk FROM (
    SELECT doc_id, CAST(row_number() OVER (
      ORDER BY score DESC, doc_id) AS INTEGER) AS rk
    FROM bm25
  ) WHERE rk <= {_LIST_K}
),
dense AS (
  SELECT doc_id, rk FROM (
    SELECT c.vec_id AS doc_id,
           CAST(row_number() OVER (
             ORDER BY {sql_cosine(_Q, _C)} DESC, c.vec_id) AS INTEGER) AS rk
    FROM (SELECT embedding FROM embeddings WHERE vec_id = {_QVEC}) q
    CROSS JOIN (SELECT vec_id, embedding FROM embeddings
                WHERE vec_id <> {_QVEC}) c
  ) WHERE rk <= {_LIST_K}
),
fused AS (
  SELECT COALESCE(s.doc_id, d.doc_id) AS doc_id,
         CAST(COALESCE(s.rk, 0) AS INTEGER) AS bm25_rank,
         CAST(COALESCE(d.rk, 0) AS INTEGER) AS cos_rank,
         (CASE WHEN s.rk IS NULL THEN 0.0e0
               ELSE 1.0e0 / ({_RRF_C} + s.rk) END)
         + (CASE WHEN d.rk IS NULL THEN 0.0e0
                 ELSE 1.0e0 / ({_RRF_C} + d.rk) END) AS rrf
  FROM sparse s FULL OUTER JOIN dense d ON s.doc_id = d.doc_id
)
SELECT doc_id, bm25_rank, cos_rank,
       FLOOR((rrf) * 1e6 + 0.5) / 1e6 AS rrf_score,
       CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INTEGER)
         AS fused_rank
FROM fused
QUALIFY fused_rank <= {_FUSED_K}
ORDER BY fused_rank
"""


@register(
    "q_search_hybrid_rrf",
    oracle=_QHYBRID_ORACLE,
    description=(
        f"hybrid retrieval: BM25 top-{_LIST_K} for query "
        f"{' '.join(_TERMS)!r} fused with embedding-cosine top-{_LIST_K} "
        f"(query-by-example vec {_QVEC}) via reciprocal-rank fusion "
        f"1/({_RRF_C}+rank) — the standard RAG two-retriever merge, "
        f"top-{_FUSED_K} with both source ranks"
    ),
    tags=("similarity", "text", "retrieval", "rrf", "llm-pipeline", "bm25"),
)
def q_search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both retrievers keep their verified plans: BM25's data-sized work
    is the tf groupBy (df/stats broadcast); the dense side broadcasts
    ONE query vector across the corpus scan. The fusion itself is a
    full outer join of two 50-row lists — trivially bounded. Rank 0
    encodes 'absent from that retriever's list'."""
    d = table(spark, sf_dir, "documents")
    dl = d.select(
        "doc_id",
        F.size(
            F.filter(F.split(F.col("text"), " "), lambda t: t != "")
        ).alias("dl"),
    )
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl") * F.lit(1.0) / F.count("*")).alias("avgdl"),
    )
    tf = (
        d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("term"))
        .filter(F.col("term").isin(*_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + _K1 * (
        1.0 - _B + _B * F.col("dl") / F.col("avgdl")
    )
    bm25 = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.sum(
                units_col(idf * F.col("tf") * (_K1 + 1.0) / denom, 8)
            ).alias("score_u8")
        )
        .select(
            "doc_id",
            rdiv_halfup_expr("score_u8", "100000000", 4).alias("score"),
        )
    )
    # Distributed top-k FIRST (TakeOrderedAndProject — no global sort,
    # no single-partition window over the corpus-fraction scored set),
    # then rank the 50-row result.
    sparse = (
        bm25.orderBy(F.desc("score"), "doc_id")
        .limit(_LIST_K)
        .withColumn(
            "rk",
            F.row_number()
            .over(Window.orderBy(F.desc("score"), "doc_id"))
            .cast("int"),
        )
        .select("doc_id", "rk")
    )

    e = table(spark, sf_dir, "embeddings")
    qvec = e.filter(F.col("vec_id") == _QVEC).select(
        as_double("embedding").alias("qemb")
    )
    corpus = e.filter(F.col("vec_id") != _QVEC).select(
        "vec_id", as_double("embedding").alias("emb")
    )
    cos = dot(F.col("qemb"), F.col("emb")) / (
        F.sqrt(dot(F.col("qemb"), F.col("qemb")))
        * F.sqrt(dot(F.col("emb"), F.col("emb")))
    )
    dense = (
        corpus.crossJoin(F.broadcast(qvec))
        .select(F.col("vec_id").alias("doc_id"), cos.alias("cos_raw"))
        .orderBy(F.desc("cos_raw"), "doc_id")
        .limit(_LIST_K)
        .withColumn(
            "rk",
            F.row_number()
            .over(Window.orderBy(F.desc("cos_raw"), "doc_id"))
            .cast("int"),
        )
        .select("doc_id", "rk")
    )

    rrf = (
        F.when(
            F.col("s_rk").isNull(), F.lit(0.0)
        ).otherwise(F.lit(1.0) / (F.lit(_RRF_C) + F.col("s_rk")))
    ) + (
        F.when(
            F.col("d_rk").isNull(), F.lit(0.0)
        ).otherwise(F.lit(1.0) / (F.lit(_RRF_C) + F.col("d_rk")))
    )
    fused = (
        sparse.withColumnRenamed("rk", "s_rk")
        .join(
            dense.withColumnRenamed("rk", "d_rk").withColumnRenamed(
                "doc_id", "d_doc_id"
            ),
            F.col("doc_id") == F.col("d_doc_id"),
            "full_outer",
        )
        .select(
            F.coalesce("doc_id", "d_doc_id").alias("doc_id"),
            F.coalesce("s_rk", F.lit(0)).cast("int").alias("bm25_rank"),
            F.coalesce("d_rk", F.lit(0)).cast("int").alias("cos_rank"),
            rrf.alias("rrf"),
        )
    )
    return (
        fused.withColumn(
            "fused_rank",
            F.row_number()
            .over(Window.orderBy(F.desc("rrf"), "doc_id"))
            .cast("int"),
        )
        .filter(F.col("fused_rank") <= _FUSED_K)
        .select(
            "doc_id",
            "bm25_rank",
            "cos_rank",
            (F.floor((F.col("rrf")) * 1e6 + 0.5) / 1e6).alias("rrf_score"),
            "fused_rank",
        )
        .orderBy("fused_rank")
    )
