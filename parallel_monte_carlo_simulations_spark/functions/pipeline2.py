"""Multimodal pretraining shard builder — the second end-to-end
composite: text + embeddings jointly curated, packed, and sharded, as
ONE oracle-checked query.

  documents JOIN embeddings (doc_id = vec_id)
    -> exact-duplicate removal (md5 content hash, keep lowest doc_id)
    -> embedding gate (cosine-to-own-label-centroid >= 0.2 — drop
       off-cluster/mislabeled vectors; reuses the exact-decimal
       centroid + index-ordered cosine fold of similarity/centroid.py)
    -> greedy contiguous sequence packing into 512-token bins
       (running token sum DIV capacity over doc order — the packing a
       pretraining loader does to minimize padding)
    -> deterministic shard assignment (portable hash % 8)
    -> per-shard accounting: docs, tokens, bins, dropped counts

Proves the text, dedup, similarity, and sharding subsystems compose in
one Spark job: scan -> scalar hashing (no shuffle) -> centroid agg
(skinny shuffle) -> running-sum pack over doc order (the range-bucketed
rank kernel of operators/rankstats.py, no global window) -> final
groupBy. The oracle recomposes identical logic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import hash60, sql_hash60
from ..functions.vectors import as_double, cosine, sql_cosine
from ..registry import register
from ..similarity.centroid import _SQL_CENTROIDS, _centroids
from ..tables import table

PACK_TOKENS = 512
N_SHARDS = 8
MIN_COS = 0.2

_SHARD_HASH = sql_hash60("'shardp:' || CAST(doc_id AS VARCHAR)")

_QPRETRAIN_ORACLE = f"""
WITH joined AS (
  SELECT d.doc_id, d.text, d.lang,
         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
         md5(d.text) AS content_hash,
         e.label, e.embedding
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
),
dedup AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY content_hash
                                 ORDER BY doc_id) AS rk
    FROM joined
  ) WHERE rk = 1
),
cent AS ({_SQL_CENTROIDS}),
cvec AS (
  SELECT label, list(cval ORDER BY pos) AS cemb FROM cent GROUP BY label
),
gated AS (
  SELECT dd.doc_id, dd.lang, dd.n_tokens,
         FLOOR(({sql_cosine("list_transform(dd.embedding, x -> CAST(x AS DOUBLE))", "c.cemb")}) * 1e6 + 0.5) / 1e6 AS cos_c
  FROM dedup dd JOIN cvec c ON dd.label = c.label
),
kept AS (
  SELECT doc_id, lang, n_tokens, cos_c
  FROM gated WHERE cos_c >= {MIN_COS}
),
packed AS (
  SELECT doc_id, lang, n_tokens,
         (SUM(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
           // {PACK_TOKENS} AS bin_id,
         {_SHARD_HASH} % {N_SHARDS} AS shard
  FROM kept
)
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(COUNT(DISTINCT bin_id) AS BIGINT) AS n_bins,
       MIN(doc_id) AS min_doc
FROM packed
GROUP BY shard
ORDER BY shard
"""


@register(
    "q_pipeline_pretraining_shards",
    oracle=_QPRETRAIN_ORACLE,
    description=(
        "multimodal pretraining shard builder: exact dedup + embedding "
        "centroid gate + greedy 512-token packing + hash sharding, "
        "per-shard accounting — second end-to-end composite"
    ),
    tags=(
        "pipeline",
        "llm-pipeline",
        "dedup",
        "similarity",
        "packing",
        "sharding",
    ),
)
def q_pipeline_pretraining_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    e = table(spark, sf_dir, "embeddings")
    joined = d.join(e, d.doc_id == e.vec_id).select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        F.md5("text").alias("content_hash"),
        "label",
        "embedding",
    )
    dedup = (
        joined.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("content_hash").orderBy("doc_id")
            ),
        )
        .where(F.col("rk") == 1)
        .drop("rk")
    )
    cvec = (
        _centroids(spark, sf_dir)
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cval"))).alias("s"))
        .select(
            "label",
            F.transform(F.col("s"), lambda x: x["cval"]).alias("cemb"),
        )
    )
    gated = dedup.join(F.broadcast(cvec), "label").select(
        "doc_id",
        "lang",
        "n_tokens",
        (F.floor((cosine(as_double(F.col("embedding")), F.col("cemb"))) * 1e6 + 0.5) / 1e6).alias("cos_c"),
    )
    kept = gated.where(F.col("cos_c") >= MIN_COS)
    # the running token sum over doc order spans the whole curated
    # corpus: the range-bucketed kernel computes it without a global
    # window (doc_id is unique, so the ROWS frame is exact)
    from ..operators.rankstats import bucketed_running

    packed = bucketed_running(
        kept,
        axis="doc_id",
        order=[F.col("doc_id").asc()],
        cums={"cum_tokens": F.col("n_tokens")},
    ).select(
        "doc_id",
        "n_tokens",
        (
            (F.col("cum_tokens") - F.col("n_tokens"))
            / PACK_TOKENS
        )
        .cast("long")
        .alias("bin_id"),
        (
            hash60(
                F.concat(F.lit("shardp:"), F.col("doc_id").cast("string"))
            )
            % N_SHARDS
        ).alias("shard"),
    )
    return (
        packed.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.countDistinct("bin_id").alias("n_bins"),
            F.min("doc_id").alias("min_doc"),
        )
        .orderBy("shard")
    )
