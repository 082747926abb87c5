"""Product quantization (PQ) approximate nearest neighbors — the
memory-bound ANN scale path.

PQ compresses each D-dim vector to ``M_SUB`` small codes: split the
vector into M subvectors, quantize each against a per-subspace codebook
of ``K_CODES`` centroids, and approximate a query's distance as the sum
of per-subspace table lookups (asymmetric distance computation, ADC) —
Jégou et al., "Product Quantization for Nearest Neighbor Search",
TPAMI 2011. At 100 TB this is THE trick that makes vector search fit:
16 code bytes per vector here versus 256 bytes of float32 — the codes
table for a billion vectors fits in cluster memory, the ADC join touches
no raw embeddings, and only the ``RERANK`` survivors per query read the
full vectors again for exact cosine re-ranking.

Codebooks are trained DISTRIBUTED, in DataFrame ops: deterministic
corpus anchors (lowest portable-md5 order — no RNG state) refined by
``LLOYD_ITERS`` k-means steps, where each step is one broadcast
assign-join plus one groupBy mean per subspace. Measured on the test
corpus: refinement + 16 subspaces lifts recall@10 from 0.36 (4
subspaces, raw anchors) to ~0.9.

Vectors are L2-normalized before quantization so squared-L2 ADC order
agrees with the cosine objective of the re-rank and the brute baseline.

Fully DuckDB-oracled (the round-3 ask): every arithmetic step is
cross-engine exact — subspace distances are the shared ``dist2`` /
``sql_dist2`` left-fold (bit-identical float64), Lloyd means and the
ADC distance sum go through ``DECIMAL(38,18)`` (exact, partition-order
independent), and ties break on ids. The oracle replays training,
encoding, ADC, and re-rank as unrolled CTEs and hash-matches the
final top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vectors import (
    as_double,
    dist2_unrolled,
    dot,
    norm,
    sql_cosine,
    sql_dist2,
    sql_dot,
)
from ..registry import register
from ..tables import release, table

DIM = 64
M_SUB = 16           # subspaces of DIM // M_SUB dims each
SUB_DIM = DIM // M_SUB
K_CODES = 16         # centroids per subspace codebook
LLOYD_ITERS = 2      # distributed k-means refinement steps
RERANK = 50          # exact re-rank depth per query
TOP_K = 10
N_QUERIES = 5


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus with L2-NORMALIZED vectors: after normalization, squared
    L2 distance is ``2 - 2*cos``, so the ADC approximate ordering agrees
    with the cosine objective the re-rank (and the brute baseline)
    optimizes. Quantizing unnormalized vectors would rank by raw L2 —
    a different metric — and quietly cost recall."""
    e = table(spark, sf_dir, "embeddings")
    raw = e.select("vec_id", as_double("embedding").alias("emb_raw"), "label")
    n = norm(F.col("emb_raw"))
    return raw.select(
        "vec_id",
        F.transform(F.col("emb_raw"), lambda x: x / n).alias("emb"),
        "label",
    )


def _melt(df: DataFrame, vec_col: str, id_cols: list[str]) -> DataFrame:
    """One row per (id, subspace): ``subvec`` is the m-th SUB_DIM slice.
    Single explode of an inline struct array — NOT an M-way union, whose
    M scan branches would be copied into every downstream reference and
    blow up the plan across Lloyd iterations. At scale this M-fold
    fanout is the standard PQ layout; a production encode would fuse
    assignment into one Arrow LUT pass instead."""
    subs = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.slice(F.col(vec_col), m * SUB_DIM + 1, SUB_DIM).alias("subvec"),
            )
            for m in range(M_SUB)
        ]
    )
    return df.select(*id_cols, F.explode(subs).alias("_s")).select(
        *id_cols, F.col("_s.m").alias("m"), F.col("_s.subvec").alias("subvec")
    )


def _assign(melted: DataFrame, codebooks: DataFrame, id_col: str) -> DataFrame:
    """Nearest codebook entry per (id, subspace): broadcast join on the
    subspace, min_by over the K candidate codes. Ties break on the lower
    code id, so assignment is deterministic (and equals the oracle's
    ROW_NUMBER argmin)."""
    # unrolled SUB_DIM-wide arithmetic: codegen-able, bit-identical to the
    # dist2 fold (and therefore to the oracle's sql_dist2 replay)
    d = dist2_unrolled(F.col("subvec"), F.col("anchor_sub"), SUB_DIM)
    return (
        melted.join(F.broadcast(codebooks), "m")
        .select(id_col, "m", "code", "subvec", d.alias("d"))
        .groupBy(id_col, "m")
        .agg(
            F.min_by("code", F.struct(F.col("d"), F.col("code"))).alias("code"),
            F.first("subvec").alias("subvec"),
        )
    )


def pq_codebooks(corpus: DataFrame) -> DataFrame:
    """(m, code, anchor_sub): per-subspace codebooks — deterministic
    md5-ordered corpus anchors refined with LLOYD_ITERS distributed
    k-means steps (assign join + per-(m, code) element-wise exact
    decimal mean, so the result is partition-order independent and
    bit-identical to the oracle replay)."""
    w = Window.orderBy(F.md5(F.concat_ws(":", F.col("vec_id"), F.lit("pq"))))
    anchors = (
        corpus.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= K_CODES)
        .select((F.col("rk") - 1).alias("code"), F.col("emb"))
    )
    codebooks = _melt(anchors, "emb", ["code"]).select(
        "m", "code", F.col("subvec").alias("anchor_sub")
    )
    melted = _melt(corpus, "emb", ["vec_id"]).persist()
    for _ in range(LLOYD_ITERS):
        assigned = _assign(melted, codebooks, "vec_id")
        codebooks = assigned.groupBy("m", "code").agg(
            F.array(
                *[
                    (
                        F.sum(F.col("subvec")[i].cast("decimal(38,18)"))
                        .cast("double")
                        / F.count(F.lit(1))
                    )
                    for i in range(SUB_DIM)
                ]
            ).alias("anchor_sub")
        )
        # Materialize each iteration's codebook (M_SUB*K_CODES tiny rows)
        # and CUT the lineage: without this, iteration i+1's plan embeds
        # i's whole training subtree, and the final query replays the
        # entire cascade once per downstream reference — measured as a
        # driver-heap OOM at sf0.1 before truncation.
        codebooks = codebooks.localCheckpoint(eager=True)
    release(melted)
    return codebooks


# --- oracle SQL: training + encode + ADC + re-rank as unrolled CTEs --------

_SQL_MELT_CORPUS = f"""
  SELECT vec_id, m.m AS m,
         emb[m.m * {SUB_DIM} + 1 : m.m * {SUB_DIM} + {SUB_DIM}] AS subvec
  FROM corpus, LATERAL (SELECT unnest(range(0, {M_SUB})) AS m) m
"""


def _sql_pq_assign(cb: str) -> str:
    return f"""
  SELECT vec_id, m, code, subvec FROM (
    SELECT t.vec_id, t.m, k.code, t.subvec,
           ROW_NUMBER() OVER (
             PARTITION BY t.vec_id, t.m
             ORDER BY {sql_dist2("t.subvec", "k.anchor_sub")} ASC, k.code ASC
           ) AS rn
    FROM melted t JOIN {cb} k USING (m)
  ) WHERE rn = 1
"""


def _sql_pq_update(asg: str) -> str:
    return f"""
  SELECT m, code, list(cval ORDER BY i) AS anchor_sub FROM (
    SELECT a.m, a.code, i.i AS i,
           CAST(SUM(CAST(a.subvec[i.i + 1] AS DECIMAL(38,18))) AS DOUBLE)
             / COUNT(*) AS cval
    FROM {asg} a, LATERAL (SELECT unnest(range(0, {SUB_DIM})) AS i) i
    GROUP BY a.m, a.code, i.i
  ) GROUP BY m, code
"""


_QPQ_ORACLE = f"""
WITH raw AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb_raw,
         label
  FROM embeddings
),
corpus AS (
  SELECT vec_id,
         list_transform(emb_raw, x -> x / sqrt({sql_dot("emb_raw", "emb_raw")}))
           AS emb,
         label
  FROM raw
),
anchors AS (
  SELECT CAST(rk - 1 AS BIGINT) AS code, emb FROM (
    SELECT emb, ROW_NUMBER() OVER (
      ORDER BY md5(CAST(vec_id AS VARCHAR) || ':pq')
    ) AS rk
    FROM corpus
  ) WHERE rk <= {K_CODES}
),
cb0 AS (
  SELECT m.m AS m, code,
         emb[m.m * {SUB_DIM} + 1 : m.m * {SUB_DIM} + {SUB_DIM}] AS anchor_sub
  FROM anchors, LATERAL (SELECT unnest(range(0, {M_SUB})) AS m) m
),
melted AS ({_SQL_MELT_CORPUS}),
asg1 AS ({_sql_pq_assign("cb0")}),
cb1 AS ({_sql_pq_update("asg1")}),
asg2 AS ({_sql_pq_assign("cb1")}),
cb2 AS ({_sql_pq_update("asg2")}),
codes AS (SELECT vec_id, m, code FROM ({_sql_pq_assign("cb2")})),
qs AS (
  SELECT vec_id AS query_id, emb AS qemb FROM corpus
  WHERE vec_id < {N_QUERIES}
),
dist_table AS (
  SELECT q.query_id, s.m, k.code,
         {sql_dist2(
             f"q.qemb[s.m * {SUB_DIM} + 1 : s.m * {SUB_DIM} + {SUB_DIM}]",
             "k.anchor_sub",
         )} AS dpart
  FROM qs q,
       LATERAL (SELECT unnest(range(0, {M_SUB})) AS m) s,
       cb2 k
  WHERE k.m = s.m
),
approx AS (
  SELECT d.query_id, c.vec_id,
         CAST(SUM(CAST(d.dpart AS DECIMAL(38,18))) AS DOUBLE) AS approx_d
  FROM codes c JOIN dist_table d ON c.m = d.m AND c.code = d.code
  GROUP BY d.query_id, c.vec_id
),
survivors AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY approx_d ASC, vec_id ASC
    ) AS ar
    FROM approx WHERE query_id <> vec_id
  ) WHERE ar <= {RERANK}
),
cand AS (
  SELECT s.query_id, s.vec_id AS neighbor_id, c.label AS neighbor_label,
         {sql_cosine("q.qemb", "c.emb")} AS cos_raw
  FROM survivors s
  JOIN corpus c ON c.vec_id = s.vec_id
  JOIN qs q ON q.query_id = s.query_id
)
SELECT query_id, neighbor_id, neighbor_label,
       FLOOR((cos_raw) * 1e6 + 0.5) / 1e6 AS cos_sim, CAST(rk AS INTEGER) AS rk
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC
  ) AS rk
  FROM cand
) WHERE rk <= {TOP_K}
"""


@register(
    "q_sim_pq_topk",
    oracle=_QPQ_ORACLE,
    description=(
        "ANN scale path 3: product quantization (16-byte codes, ADC) + "
        "exact re-rank, fully oracled via unrolled-CTE replay"
    ),
    tags=("similarity", "ann", "pq", "quantization"),
)
def q_sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _corpus(spark, sf_dir).persist()
    codebooks = pq_codebooks(corpus).persist()
    # Encode: M_SUB small ints per vector — the only corpus-wide state
    # the ADC search reads. 16 bytes/vector at production dims.
    codes = _assign(_melt(corpus, "emb", ["vec_id"]), codebooks, "vec_id").select(
        "vec_id", "m", "code"
    )

    queries = corpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    # ADC distance tables: query x subspace x code — N_QUERIES*M_SUB*K_CODES
    # tiny rows, broadcast everywhere. Grows with the query batch, never
    # with the corpus.
    dist_table = (
        _melt(queries, "qemb", ["query_id"])
        .join(F.broadcast(codebooks), "m")
        .select(
            "query_id",
            "m",
            "code",
            dist2_unrolled(
                F.col("subvec"), F.col("anchor_sub"), SUB_DIM
            ).alias("dpart"),
        )
    )

    # The ADC sum goes through DECIMAL so the rerank cut (a strict
    # row_number on approx_d) is partition-order independent and equals
    # the oracle's — a double SUM here could flip the order of two
    # near-tied survivors between engines.
    approx = (
        codes.join(F.broadcast(dist_table), ["m", "code"])
        .groupBy("query_id", "vec_id")
        .agg(
            F.sum(F.col("dpart").cast("decimal(38,18)"))
            .cast("double")
            .alias("approx_d")
        )
        .filter(F.col("query_id") != F.col("vec_id"))
    )
    wa = Window.partitionBy("query_id").orderBy(F.asc("approx_d"), F.asc("vec_id"))
    survivors = (
        approx.withColumn("ar", F.row_number().over(wa))
        .filter(F.col("ar") <= RERANK)
        .select("query_id", "vec_id")
    )

    # exact cosine re-rank of the survivors only
    cand = (
        survivors.join(corpus, "vec_id")
        .join(queries.select("query_id", "qemb"), "query_id")
        .withColumn("qn", norm(F.col("qemb")))
        .withColumn("cn", norm(F.col("emb")))
    )
    cos = dot(F.col("qemb"), F.col("emb")) / (F.col("qn") * F.col("cn"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("neighbor_id"))
    return (
        cand.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
            cos.alias("cos_raw"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            (F.floor((F.col("cos_raw")) * 1e6 + 0.5) / 1e6).alias("cos_sim"),
            "rk",
        )
    )
