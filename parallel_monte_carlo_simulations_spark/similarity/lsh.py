"""Random-hyperplane LSH approximate nearest neighbors — the scale path.

Signatures: ``n_planes`` pseudo-random hyperplanes whose weights derive
deterministically from the portable 60-bit hash (`functions.hashing`),
so signatures are reproducible across runs/engines with zero RNG state.
A vector's bucket is the sign-bit string of its plane dot products;
candidates are corpus vectors sharing a bucket with the query under any
of ``n_tables`` independent tables. Exact cosine re-ranks candidates.

At 100 TB: bucketing is a projection (no shuffle), candidate generation
is an equi-join on (table, bucket) — cardinality-bounded, skew handled by
AQE — and only candidates (a tiny fraction of the corpus) reach the
re-rank.

FULLY ORACLED: because the hyperplane weights are a pure function of
(table, plane, dim) — no RNG state — the DuckDB oracle embeds all
8x4x64 weight literals and replays the identical index-ordered dot
folds, so buckets, candidate sets, and re-ranked scores are
bit-reproducible cross-engine. Recall-vs-brute is additionally
property-tested in tests/.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType

from ..functions.vectors import as_double, dot, norm
from ..registry import register
from ..tables import table

N_PLANES = 4  # bits per bucket
N_TABLES = 8
DIM = 64
TOP_K = 10
N_QUERIES = 5


def _plane_weight(tbl: int, plane: int, d: int) -> float:
    """Deterministic pseudo-random weight in [-1, 1): derived from md5 of
    the (table, plane, dim) coordinates — no RNG state to ship."""
    import hashlib

    h = int(hashlib.md5(f"{tbl}:{plane}:{d}".encode()).hexdigest()[:15], 16)
    return (h / float(1 << 59)) - 1.0


def _bucket(emb: Column, tbl: int) -> Column:
    """Sign-bit bucket id for one hash table. Each plane's weights are a
    literal array folded with zip_with+aggregate (compact expression tree;
    a fully unrolled 64-term sum per plane blows up codegen)."""
    bits = []
    for p in range(N_PLANES):
        weights = F.array(*[F.lit(_plane_weight(tbl, p, d)) for d in range(DIM)])
        dot = F.aggregate(
            F.zip_with(emb, weights, lambda x, w: x * w),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(dot >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
    bucket = bits[0]
    for b in bits[1:]:
        bucket = bucket + b
    return bucket


def lsh_buckets_jvm(vectors: DataFrame, emb_col: str = "emb") -> DataFrame:
    """JVM-expression form of :func:`lsh_buckets` (32 interpreted HOF
    folds per row). Kept as the reference implementation the parity
    test (tests/test_lsh_bucket_parity.py) checks the vectorized form
    against; no registered query uses it since the r13 optimization
    round."""
    entries = F.array(
        *[
            F.struct(F.lit(t).alias("table_id"), _bucket(F.col(emb_col), t).alias("bucket"))
            for t in range(N_TABLES)
        ]
    )
    return vectors.select(
        "*", F.explode(entries).alias("tb")
    ).select("*", F.col("tb.table_id").alias("table_id"), F.col("tb.bucket").alias("bucket")).drop("tb")


#: Hyperplane weights as a (N_TABLES, N_PLANES, DIM) float64 matrix —
#: the same _plane_weight doubles the JVM expressions and the DuckDB
#: oracle literals use, materialized once at import (2048 md5 calls).
_PLANE_W = np.array(
    [
        [[_plane_weight(t, p, d) for d in range(DIM)] for p in range(N_PLANES)]
        for t in range(N_TABLES)
    ]
)


@F.pandas_udf(ArrayType(IntegerType()))
def _buckets_np(emb: pd.Series) -> pd.Series:
    """All 8 table buckets per vector, vectorized in numpy (guide §4.2).

    BIT-PARITY with the JVM fold (and the oracle's list_reduce): per
    plane the JVM computes ``acc_0 = 0.0; acc_{d+1} = acc_d + x[d]*w[d]``
    — two rounded IEEE-754 double ops per dim, left to right. The loop
    below runs ``acc = acc + X[:, d] * w_d`` per dim: the same two ops
    per element in the same order (separate numpy ufunc calls — no FMA
    fusion), so every dot, sign bit and bucket is bit-identical.
    Measured ×2.3 on q_sim_lsh_topk at sf0.1 (OPTIMIZATION_r13.md,
    "q_sim_lsh_topk: bucket computation vectorized";
    the einsum/matmul forms are faster still but use pairwise summation
    — a DIFFERENT add order — and were therefore not considered).
    NULL embeddings mirror the expression form's semantics: a NULL dot
    fails the ``>= 0`` test for every plane, so the bucket is 0."""
    vals = emb.to_numpy()
    nulls = np.array([v is None for v in vals])
    out = np.zeros((len(vals), N_TABLES), dtype=np.int32)
    if len(vals) and not nulls.all():
        X = np.stack([np.zeros(DIM) if n else v for v, n in zip(vals, nulls)])
        for t in range(N_TABLES):
            bucket = np.zeros(X.shape[0], dtype=np.int32)
            for p in range(N_PLANES):
                acc = np.zeros(X.shape[0])
                for d in range(DIM):
                    acc = acc + X[:, d] * _PLANE_W[t, p, d]
                bucket += np.where(acc >= 0, 1 << p, 0).astype(np.int32)
            out[:, t] = bucket
        out[nulls, :] = 0
    return pd.Series(list(out))


def lsh_buckets(vectors: DataFrame, emb_col: str = "emb") -> DataFrame:
    """Explode each vector into its (table_id, bucket) memberships.

    r13 optimization round: bucket computation moved from 32 interpreted
    HOF folds per row (N_TABLES x N_PLANES ``aggregate(zip_with(...))``)
    to one vectorized Arrow batch pass (:func:`_buckets_np`) — the
    per-row scalar math was the query's dominant cost and does not
    vectorize in the JVM expression engine. Output schema, row set and
    every bucket value are unchanged (bit-parity note on the UDF;
    regression-tested against :func:`lsh_buckets_jvm`)."""
    return vectors.select(
        "*",
        F.posexplode(_buckets_np(F.col(emb_col))).alias("table_id", "bucket"),
    )


def _sql_plane_dot(e: str, tbl: int, plane: int) -> str:
    """Index-ordered fold of ``e`` against the literal weight list for
    (tbl, plane) — the same order as the Spark zip_with+aggregate."""
    ws = "[" + ", ".join(repr(_plane_weight(tbl, plane, d)) for d in range(DIM)) + "]"
    return (
        f"list_reduce(list_concat([0.0], "
        f"list_transform(range(1, {DIM} + 1), i -> ({e})[i] * ({ws})[i])), "
        f"(a, b) -> a + b)"
    )


def _sql_bucket(e: str, tbl: int) -> str:
    bits = [
        f"CASE WHEN {_sql_plane_dot(e, tbl, p)} >= 0 THEN {1 << p} ELSE 0 END"
        for p in range(N_PLANES)
    ]
    return "(" + " + ".join(bits) + ")"


def _lsh_oracle() -> str:
    from ..functions.vectors import sql_cosine

    bucket_cases = "\n      ".join(
        f"WHEN {t} THEN {_sql_bucket('e', t)}" for t in range(N_TABLES)
    )
    return f"""
WITH emb AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
buckets AS (
  SELECT vec_id, label, e, t.tbl,
    CASE t.tbl
      {bucket_cases}
    END AS bucket
  FROM emb, LATERAL (SELECT unnest(range(0, {N_TABLES})) AS tbl) t
),
q AS (
  SELECT vec_id AS query_id, e AS qe, tbl, bucket
  FROM buckets WHERE vec_id < {N_QUERIES}
),
c AS (SELECT vec_id, label, e, tbl, bucket FROM buckets),
cand AS (
  SELECT DISTINCT q.query_id, q.qe, c.vec_id, c.label, c.e
  FROM q JOIN c ON q.tbl = c.tbl AND q.bucket = c.bucket
              AND q.query_id <> c.vec_id
),
scored AS (
  SELECT query_id, vec_id AS neighbor_id, label AS neighbor_label,
         {sql_cosine("qe", "e")} AS cos_raw
  FROM cand
)
SELECT query_id, neighbor_id, neighbor_label,
       FLOOR((cos_raw) * 1e6 + 0.5) / 1e6 AS cos_sim, rk
FROM (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id
  ) AS INTEGER) AS rk
  FROM scored
)
WHERE rk <= {TOP_K}
"""


@register(
    "q_sim_lsh_topk",
    oracle=_lsh_oracle(),
    description=(
        "ANN scale path: random-hyperplane LSH buckets + exact re-rank "
        "(hyperplanes deterministic, so buckets are fully oracled)"
    ),
    tags=("similarity", "ann", "lsh"),
)
def q_sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    corpus = lsh_buckets(
        e.select("vec_id", as_double("embedding").alias("emb"), "label")
    )
    queries = lsh_buckets(
        e.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), as_double("embedding").alias("qemb")
        ),
        emb_col="qemb",
    )
    # NOTE (measured dead end, round 5): deduplicating on the narrow
    # (query_id, vec_id) pair and re-joining the embeddings afterwards
    # — to avoid hashing the 64-double arrays in this distinct — ran
    # ~15% SLOWER same-JVM at sf0.1 (4.9 s vs 5.6 s): the two extra
    # joins cost more than the wide distinct saves. Keep the wide form.
    cand = (
        F.broadcast(queries)
        .join(corpus, ["table_id", "bucket"])
        .where(F.col("query_id") != F.col("vec_id"))
        .select("query_id", "qemb", "vec_id", "emb", "label")
        .distinct()
        .withColumn("qn", norm(F.col("qemb")))
        .withColumn("cn", norm(F.col("emb")))
    )
    cos = dot(F.col("qemb"), F.col("emb")) / (F.col("qn") * F.col("cn"))
    return (
        cand.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
            cos.alias("cos_raw"),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("cos_raw"), F.asc("neighbor_id")
                )
            ),
        )
        .filter(F.col("rk") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            (F.floor((F.col("cos_raw")) * 1e6 + 0.5) / 1e6).alias("cos_sim"),
            "rk",
        )
    )
