"""IVF (inverted-file) approximate nearest neighbors: k-means coarse
quantizer + nprobe cluster search + exact cosine re-rank.

The second ANN scale path next to random-hyperplane LSH
(`similarity.lsh`): cluster the corpus once with k-means, store each
vector under its nearest centroid, and at query time search only the
``NPROBE`` closest clusters. At 100 TB the centroid table is tiny (K
rows — always broadcast), cluster assignment is a map-side transform,
and a query touches NPROBE/K of the corpus.

Fully DuckDB-oracled (the round-3 ask): instead of pyspark.ml KMeans
(whose float means are partition-order dependent, so no SQL oracle can
reproduce them), the quantizer is Lloyd's algorithm expressed in
DataFrame ops with CROSS-ENGINE-EXACT arithmetic —

- init: the K corpus vectors with the lowest portable md5 order (no RNG
  state, same hex on both engines);
- assign: argmin of a squared-L2 left-fold (`dist2`/`sql_dist2` — same
  element order, bit-identical float64 on both engines), ties to the
  lower cluster id;
- update: per-dimension mean via ``DECIMAL(38,18)`` sums (exact and
  partition-order independent — the cent-boundary lesson applied to
  centroids), divided back to double identically on both engines.

Every step is deterministic, so the oracle replays the training loop as
unrolled CTEs and hash-matches the final top-k. The pyspark.ml KMeans
path is kept as :func:`ivf_assignments_ml` for cross-checks (its recall
is property-tested in tests/test_properties.py), but the registered
query trains the quantizer itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vectors import as_double, dist2, dot, norm, sql_cosine, sql_dist2
from ..registry import register
from ..tables import table

K_CLUSTERS = 16
NPROBE = 4
TOP_K = 10
N_QUERIES = 5
LLOYD_ITERS = 2
_SEED = 42  # ML cross-check path only

#: Broadcast bound for the probe frame (r1 ask #8): each probe row
#: carries a full query embedding (~dim x 8 B), so broadcasting is only
#: safe while |queries| x NPROBE stays small. Above the bound the probe
#: join falls back to a hash-partitioned shuffle join on cluster_id —
#: the same plan shape IVF serving uses for large query batches.
MAX_BROADCAST_PROBES = 10_000


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    return e.select("vec_id", as_double("embedding").alias("emb"), "label")


def _nearest(df: DataFrame, cent: DataFrame) -> DataFrame:
    """Each row's nearest centroid: broadcast the K-row centroid table,
    cross join (|df| x K, map-side), argmin by (d2, cluster_id). The
    row_number window shuffles on vec_id once per call — the same skinny
    shuffle a production IVF build pays for its assignment step.

    Measured dead end (r5, same-JVM A/B at sf0.1): replacing the window
    with ``groupBy(vec_id).agg(min(struct(d2, cluster_id, emb, label)))``
    — theoretically better (map-side partial agg shuffles |df| rows
    instead of |df| x K) — ran ~40% SLOWER end-to-end on the semantic
    dedup consumers (10.9 s vs 7.0-8.8 s) with identical results: the
    interpreted struct-min comparator over an embedded 64-double array
    costs more than the extra shuffle volume saves at these row counts.
    Same lesson as the measured dead ends beside
    operators/graph.py's power_iteration — don't re-walk it without
    re-measuring at much larger |df| x K, where shuffle volume should
    eventually win."""
    # Measured dead end (r5, same-JVM paired A/B): dist2_unrolled(..., 64)
    # here ran ~2x SLOWER than the fold (7.4 s vs 3.5 s on q_sim_ivf_topk
    # at sf0.1) — a 64-term codegen expression chain backfires where the
    # 4-term unroll in pq._assign wins 1.2x. The interpreted fold is the
    # right form at this width.
    a = df.crossJoin(F.broadcast(cent)).withColumn(
        "d2", dist2(F.col("emb"), F.col("centroid"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("cluster_id"))
    return (
        a.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "emb", "label", "cluster_id")
    )


def det_centroids(corpus: DataFrame, k: int = K_CLUSTERS) -> DataFrame:
    """(cluster_id, centroid): deterministic Lloyd k-means — md5-ordered
    corpus anchors refined with ``LLOYD_ITERS`` assign/update rounds of
    exact (decimal-summed) means. At the default ``k=K_CLUSTERS`` this is
    bit-identical to the oracle's unrolled CTE replay; other ``k`` values
    serve the adaptive-K semantic dedup scale path."""
    w = Window.orderBy(F.md5(F.concat_ws(":", F.col("vec_id"), F.lit("ivf"))))
    cent = (
        corpus.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            (F.col("rk") - 1).cast("int").alias("cluster_id"),
            F.col("emb").alias("centroid"),
        )
    )
    for _ in range(LLOYD_ITERS):
        asg = _nearest(corpus, cent)
        cent = (
            asg.select("cluster_id", F.posexplode("emb").alias("pos", "v"))
            .groupBy("cluster_id", "pos")
            .agg(
                (
                    F.sum(F.col("v").cast("decimal(38,18)")).cast("double")
                    / F.count(F.lit(1))
                ).alias("cval")
            )
            .groupBy("cluster_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "cval"))),
                    lambda s: s.cval,
                ).alias("centroid")
            )
        )
        # Materialize the tiny centroid table and CUT the lineage:
        # without this each iteration's plan embeds the previous one's
        # whole training subtree (same driver-heap lesson as pq.py).
        cent = cent.localCheckpoint(eager=True)
    return cent


def ivf_assignments_ml(corpus: DataFrame) -> tuple[DataFrame, DataFrame]:
    """pyspark.ml KMeans cross-check path: (assignments, centroids).
    Not oracle-able (ML means are partition-order dependent); used by
    the recall property test to sanity-check the deterministic quantizer
    against the library implementation."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = corpus.withColumn("features", array_to_vector("emb"))
    model = KMeans(k=K_CLUSTERS, seed=_SEED, featuresCol="features").fit(vecs)
    assigned = model.transform(vecs).select(
        "vec_id", "emb", "label", F.col("prediction").alias("cluster_id")
    )
    rows = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    cdf = corpus.sparkSession.createDataFrame(
        rows, "cluster_id int, centroid array<double>"
    )
    return assigned, cdf


# --- oracle SQL: the training loop unrolled as CTEs ------------------------

def _sql_assign(cent: str) -> str:
    return f"""
  SELECT vec_id, emb, label, cluster_id FROM (
    SELECT c.vec_id, c.emb, c.label, k.cluster_id,
           ROW_NUMBER() OVER (
             PARTITION BY c.vec_id
             ORDER BY {sql_dist2("c.emb", "k.centroid")} ASC, k.cluster_id ASC
           ) AS rn
    FROM corpus c CROSS JOIN {cent} k
  ) WHERE rn = 1
"""


def _sql_update(asg: str) -> str:
    return f"""
  SELECT cluster_id, list(cval ORDER BY pos) AS centroid FROM (
    SELECT a.cluster_id, i.i AS pos,
           CAST(SUM(CAST(a.emb[i.i + 1] AS DECIMAL(38,18))) AS DOUBLE)
             / COUNT(*) AS cval
    FROM {asg} a, LATERAL (SELECT unnest(range(0, len(a.emb))) AS i) i
    GROUP BY a.cluster_id, i.i
  ) GROUP BY cluster_id
"""


def sql_training_ctes() -> str:
    """The deterministic-Lloyd training loop as a WITH-clause fragment
    (corpus -> cent0 -> asg1/cent1 -> asg2/cent2 -> asgf). Shared by the
    IVF query oracle and the semantic-dedup oracle (dedup/semantic.py),
    so both replay the IDENTICAL quantizer."""
    return f"""corpus AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
         label
  FROM embeddings
),
cent0 AS (
  SELECT CAST(rk - 1 AS INTEGER) AS cluster_id, emb AS centroid FROM (
    SELECT emb, ROW_NUMBER() OVER (
      ORDER BY md5(CAST(vec_id AS VARCHAR) || ':ivf')
    ) AS rk
    FROM corpus
  ) WHERE rk <= {K_CLUSTERS}
),
asg1 AS ({_sql_assign("cent0")}),
cent1 AS ({_sql_update("asg1")}),
asg2 AS ({_sql_assign("cent1")}),
cent2 AS ({_sql_update("asg2")}),
asgf AS ({_sql_assign("cent2")})"""


_QIVF_ORACLE = f"""
WITH {sql_training_ctes()},
qs AS (
  SELECT vec_id AS query_id, emb AS qemb FROM corpus
  WHERE vec_id < {N_QUERIES}
),
probes AS (
  SELECT query_id, qemb, cluster_id FROM (
    SELECT q.query_id, q.qemb, k.cluster_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY {sql_dist2("q.qemb", "k.centroid")} ASC, k.cluster_id ASC
           ) AS pr
    FROM qs q CROSS JOIN cent2 k
  ) WHERE pr <= {NPROBE}
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id, a.label AS neighbor_label,
         {sql_cosine("p.qemb", "a.emb")} AS cos_raw
  FROM probes p JOIN asgf a USING (cluster_id)
  WHERE p.query_id <> a.vec_id
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
    "q_sim_ivf_topk",
    oracle=_QIVF_ORACLE,
    description=(
        "ANN scale path 2: IVF (deterministic Lloyd k-means quantizer, "
        "nprobe=4) + exact re-rank, fully oracled via unrolled-CTE replay"
    ),
    tags=("similarity", "ann", "ivf", "kmeans"),
)
def q_sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _corpus(spark, sf_dir).persist()
    cent = det_centroids(corpus)
    assigned = _nearest(corpus, cent).persist()

    queries = corpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    # nprobe: each query picks its NPROBE nearest centroids (centroid
    # table is K rows — broadcast, the cross join is |Q| x K).
    qc = queries.crossJoin(F.broadcast(cent)).withColumn(
        "cdist", dist2(F.col("qemb"), F.col("centroid"))
    )
    wq = Window.partitionBy("query_id").orderBy(F.asc("cdist"), F.asc("cluster_id"))
    probes = (
        qc.withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") <= NPROBE)
        .select("query_id", "qemb", "cluster_id")
    )

    # search only the probed clusters: equi-join on cluster_id. The
    # registered query has N_QUERIES x NPROBE = 20 probe rows -> broadcast;
    # a large query batch would exceed MAX_BROADCAST_PROBES and take the
    # shuffle path instead of OOMing every executor with the broadcast.
    n_probes = N_QUERIES * NPROBE
    probe_side = (
        F.broadcast(probes)
        if n_probes <= MAX_BROADCAST_PROBES
        else probes.repartition("cluster_id")
    )
    cand = (
        probe_side
        .join(assigned, "cluster_id")
        .where(F.col("query_id") != F.col("vec_id"))
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
