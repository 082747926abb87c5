"""Graph analytics round 2: weighted shortest paths + personalized
PageRank.

Both reuse the proven iterative machinery of :mod:`.graph` (explicit
co-partitioning, shuffle_hash hints on iteration state, per-round
persists) with their own semantics:

- **Bounded Bellman-Ford SSSP** over a WEIGHTED part-supplier graph
  (deterministic integer weights, so relaxation is exact integer math).
  Implemented as DELTA iteration: a round only expands nodes whose
  distance IMPROVED last round — equivalent to full relaxation because
  a non-improved node re-relaxes to exactly what it already
  contributed. K rounds give shortest paths using <= K edges; the
  oracle replays K full-relaxation rounds as unrolled union-min CTEs.
- **Personalized PageRank**: the random walk restarts at ONE source
  node ((1-d) mass goes to the source only) — the similarity measure
  recommender graphs use ("importance from the point of view of s").
  Same unrolled-iteration oracle as global PageRank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import adaptive_partitions, materialize, release, table
from .graph import _PART_OFFSET

_SSSP_SOURCE = 1
_SSSP_ROUNDS = 5
_PPR_SOURCE = 1
_PPR_DAMPING = 0.85
_PPR_ITERS = 8

#: deterministic positive integer edge weight, same formula both engines
_W = "(1 + (src * 7 + dst * 13) % 10)"

_EDGES_SQL = f"""
pairs AS (
  SELECT DISTINCT l_suppkey AS s, l_partkey + {_PART_OFFSET} AS p FROM lineitem
),
edges AS (
  SELECT s AS src, p AS dst FROM pairs
  UNION ALL
  SELECT p AS src, s AS dst FROM pairs
)"""


def _sssp_oracle() -> str:
    body = f"WITH {_EDGES_SQL},\nd0 AS (SELECT {_SSSP_SOURCE} AS node, 0 AS dist)"
    prev = "d0"
    for i in range(1, _SSSP_ROUNDS + 1):
        body += f""",
d{i} AS (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM {prev}
    UNION ALL
    SELECT e.dst AS node, {prev}.dist + {_W} AS dist
    FROM edges e JOIN {prev} ON e.src = {prev}.node
  ) GROUP BY node
)"""
        prev = f"d{i}"
    return body + f"""
SELECT CAST(node AS BIGINT) AS node, CAST(dist AS INTEGER) AS dist FROM {prev}
"""


@register(
    "q_graph_sssp_weighted",
    oracle=_sssp_oracle(),
    description=(
        f"weighted single-source shortest paths: {_SSSP_ROUNDS} "
        "Bellman-Ford rounds (delta iteration — only improved nodes "
        "re-expand) from supplier 1 with deterministic integer weights"
    ),
    tags=("graph", "sssp", "shortest_path", "iterative", "weighted"),
)
def q_graph_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    pairs = l.select(
        F.col("l_suppkey").alias("s"),
        (F.col("l_partkey") + _PART_OFFSET).alias("p"),
    ).distinct()
    edges = (
        pairs.select(F.col("s").alias("src"), F.col("p").alias("dst"))
        .unionByName(
            pairs.select(F.col("p").alias("src"), F.col("s").alias("dst"))
        )
        .withColumn("w", F.expr(_W))
    )
    p = adaptive_partitions(spark, sf_dir)
    edges = materialize(edges, p, "src")  # per-round expand joins read hash(src, p)

    known = (
        spark.createDataFrame([(_SSSP_SOURCE, 0)], "node long, dist int")
        .repartition(p, "node")
        .persist()
    )
    frontier = known  # nodes improved last round
    for _ in range(_SSSP_ROUNDS):
        cand = (
            edges.join(frontier.hint("shuffle_hash"), edges.src == frontier.node)
            .select(
                F.col("dst").alias("node"),
                (F.col("dist") + F.col("w")).alias("dist"),
            )
            .repartition(p, "node")
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        merged = (
            known.unionByName(cand)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .repartition(p, "node")
            .persist()
        )
        # delta: only nodes whose distance strictly improved re-expand
        frontier = (
            merged.alias("m")
            .join(known.alias("k"), "node", "left")
            .filter(
                F.col("k.dist").isNull() | (F.col("m.dist") < F.col("k.dist"))
            )
            .select("node", F.col("m.dist").alias("dist"))
            .persist()
        )
        known = merged
    return known.select(
        F.col("node").cast("long").alias("node"),
        F.col("dist").cast("int").alias("dist"),
    )


def _ppr_oracle() -> str:
    body = f"""WITH {_EDGES_SQL},
outdeg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
nodes AS (SELECT DISTINCT src AS node FROM edges),
pr0 AS (
  SELECT node, CASE WHEN node = {_PPR_SOURCE} THEN 1.0 ELSE 0.0 END AS rank
  FROM nodes
)"""
    prev = "pr0"
    for i in range(1, _PPR_ITERS + 1):
        body += f""",
pr{i} AS (
  SELECT n.node,
         CASE WHEN n.node = {_PPR_SOURCE} THEN {1 - _PPR_DAMPING} ELSE 0.0 END
           + {_PPR_DAMPING} * COALESCE(c.contrib, 0.0) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, SUM({prev}.rank / d.deg) AS contrib
    FROM edges e
    JOIN {prev} ON e.src = {prev}.node
    JOIN outdeg d ON e.src = d.src
    GROUP BY e.dst
  ) c ON n.node = c.node
)"""
        prev = f"pr{i}"
    return body + f"""
SELECT CAST(node AS BIGINT) AS node, FLOOR((rank) * 1e6 + 0.5) / 1e6 AS rank FROM {prev}
"""


@register(
    "q_graph_ppr",
    oracle=_ppr_oracle(),
    description=(
        f"personalized PageRank ({_PPR_ITERS} iterations, restart at "
        f"supplier {_PPR_SOURCE}): graph-proximity scores from one "
        "node's point of view"
    ),
    tags=("graph", "pagerank", "personalized", "iterative"),
)
def q_graph_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    pairs = l.select(
        F.col("l_suppkey").alias("s"),
        (F.col("l_partkey") + _PART_OFFSET).alias("p"),
    ).distinct()
    edges = pairs.select(
        F.col("s").alias("src"), F.col("p").alias("dst")
    ).unionByName(
        pairs.select(F.col("p").alias("src"), F.col("s").alias("dst"))
    )
    # r13 round 2: staged edge build — same restructure as
    # q_graph_pagerank (see operators/graph.py for the full rationale
    # and the measured A/B): edges exchanged to hash(src, P) once into
    # a staging cache; outdeg and the deg join are zero-exchange over
    # it; nodes is outdeg's key column (one row per src == the distinct
    # node set, both edge directions being materialized). The final
    # repartition on each consumer cache is what makes the layout
    # visible to the per-round joins (AQE-cached plans expose output
    # partitioning only behind a trailing user repartition).
    p = adaptive_partitions(spark, sf_dir)
    edges_p = materialize(edges, p, "src")
    outdeg = edges_p.groupBy("src").agg(F.count("*").alias("deg"))
    edges_deg = materialize(edges_p.join(outdeg.hint("shuffle_hash"), "src"), p, "src")
    nodes = materialize(outdeg.select(F.col("src").alias("node")), p, "node")
    release(edges_p)
    restart = F.when(
        F.col("node") == _PPR_SOURCE, F.lit(1 - _PPR_DAMPING)
    ).otherwise(F.lit(0.0))
    ranks = nodes.withColumn(
        "rank",
        F.when(F.col("node") == _PPR_SOURCE, F.lit(1.0)).otherwise(F.lit(0.0)),
    )
    for _ in range(_PPR_ITERS):
        contrib = (
            edges_deg.join(ranks.hint("shuffle_hash"), edges_deg.src == ranks.node)
            .repartition(p, "dst")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("contrib"))
        )
        ranks = nodes.join(
            contrib.hint("shuffle_hash"), nodes.node == contrib.dst, "left"
        ).select(
            "node",
            (
                restart
                + F.lit(_PPR_DAMPING) * F.coalesce("contrib", F.lit(0.0))
            ).alias("rank"),
        )
    return ranks.select(
        F.col("node").cast("long").alias("node"),
        (F.floor((F.col("rank")) * 1e6 + 0.5) / 1e6).alias("rank"),
    )
