"""Graph analytics round 2: weighted shortest paths + personalized
PageRank.

Both read the part-supplier graph of :mod:`.graph` (``bipartite_edges``,
``EDGES_SQL``) with their own semantics:

- **Bounded Bellman-Ford SSSP** over a WEIGHTED part-supplier graph
  (deterministic integer weights, so relaxation is exact integer math).
  Implemented as DELTA iteration: a round only expands nodes whose
  distance IMPROVED last round — equivalent to full relaxation because
  a non-improved node re-relaxes to exactly what it already
  contributed. K rounds give shortest paths using <= K edges; the
  oracle replays K full-relaxation rounds as unrolled union-min CTEs
  (``graph.union_min_sql``, the BFS oracle with weighted steps).
- **Personalized PageRank**: the random walk restarts at ONE source
  node ((1-d) mass goes to the source only) — the similarity measure
  recommender graphs use ("importance from the point of view of s").
  It is ``graph.power_iteration`` (the kernel global PageRank runs,
  where its staged build and hints are measured) with the restart term
  and initial rank on the source; the oracle is the same unrolled
  ``graph.power_iteration_sql``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import adaptive_partitions, materialize
from .graph import bipartite_edges, power_iteration, power_iteration_sql, union_min_sql

_SSSP_SOURCE = 1
_SSSP_ROUNDS = 5
_PPR_SOURCE = 1
_PPR_DAMPING = 0.85
_PPR_ITERS = 8

#: deterministic positive integer edge weight, same formula both engines
_W = "(1 + (src * 7 + dst * 13) % 10)"


@register(
    "q_graph_sssp_weighted",
    oracle=union_min_sql(_SSSP_SOURCE, _SSSP_ROUNDS, _W),
    description=(
        f"weighted single-source shortest paths: {_SSSP_ROUNDS} "
        "Bellman-Ford rounds (delta iteration — only improved nodes "
        "re-expand) from supplier 1 with deterministic integer weights"
    ),
    tags=("graph", "sssp", "shortest_path", "iterative", "weighted"),
)
def q_graph_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = bipartite_edges(spark, sf_dir).withColumn("w", F.expr(_W))
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


@register(
    "q_graph_ppr",
    oracle=power_iteration_sql(
        f"CASE WHEN node = {_PPR_SOURCE} THEN 1.0 ELSE 0.0 END",
        f"CASE WHEN n.node = {_PPR_SOURCE} THEN {1 - _PPR_DAMPING} ELSE 0.0 END",
        _PPR_DAMPING,
        _PPR_ITERS,
    )
    + f"""
SELECT CAST(node AS BIGINT) AS node, FLOOR((rank) * 1e6 + 0.5) / 1e6 AS rank FROM pr{_PPR_ITERS}
""",
    description=(
        f"personalized PageRank ({_PPR_ITERS} iterations, restart at "
        f"supplier {_PPR_SOURCE}): graph-proximity scores from one "
        "node's point of view"
    ),
    tags=("graph", "pagerank", "personalized", "iterative"),
)
def q_graph_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    at_source = F.col("node") == _PPR_SOURCE
    ranks = power_iteration(
        spark,
        sf_dir,
        F.when(at_source, F.lit(1.0)).otherwise(F.lit(0.0)),
        F.when(at_source, F.lit(1 - _PPR_DAMPING)).otherwise(F.lit(0.0)),
        _PPR_DAMPING,
        _PPR_ITERS,
    )
    return ranks.select(
        F.col("node").cast("long").alias("node"),
        (F.floor((F.col("rank")) * 1e6 + 0.5) / 1e6).alias("rank"),
    )
