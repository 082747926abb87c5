"""Sampled harmonic centrality: multi-source frontier-delta BFS.

Exact closeness needs all-pairs distances — O(V * E), never run at
scale. The production estimator (the HyperBall family reduced to its
exact-sample core) BFSes from a SAMPLE of sources and reports each
source's harmonic centrality sum(1/dist) over reached nodes — harmonic,
not classic closeness, because it is well-defined under disconnection
and hop truncation. This operator runs the engine's frontier-delta BFS
over ``graph.bipartite_edges`` (``graph.q_graph_bfs_hops``'s
formulation — per-round work tracks the frontier, not the visited set)
from ``K_SOURCES`` sources SIMULTANEOUSLY: state is keyed (src_id,
node), so one iteration ladder serves every source and the per-round
joins stay co-partitioned on node.

Exactness: distances are integers in [1, MAX_HOPS]; the harmonic sum
uses integer micro-unit weights round(1e6/d) (the irmetrics discount
discipline), so the per-source sum is an exact BIGINT in both engines
— one final rounded division for the reported float.

Oracle: the unrolled union-min CTE ladder (the BFS oracle) over
``graph.EDGES_SQL`` with the source id carried through, aggregated
with the same CASE weights.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.microunit import (
    guard_exact_bigint,
    rdiv_halfup_duck,
    rdiv_halfup_expr,
)
from ..registry import register
from ..tables import adaptive_partitions, materialize, release
from .graph import EDGES_SQL, bipartite_edges

K_SOURCES = 4  #: supplier node ids 1..K used as BFS sources
MAX_HOPS = 8

#: Integer micro-unit harmonic weights: weight(d) = round(1e6 / d).
_HW = {d: round(1e6 / d) for d in range(1, MAX_HOPS + 1)}
_HW_CASE = "CASE dist " + " ".join(
    f"WHEN {d} THEN {w}" for d, w in _HW.items()
) + " ELSE 0 END"


def _closeness_oracle() -> str:
    body = f"""
WITH {EDGES_SQL},
d0 AS (
  SELECT src_id, src_id AS node, 0 AS dist
  FROM (SELECT unnest(range(1, {K_SOURCES} + 1)) AS src_id)
)"""
    prev = "d0"
    parts = []
    for i in range(1, MAX_HOPS + 1):
        parts.append(f""",
d{i} AS (
  SELECT src_id, node, MIN(dist) AS dist FROM (
    SELECT src_id, node, dist FROM {prev}
    UNION ALL
    SELECT {prev}.src_id, e.dst AS node, {prev}.dist + 1 AS dist
    FROM edges e JOIN {prev} ON e.src = {prev}.node
  ) GROUP BY src_id, node
)""")
        prev = f"d{i}"
    return (
        body
        + "".join(parts)
        + f"""
SELECT CAST(src_id AS BIGINT) AS src_id,
       CAST(COUNT(*) AS BIGINT) AS n_reached,
       CAST(SUM({_HW_CASE}) AS BIGINT) AS harmonic_u,
       {rdiv_halfup_duck(f"SUM({_HW_CASE})", "1000000", 4)} AS harmonic
FROM {prev}
WHERE dist > 0
GROUP BY src_id
ORDER BY src_id
"""
    )


@register(
    "q_graph_harmonic_sampled",
    oracle=_closeness_oracle(),
    description=(
        f"sampled harmonic centrality: simultaneous frontier-delta BFS "
        f"from {K_SOURCES} sources (state keyed (src, node) — one "
        f"iteration ladder, hop<={MAX_HOPS}), integer micro-unit 1/d "
        "weights so the per-source sum is exact"
    ),
    tags=("graph", "centrality", "bfs", "sampling", "iterative"),
)
def q_graph_harmonic_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = adaptive_partitions(spark, sf_dir)
    # per-round expand joins read hash(src, p)
    edges = materialize(bipartite_edges(spark, sf_dir), p, "src")

    # Eager localCheckpoint per round, NOT persist: ``known`` is
    # referenced twice per round (anti-join probe + carry union), so
    # without a lineage cut its LOGICAL plan doubles per hop — 2^8
    # leaves by hop 8, which OOMs a default-1g driver heap inside plan
    # stringification BEFORE any task runs (reproduced in the plain
    # driver-contract session; bfs_hops survives only because its state
    # is 1/K the width). The checkpoint materializes each round's small
    # (src, node, dist) state and truncates the plan to a scan, keeping
    # every round's optimizer input linear. dedup/clusters.py uses the
    # same pattern for the connected-components loop.
    known = (
        spark.createDataFrame(
            [(i, i, 0) for i in range(1, K_SOURCES + 1)],
            "src_id long, node long, dist int",
        )
        .repartition(p, "node")
        .localCheckpoint(eager=True)
    )
    frontier = known
    for _ in range(MAX_HOPS):
        cand = (
            edges.join(frontier.hint("shuffle_hash"), edges.src == frontier.node)
            .select(
                "src_id",
                F.col("dst").alias("node"),
                (F.col("dist") + 1).alias("dist"),
            )
            .repartition(p, "node")
            .groupBy("src_id", "node")
            .agg(F.min("dist").alias("dist"))
        )
        frontier = cand.join(
            known.hint("shuffle_hash"), ["src_id", "node"], "left_anti"
        ).localCheckpoint(eager=True)
        known = known.unionByName(frontier).localCheckpoint(eager=True)
    # Final state is materialized by the checkpoint; the edge cache is
    # no longer reachable from the returned plan — release it so the
    # driver window's session carries no residue into later queries.
    release(edges)

    hw = F.expr(_HW_CASE)
    return (
        known.filter(F.col("dist") > 0)
        .groupBy("src_id")
        .agg(
            F.count("*").cast("long").alias("n_reached"),
            # 2^53 fence: the per-source sum of round(1e6/d) weights is
            # bounded by 1e6 * reachable-set size; on a 100 TB graph
            # with > ~9e9 reachable nodes the final /1e6 would silently
            # double-round — fail loudly instead (functions/microunit).
            guard_exact_bigint(
                F.sum(hw).cast("long"), "closeness.harmonic_u"
            ).alias("harmonic_u"),
            rdiv_halfup_expr(
                f"sum({_HW_CASE})", "1000000", 4
            ).alias("harmonic"),
        )
        .select(F.col("src_id").cast("long").alias("src_id"), "n_reached", "harmonic_u", "harmonic")
        .orderBy("src_id")
    )
