"""The part-supplier graph and the iterative analytics over it.

This module owns the graph every ``q_graph_*`` query reads, and the
one iteration kernel PageRank and personalized PageRank share:

- ``PART_OFFSET``: part node ids are ``l_partkey + PART_OFFSET``, so
  they stay disjoint from supplier ids. ``part_node`` fails the query
  when a key would break that.
- ``supplier_part_pairs``: the distinct observed raw ``(s, p)`` key
  pairs from lineitem, for the co-supplier queries.
- ``bipartite_edges``: the same pairs as one node-id space with both
  edge directions materialized (``src``, ``dst``) — every node has
  outdegree >= 1, so there is no dangling-mass term to redistribute.
  ``EDGES_SQL`` is its oracle text (the ``pairs`` and ``edges`` CTEs).
- ``power_iteration`` / ``power_iteration_sql``: a FIXED number of
  power iterations in Spark and as unrolled SQL CTEs.
- ``union_min_sql``: the unrolled union-min oracle of bounded BFS and
  SSSP.

PageRank verifies like the other iterative algorithm, connected
components (``dedup/clusters.py``), with a stronger story: a fixed
number of power iterations is deterministic float math, so the DuckDB
oracle replays the exact same ten iterations as ten unrolled chained
CTEs (recursive CTEs can't aggregate per step; unrolling can). Both
engines compute sums of the same IEEE doubles — summation order can
differ in the last ulps, but after 10 iterations the accumulated
divergence is ~1e-13 relative, eleven orders of magnitude inside the
FLOOR(() * 1e4 + 0.5) / 1e4 comparison the gate hashes. The classic unnormalized form is
used: ``rank' = (1-d) + d * sum(rank_in/outdeg_in)``, so ranks sum to
the node count (property-tested).

Scale notes (100 TB): edges-with-outdegree is built once and persisted;
each iteration is one shuffle join on src plus one aggregate on dst —
the same per-round cost profile as connected components. The ten
iterations stay LAZY (one job, linear ~40-operator plan): persisted
edge/node frames bound recomputation, and AQE right-sizes every
exchange at runtime. Do NOT localCheckpoint per iteration — Dataset
checkpointing materializes through ``df.rdd``, which executes the
whole subtree on the non-adaptive plan (every stage at full
``spark.sql.shuffle.partitions``, no runtime coalescing); measured at
sf0.01/local[8] that is 71 s vs 5 s for the lazy unroll. Lineage depth
is linear in N_ITERS, so truncation only becomes worth its AQE loss at
iteration counts far past ten.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import adaptive_partitions, materialize, release, table

DAMPING = 0.85
N_ITERS = 10
PART_OFFSET = 1_000_000  # part node ids, disjoint from supplier ids

#: The oracle spelling of ``bipartite_edges``: the ``pairs`` and
#: ``edges`` CTEs, to follow a ``WITH``. Unfenced, so the text stays
#: valid DuckDB SQL.
EDGES_SQL = f"""pairs AS (
  SELECT DISTINCT l_suppkey AS s, l_partkey + {PART_OFFSET} AS p FROM lineitem
),
edges AS (
  SELECT s AS src, p AS dst FROM pairs
  UNION ALL
  SELECT p AS src, s AS dst FROM pairs
)"""


def part_node(s: str, p: str) -> Column:
    """Part key column ``p`` as a node id, ``p + PART_OFFSET``.

    Fails the query when the pair's supplier key ``s`` reaches
    ``PART_OFFSET`` (TPC-H SF >= 100) or ``p`` is negative: either would
    silently merge a supplier and a part into one node. The supplier
    column itself stays a plain reference, so the not-null filters
    Catalyst infers from joins on it still reach the parquet scan."""
    return F.when(
        (F.col(s) >= PART_OFFSET) | (F.col(p) < 0),
        F.raise_error(
            F.lit(
                "supplier and part node ids collide: needs part key >= 0 "
                f"and supplier key < {PART_OFFSET}"
            )
        ),
    ).otherwise(F.col(p) + PART_OFFSET)


def supplier_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distinct observed (supplier, part) pairs as raw keys ``(s, p)``."""
    l = table(spark, sf_dir, "lineitem")
    return l.select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")).distinct()


def bipartite_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The part-supplier graph as directed edges ``(src, dst)``: every
    observed pair in both directions, parts offset by ``PART_OFFSET``."""
    l = table(spark, sf_dir, "lineitem")
    pairs = l.select(
        F.col("l_suppkey").alias("s"), part_node("l_suppkey", "l_partkey").alias("p")
    ).distinct()
    return pairs.select(F.col("s").alias("src"), F.col("p").alias("dst")).unionByName(
        pairs.select(F.col("p").alias("src"), F.col("s").alias("dst"))
    )


def power_iteration(
    spark: SparkSession,
    sf_dir: str,
    rank0: Column,
    restart: Column,
    damping: float,
    n_iters: int,
) -> DataFrame:
    """``n_iters`` rounds of ``rank' = restart + damping * sum(rank_in /
    outdeg_in)`` over ``bipartite_edges``, from ``rank0``. ``rank0`` and
    ``restart`` may read the ``node`` column. Returns ``(node, rank)``."""
    # Pregel-style co-partitioning: edge state hash(src, P) and vertex
    # state hash(node, P) share one explicit partitioning, so BOTH joins
    # in every iteration are zero-exchange (bucketed-join shape) and the
    # only shuffle per iteration is the P-task contrib aggregation. P is
    # pinned explicitly rather than left to sql.shuffle.partitions
    # because the driver's collection path (toPandas/df.rdd) executes the
    # non-adaptive plan: without explicit partitioning every iteration
    # re-runs its exchanges at the full static partition count (measured
    # 56 s vs 3 s at sf0.01/local[8]). r13: P is byte-derived
    # (tables.adaptive_partitions) instead of defaultParallelism — at
    # test SFs the 10 iterations were paying ~40 stages x 32 near-empty
    # tasks (measured 25% of wall at sf0.1/local[32]); at 100 TB the
    # same formula sizes partitions to the guide's 100 MB-1 GB band.
    #
    # r13 round 2 (guide §2.4): the edge build drops the raw-edge join
    # shuffle and the whole nodes-distinct subtree. The previous form
    # shuffled the raw edges for the outdeg join (static partition
    # count), re-exchanged the joined frame to P, and ran a separate
    # distinct over the full edge set for nodes. Now the edges are
    # exchanged to hash(src, P) once into a staging cache; outdeg is a
    # zero-exchange aggregate over it, the deg join is zero-exchange
    # against it, and nodes is outdeg's key column — outdeg IS the
    # distinct node set (one row per src; both edge directions are
    # materialized so every node appears as a src). The staging cache
    # is released once its two consumers are materialized. The final
    # repartition on each consumer is NOT redundant: an AQE-cached plan
    # only exposes its output partitioning to consumers when the build
    # ends in a user repartition — without it both iteration joins
    # re-exchange their cached inputs every round (edge-scale × 10 at
    # 100 TB; measured in the intermediate variant's plan). Same-JVM
    # interleaved A/B (OPTIMIZATION_r13.md, "single-edge-exchange
    # build"; 5 reps, sf0.1/local[32], outputs cell-identical):
    # original 9.15 s median, this form 7.78 s, the no-repartition form
    # 7.53 s — the ~3% local
    # gap buys back the zero-exchange per-iteration shape that matters
    # at scale.
    p = adaptive_partitions(spark, sf_dir)
    edges_p = materialize(bipartite_edges(spark, sf_dir), p, "src")
    outdeg = edges_p.groupBy("src").agg(F.count("*").alias("deg"))
    edges_deg = materialize(edges_p.join(outdeg.hint("shuffle_hash"), "src"), p, "src")
    nodes = materialize(outdeg.select(F.col("src").alias("node")), p, "node")
    release(edges_p)

    # shuffle_hash hints: the rank/contrib sides look broadcastable at
    # test SFs, but broadcasting an iteration state re-materializes its
    # whole iteration-prefix subtree per broadcast (O(N^2) work, driver
    # heap pressure) — and at real scale per-node state is never
    # broadcastable. The hint keeps the co-partitioned zero-exchange
    # hash join the plan at every size.
    #
    # Measured dead end (do not "optimize" this): because both edge
    # directions are materialized, dst-set == node-set, so the per-
    # iteration nodes-LEFT JOIN-contrib step is semantically redundant —
    # the contrib aggregate alone already emits every node. Removing it
    # halves the join count (10 vs 20 across the unroll, 95 vs 145
    # Exchange nodes) yet runs 3-4x SLOWER (sf0.1/local[32] interleaved
    # same-JVM A/B: 1.5-2.8 s with the nodes join, 5-16 s without;
    # affine-inside-agg vs affine-after-agg makes no difference). The
    # cached-nodes join resets each iteration's probe side to an
    # InMemoryTableScan, which this runtime schedules far better than
    # the purely chained agg->join pipeline. Keep the nodes join.
    #
    # Also measured (r7): eager localCheckpoint on ranks every 2
    # iterations (the clusters.py lineage-cut that won 6x there) is
    # noise-level here — 10.75 vs 11.25 s median at sf0.1 — because the
    # unroll is compiled ONCE (no per-round driver analysis growth, the
    # thing checkpointing fixes). Not worth the materialization coupling.
    ranks = nodes.withColumn("rank", rank0)
    for _ in range(n_iters):
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
            (restart + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))).alias("rank"),
        )
    return ranks


def power_iteration_sql(rank0: str, restart: str, damping: float, n_iters: int) -> str:
    """``power_iteration`` as unrolled CTEs ``pr0`` .. ``pr<n_iters>``
    over ``EDGES_SQL``; the caller appends the final ``SELECT``.
    ``rank0`` may read ``node``, ``restart`` reads ``n.node``."""
    body = f"""
WITH {EDGES_SQL},
outdeg AS (
  SELECT src, COUNT(*) AS deg FROM edges GROUP BY src
),
nodes AS (
  SELECT DISTINCT src AS node FROM edges
),
pr0 AS (
  SELECT node, {rank0} AS rank FROM nodes
)"""
    for i in range(1, n_iters + 1):
        body += f""",
pr{i} AS (
  SELECT n.node,
         {restart} + {damping} * COALESCE(c.contrib, 0.0) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, SUM(pr{i - 1}.rank / d.deg) AS contrib
    FROM edges e
    JOIN pr{i - 1} ON e.src = pr{i - 1}.node
    JOIN outdeg d ON e.src = d.src
    GROUP BY e.dst
  ) c ON n.node = c.node
)"""
    return body


def union_min_sql(source: int, rounds: int, step: str) -> str:
    """Bounded shortest paths from ``source`` as unrolled union-min CTEs
    over ``EDGES_SQL``: ``rounds`` full relaxations, each edge adding
    ``step`` (an expression over ``src`` and ``dst``)."""
    body = f"""
WITH {EDGES_SQL},
d0 AS (
  SELECT {source} AS node, 0 AS dist
)"""
    for i in range(1, rounds + 1):
        body += f""",
d{i} AS (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM d{i - 1}
    UNION ALL
    SELECT e.dst AS node, d{i - 1}.dist + {step} AS dist
    FROM edges e JOIN d{i - 1} ON e.src = d{i - 1}.node
  ) GROUP BY node
)"""
    return body + f"""
SELECT CAST(node AS BIGINT) AS node, CAST(dist AS INTEGER) AS dist FROM d{rounds}
"""


@register(
    "q_graph_pagerank",
    oracle=power_iteration_sql("1.0", f"{1 - DAMPING}", DAMPING, N_ITERS)
    + f"""
SELECT node, FLOOR((rank) * 1e4 + 0.5) / 1e4 AS rank FROM pr{N_ITERS}
""",
    description=f"PageRank ({N_ITERS} power iterations, d={DAMPING}) on the part-supplier graph",
    tags=("graph", "pagerank", "iterative"),
)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranks = power_iteration(
        spark, sf_dir, F.lit(1.0), F.lit(1 - DAMPING), DAMPING, N_ITERS
    )
    return ranks.select("node", (F.floor((F.col("rank")) * 1e4 + 0.5) / 1e4).alias("rank"))


_TRI_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
),
edges AS (
  SELECT DISTINCT a.s AS u, b.s AS v
  FROM pairs a JOIN pairs b ON a.p = b.p AND a.s < b.s
),
deg AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges
  ) GROUP BY node
),
oriented AS (
  SELECT CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.u ELSE e.v END AS src,
         CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.v ELSE e.u END AS dst
  FROM edges e
  JOIN deg du ON e.u = du.node
  JOIN deg dv ON e.v = dv.node
),
triangles AS (
  SELECT o1.src AS a, o1.dst AS b, o2.dst AS c
  FROM oriented o1
  JOIN oriented o2 ON o1.src = o2.src AND o1.dst < o2.dst
  JOIN edges e ON e.u = LEAST(o1.dst, o2.dst) AND e.v = GREATEST(o1.dst, o2.dst)
),
members AS (
  SELECT unnest([a, b, c]) AS node FROM triangles
)
SELECT CAST(node AS BIGINT) AS s_suppkey, CAST(COUNT(*) AS BIGINT) AS triangles
FROM members
GROUP BY node
ORDER BY triangles DESC, s_suppkey
LIMIT 20
"""


@register(
    "q_graph_triangles",
    oracle=_TRI_ORACLE,
    description=(
        "degree-ordered triangle counting on the co-supplier graph: "
        "top-20 suppliers by triangle participation"
    ),
    tags=("graph", "triangles", "join"),
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting via the standard degree-ordered orientation:
    every undirected edge points from its (degree, id)-smaller endpoint
    to the larger, so each triangle is discovered exactly once as a
    wedge at its lowest-rank apex plus one closing-edge probe. The
    orientation bounds per-node wedge fan-out by the node's LOWER-rank
    degree — the property that keeps the wedge join sub-quadratic on
    power-law graphs at 100 TB (cf. Suri & Vassilvitskii's MR-friendly
    formulation). Degree table is dim-sized → broadcast; the wedge and
    closing joins are the only shuffles.

    Graph: suppliers co-supplying a part (observed in lineitem).
    """
    # Explicit co-partitioning (same rationale as power_iteration): the
    # wedge self-join is partitioned by apex, the closing probe by the
    # (u, v) edge pair, so under the non-adaptive collection path the
    # heavy joins run at cluster parallelism instead of the static
    # shuffle-partition count.
    p = adaptive_partitions(spark, sf_dir)
    pairs = supplier_part_pairs(spark, sf_dir)
    a, b = pairs.alias("a"), pairs.alias("b")
    edges = (
        a.join(b, (F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("b.s")))
        .select(F.col("a.s").alias("u"), F.col("b.s").alias("v"))
        .distinct()
    )
    edges = materialize(edges, p, "u", "v")
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    du, dv = deg.alias("du"), deg.alias("dv")
    with_deg = (
        edges.join(F.broadcast(du), F.col("u") == F.col("du.node"))
        .join(F.broadcast(dv), F.col("v") == F.col("dv.node"))
    )
    u_first = F.struct(F.col("du.deg"), F.col("u")) < F.struct(
        F.col("dv.deg"), F.col("v")
    )
    # both wedge self-join sides read hash(src, p)
    oriented = materialize(
        with_deg.select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        ),
        p,
        "src",
    )
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    # b < c by id, and the undirected edge set stores u < v by id, so the
    # closing probe is a plain (b, c) = (u, v) equi-join.
    wedges = o1.join(
        o2,
        (F.col("o1.src") == F.col("o2.src")) & (F.col("o1.dst") < F.col("o2.dst")),
    ).select(
        F.col("o1.src").alias("a"),
        F.col("o1.dst").alias("b"),
        F.col("o2.dst").alias("c"),
    )
    triangles = wedges.repartition(p, "b", "c").join(
        edges, (F.col("b") == F.col("u")) & (F.col("c") == F.col("v"))
    )
    return (
        triangles.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("triangles"))
        .select(
            F.col("node").cast("long").alias("s_suppkey"),
            F.col("triangles").cast("long").alias("triangles"),
        )
        .orderBy(F.desc("triangles"), "s_suppkey")
        .limit(20)
    )


_BFS_SOURCE = 1  # supplier node s_suppkey = 1
_BFS_HOPS = 6


@register(
    "q_graph_bfs_hops",
    oracle=union_min_sql(_BFS_SOURCE, _BFS_HOPS, "1"),
    description=(
        f"bounded BFS: hop distance <= {_BFS_HOPS} from supplier "
        f"{_BFS_SOURCE} on the part-supplier graph"
    ),
    tags=("graph", "bfs", "shortest_path", "iterative"),
)
def q_graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-hop single-source BFS as FRONTIER-DELTA iteration (the
    100 TB-scale formulation, r3 stretch ask): each round expands only
    the nodes discovered in the PREVIOUS round, dedups the expansion,
    and anti-joins the already-known set — per-round join work tracks
    the frontier size, not the full reachable set, which on high-
    diameter graphs is the difference between O(frontier) and O(visited)
    per hop. For unweighted BFS the layered discovery order makes this
    EXACTLY equivalent to full relaxation (a node's first discovery hop
    is its min distance; later paths are never shorter), so the
    unrolled union-min oracle is unchanged and stays hash-green.

    Same co-partitioned shape as PageRank: edges hash(src, P), frontier
    and known hash(node, P) — the expand join is zero-exchange; each
    round shuffles only the frontier dedup. ``known`` is referenced
    twice per round (anti-join probe + carry union), so its LOGICAL
    plan doubles per hop; persist() caches the data but does NOT
    truncate the analyzed plan, and the 2^hops-leaf plan string OOMs a
    default-1g driver heap during plan logging (observed in the plain
    driver-contract sweep). Eager localCheckpoint is the fix — it
    materializes each round's small (node, dist) state AND cuts the
    plan to a scan (the dedup/clusters.py pattern); the edge cache is
    released after the loop since the checkpointed state no longer
    references it."""
    p = adaptive_partitions(spark, sf_dir)
    # per-round expand joins read hash(src, p)
    edges = materialize(bipartite_edges(spark, sf_dir), p, "src")

    known = (
        spark.createDataFrame([(_BFS_SOURCE, 0)], "node long, dist int")
        .repartition(p, "node")
        .localCheckpoint(eager=True)
    )
    frontier = known
    for _ in range(_BFS_HOPS):
        # shuffle_hash for the same reason as power_iteration:
        # broadcasting iteration state re-runs its prefix subtree per
        # broadcast.
        cand = (
            edges.join(frontier.hint("shuffle_hash"), edges.src == frontier.node)
            .select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
            .repartition(p, "node")
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        frontier = cand.join(
            known.hint("shuffle_hash"), "node", "left_anti"
        ).localCheckpoint(eager=True)
        known = known.unionByName(frontier).localCheckpoint(eager=True)
    release(edges)
    return known.select(
        F.col("node").cast("long").alias("node"),
        F.col("dist").cast("int").alias("dist"),
    )
