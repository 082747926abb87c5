"""k-core decomposition by iterative peeling (Batagelj-Zaversnik
semantics, bounded-round distributed variant).

The k-core is the maximal subgraph where every node has degree >= k —
the standard graph-density filter (community seeding, spam filtering,
graph sparsification). The distributed algorithm is iterative peeling:
drop every node with degree < k, recompute degrees (edges to dropped
nodes vanish), repeat. Each round is one aggregation + one semi-join —
the same shuffle profile per round as connected components / PageRank.

This query runs a FIXED 4 peeling rounds over the supplier-part
bipartite graph (``graph.bipartite_edges``, the edge set every
iterative graph query reads) and reports the surviving node/edge counts
per round — convergence is visible in the output (equal consecutive
rows == fixpoint reached). The edge set is persisted once and each
round shrinks only a broadcastable alive-node set (per-round state
O(V), see the inline note), and the computation is exactly
SQL-replayable: every count is an exact integer.

Reference: the engine under re-implementation has no graph surface
(331-LoC Beam wrapper); this extends the §2.B capability mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import adaptive_partitions, materialize
from .graph import EDGES_SQL, PART_OFFSET, bipartite_edges, supplier_part_pairs

N_ROUNDS = 4


def _oracle() -> str:
    # k is data-derived: the 60th-percentile initial degree (exact
    # integer rank, rk = (n*6) DIV 10 clamped to >= 1), fixed for all
    # rounds. On the bipartite supplier-part graph this lands between
    # the part-degree and supplier-degree modes, so peeling removes the
    # sparse parts and converges to a nontrivial dense core.
    # live[i]: the edges left after peeling round i (round 0: all of them)
    live = ["edges"] + [f"e{i}" for i in range(1, N_ROUNDS + 1)]
    parts = [
        f"""
WITH {EDGES_SQL},
deg0 AS (
  SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src
),
ranked AS (
  SELECT deg,
         ROW_NUMBER() OVER (ORDER BY deg, src) AS rk,
         COUNT(*) OVER () AS n0
  FROM deg0
),
thresh AS (
  SELECT deg AS k FROM ranked
  WHERE rk = CASE WHEN (n0 * 6) // 10 < 1 THEN 1 ELSE (n0 * 6) // 10 END
)"""
    ]
    for i in range(1, N_ROUNDS + 1):
        parts.append(
            f""",
keep{i} AS (
  SELECT src FROM {live[i - 1]} CROSS JOIN thresh
  GROUP BY src, thresh.k
  HAVING COUNT(*) >= MAX(thresh.k)
),
e{i} AS (
  SELECT e.src, e.dst
  FROM {live[i - 1]} e
  WHERE e.src IN (SELECT src FROM keep{i})
    AND e.dst IN (SELECT src FROM keep{i})
)"""
        )
    rounds_union = "\nUNION ALL\n".join(
        f"SELECT {i} AS round, "
        f"(SELECT CAST(COUNT(DISTINCT src) AS BIGINT) FROM {live[i]}) AS n_nodes, "
        f"(SELECT CAST(COUNT(*) AS BIGINT) FROM {live[i]}) AS n_directed_edges"
        for i in range(0, N_ROUNDS + 1)
    )
    parts.append(f"\n{rounds_union}\nORDER BY round")
    return "".join(parts)


_QKCORE_ORACLE = _oracle()


@register(
    "q_graph_kcore",
    oracle=_QKCORE_ORACLE,
    description=(
        f"k-core decomposition (k = 60th-percentile initial degree, "
        f"{N_ROUNDS} peeling rounds) of the supplier-part graph: "
        "per-round surviving node/edge counts, fixpoint visible in the "
        "output"
    ),
    tags=("graph", "kcore", "iterative", "aggregate", "scale"),
)
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = bipartite_edges(spark, sf_dir)

    from pyspark.sql import Window

    deg0 = edges.groupBy("src").agg(F.count("*").alias("deg"))
    ranked = deg0.select(
        "deg",
        F.row_number().over(Window.orderBy("deg", "src")).alias("rk"),
        F.count("*").over(Window.partitionBy()).alias("n0"),
    )
    thresh = ranked.where(
        F.col("rk")
        == F.greatest(F.lit(1), F.expr("(n0 * 6) DIV 10"))
    ).select(F.col("deg").alias("k"))

    # Alive-set iteration: the edge set is persisted ONCE; each round
    # shrinks only the alive NODE set (broadcastable — at most |V| keys)
    # and re-derives the live subgraph by two broadcast semi-joins
    # against it. Same wall-clock as persisting per-round edge frames at
    # sf0.1 (measured ~4 s steady-state both ways, same JVM) but
    # per-round state is O(V) instead of O(E) — the version that
    # survives 100 TB edge sets. The un-persisted predecessor (every
    # round lazily recomputing all prior rounds) measured 77 s at
    # sf0.001 — do not drop the materialization. ``alive`` is eager-
    # localCheckpointed per round, not persisted: each round references
    # the previous alive set TWICE (both semi-joins), so without a
    # lineage cut the logical plan doubles per round — in the plain
    # driver-contract session (1g heap, default confs) the persist()
    # version measured 138 s at sf0.01 and risks the plan-logging OOM
    # that killed the BFS queries (graph.q_graph_bfs_hops); checkpointed it is
    # ~4 s. The edge cache stays for the final per-round summary scans.
    # Repartition to defaultParallelism BEFORE caching: without it the
    # cached union carries 2x the session's shuffle-partition count
    # (400 in a default session), and every one of the ~N_ROUNDS x 3
    # passes over the cache pays that task count again — measured 114 s
    # vs ~30 s at sf0.01 in the plain driver-contract session. p tracks
    # cluster size, so the cached layout scales with the executor count.
    p = adaptive_partitions(spark, sf_dir)
    edges = materialize(edges, p, "src")  # per-round semi-joins read hash(src, p)
    alive = edges.select("src").distinct()
    rounds = [edges]
    for _ in range(N_ROUNDS):
        live = (
            edges.join(F.broadcast(alive), "src", "left_semi")
            .join(
                F.broadcast(alive.select(F.col("src").alias("dst"))),
                "dst",
                "left_semi",
            )
        )
        alive = (
            live.groupBy("src")
            .agg(F.count("*").alias("deg"))
            .crossJoin(F.broadcast(thresh))
            .where(F.col("deg") >= F.col("k"))
            .select("src")
            .localCheckpoint(eager=True)
        )
        rounds.append(
            edges.join(F.broadcast(alive), "src", "left_semi").join(
                F.broadcast(alive.select(F.col("src").alias("dst"))),
                "dst",
                "left_semi",
            )
        )

    summaries = None
    for i, e in enumerate(rounds):
        s = e.agg(
            F.lit(i).alias("round"),
            F.countDistinct("src").alias("n_nodes"),
            F.count("*").alias("n_directed_edges"),
        )
        summaries = s if summaries is None else summaries.unionByName(s)
    return summaries.orderBy("round")


# --------------------------------------------------------------------------
# Link prediction: neighbour-set Jaccard between supplier pairs on the
# bipartite supplier-part graph.
# --------------------------------------------------------------------------

_QLINKPRED_ORACLE = f"""
WITH pairs AS (
  SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
),
deg AS (
  SELECT s, CAST(COUNT(*) AS BIGINT) AS d FROM pairs GROUP BY s
),
co AS (
  SELECT a.s AS s1, b.s AS s2, CAST(COUNT(*) AS BIGINT) AS inter
  FROM pairs a JOIN pairs b ON a.p = b.p AND a.s < b.s
  GROUP BY a.s, b.s
)
SELECT co.s1, co.s2, co.inter,
       (d1.d + d2.d - co.inter) AS uni,
       FLOOR((CAST(co.inter AS DOUBLE)
             / CAST(d1.d + d2.d - co.inter AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS jaccard
FROM co
JOIN deg d1 ON d1.s = co.s1
JOIN deg d2 ON d2.s = co.s2
ORDER BY jaccard DESC, co.s1, co.s2
LIMIT 20
"""


@register(
    "q_graph_link_prediction",
    oracle=_QLINKPRED_ORACLE,
    description=(
        "link prediction by neighbour-set Jaccard: supplier pairs "
        "ranked by shared-part overlap via a part-keyed co-occurrence "
        "join (exact integer intersection/union, no pairwise scan)"
    ),
    tags=("graph", "link-prediction", "jaccard", "join", "aggregate"),
)
def q_graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-occurrence formulation: |N(a) n N(b)| materializes only
    for pairs sharing at least one part (the join is keyed on the part,
    so work is sum-of-squared part degrees, not |suppliers|^2), and
    union comes from the degree table by inclusion-exclusion."""
    pairs = supplier_part_pairs(spark, sf_dir)
    deg = pairs.groupBy("s").agg(F.count("*").alias("d"))
    b = pairs.select(F.col("s").alias("s2"), F.col("p").alias("p2"))
    co = (
        pairs.join(b, (F.col("p2") == F.col("p")) & (F.col("s") < F.col("s2")))
        .groupBy(F.col("s").alias("s1"), "s2")
        .agg(F.count("*").alias("inter"))
    )
    d1 = deg.select(F.col("s").alias("s1"), F.col("d").alias("deg1"))
    d2 = deg.select(F.col("s").alias("s2"), F.col("d").alias("deg2"))
    return (
        co.join(F.broadcast(d1), "s1")
        .join(F.broadcast(d2), "s2")
        .select(
            "s1",
            "s2",
            "inter",
            (F.col("deg1") + F.col("deg2") - F.col("inter")).alias("uni"),
            (F.floor((F.col("inter").cast("double")
                / (F.col("deg1") + F.col("deg2") - F.col("inter")).cast(
                    "double"
                )) * 1e6 + 0.5) / 1e6).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "s1", "s2")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Adamic-Adar link prediction: shared neighbours weighted by 1/ln(deg)
# (Adamic & Adar 2003) — rare shared parts carry more signal than hubs.
# --------------------------------------------------------------------------

_QADAMIC_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
),
pdeg AS (
  SELECT p, CAST(COUNT(*) AS BIGINT) AS d FROM pairs GROUP BY p
),
w AS (
  -- shared parts always have d >= 2, so ln(d) > 0; the weight is
  -- quantized to DECIMAL before the cross-part sum so addition order
  -- is irrelevant
  SELECT p, CAST(FLOOR((1.0e0 / LN(CAST(d AS DOUBLE))) * 1e12 + 0.5) / 1e12
               AS DECIMAL(20,12)) AS aa_w
  FROM pdeg WHERE d >= 2
),
co AS (
  SELECT a.s AS s1, b.s AS s2,
         CAST(COUNT(*) AS BIGINT) AS n_shared,
         SUM(w.aa_w) AS aa_sum
  FROM pairs a
  JOIN pairs b ON a.p = b.p AND a.s < b.s
  JOIN w ON w.p = a.p
  GROUP BY a.s, b.s
)
SELECT s1, s2, n_shared,
       FLOOR((CAST(aa_sum AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS adamic_adar
FROM co
ORDER BY FLOOR((CAST(aa_sum AS DOUBLE)) * 1e6 + 0.5) / 1e6 DESC, s1, s2
LIMIT 20
"""


@register(
    "q_graph_adamic_adar",
    oracle=_QADAMIC_ORACLE,
    description=(
        "Adamic-Adar link prediction: supplier pairs scored by shared "
        "parts weighted 1/ln(part degree) — hub neighbours discounted, "
        "the canonical complement to the Jaccard ranker; decimal-"
        "quantized weights make the per-pair sum order-independent"
    ),
    tags=("graph", "link-prediction", "adamic-adar", "join", "aggregate"),
)
def q_graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same part-keyed co-occurrence geometry as
    ``q_graph_link_prediction`` (work = sum of squared part degrees,
    never |suppliers|^2 — and the degree-skew diagnostic/cap story is
    q_graph_cosuppliers'), but each shared part contributes 1/ln(deg)
    instead of 1: common parts say little about a specific pair. The
    weight is rounded to 12 dp and summed as DECIMAL so the score is
    independent of partition merge order."""
    pairs = supplier_part_pairs(spark, sf_dir)
    w = (
        pairs.groupBy("p")
        .agg(F.count("*").alias("d"))
        .filter(F.col("d") >= 2)
        .select(
            "p",
            (F.floor((F.lit(1.0) / F.log(F.col("d").cast("double"))) * 1e12 + 0.5) / 1e12)
            .cast("decimal(20,12)")
            .alias("aa_w"),
        )
    )
    b = pairs.select(F.col("s").alias("s2"), F.col("p").alias("p2"))
    co = (
        pairs.join(b, (F.col("p2") == F.col("p")) & (F.col("s") < F.col("s2")))
        .join(w, "p")
        .groupBy(F.col("s").alias("s1"), "s2")
        .agg(
            F.count("*").cast("long").alias("n_shared"),
            F.sum("aa_w").alias("aa_sum"),
        )
    )
    return (
        co.select(
            "s1",
            "s2",
            "n_shared",
            (F.floor((F.col("aa_sum").cast("double")) * 1e6 + 0.5) / 1e6).alias("adamic_adar"),
        )
        .orderBy(F.desc("adamic_adar"), "s1", "s2")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Degree assortativity: do high-degree nodes link to high-degree nodes?
# (Newman 2002) — Pearson correlation of endpoint degrees over edges.
# --------------------------------------------------------------------------

_QASSORT_ORACLE = f"""
WITH {EDGES_SQL},
deg AS (
  SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src
),
ends AS (
  SELECT ds.d AS dx, dd.d AS dy
  FROM edges e
  JOIN deg ds ON ds.src = e.src
  JOIN deg dd ON dd.src = e.dst
),
mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(dx) AS BIGINT) AS sx,
         CAST(SUM(dy) AS BIGINT) AS sy,
         CAST(SUM(dx * dx) AS BIGINT) AS sxx,
         CAST(SUM(dy * dy) AS BIGINT) AS syy,
         CAST(SUM(dx * dy) AS BIGINT) AS sxy
  FROM ends
)
SELECT m AS n_directed_edges,
       FLOOR(((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (SQRT(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * SQRT(CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))) * 1e6 + 0.5) / 1e6
         AS assortativity
FROM mom
"""


@register(
    "q_graph_assortativity",
    oracle=_QASSORT_ORACLE,
    description=(
        "degree assortativity (Newman r): Pearson correlation of "
        "endpoint degrees over the directed edge list — exact integer "
        "moments, one mirrored expression (bipartite graphs come out "
        "disassortative by construction)"
    ),
    tags=("graph", "assortativity", "statistics", "aggregate"),
)
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = bipartite_edges(spark, sf_dir)
    deg = e.groupBy("src").agg(F.count("*").alias("d"))
    ds = deg.select(F.col("src").alias("j_src"), F.col("d").alias("dx"))
    dd = deg.select(F.col("src").alias("j_dst"), F.col("d").alias("dy"))
    ends = (
        e.join(F.broadcast(ds), e.src == F.col("j_src"))
        .join(F.broadcast(dd), e.dst == F.col("j_dst"))
        .select("dx", "dy")
    )
    mom = ends.agg(
        F.count("*").alias("m"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return mom.select(
        F.col("m").alias("n_directed_edges"),
        (F.floor(((d("m") * d("sxy") - d("sx") * d("sy"))
            / (
                F.sqrt(d("m") * d("sxx") - d("sx") * d("sx"))
                * F.sqrt(d("m") * d("syy") - d("sy") * d("sy"))
            )) * 1e6 + 0.5) / 1e6).alias("assortativity"),
    )


# --------------------------------------------------------------------------
# Label propagation community detection (round 11): synchronized LPA
# with a deterministic tie-break — the O(edges)-per-round community
# finder (Raghavan et al. 2007), complementing modularity (which SCORES
# a given partition) and k-core (which peels density).
# --------------------------------------------------------------------------

_LPA_ROUNDS = 4


def _lpa_oracle() -> str:
    parts = [
        f"""
WITH {EDGES_SQL},
l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges)"""
    ]
    for i in range(1, _LPA_ROUNDS + 1):
        parts.append(
            f""",
c{i} AS (
  SELECT e.dst AS node, l.lbl, CAST(COUNT(*) AS BIGINT) AS c
  FROM edges e JOIN l{i - 1} l ON l.node = e.src
  GROUP BY e.dst, l.lbl
),
m{i} AS (SELECT node, MAX(c) AS mx FROM c{i} GROUP BY node),
l{i} AS (
  SELECT c.node, MIN(c.lbl) AS lbl
  FROM c{i} c JOIN m{i} m ON m.node = c.node AND c.c = m.mx
  GROUP BY c.node
)"""
        )
    parts.append(
        f"""
SELECT CAST(lbl AS BIGINT) AS community,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(CASE WHEN node >= {PART_OFFSET} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_parts,
       CAST(SUM(CASE WHEN node < {PART_OFFSET} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_suppliers
FROM l{_LPA_ROUNDS}
GROUP BY lbl
ORDER BY n_members DESC, community
LIMIT 10"""
    )
    return "".join(parts)


_QLPA_ORACLE = _lpa_oracle()


@register(
    "q_graph_label_propagation",
    oracle=_QLPA_ORACLE,
    description=(
        f"label-propagation community detection ({_LPA_ROUNDS} "
        "synchronized rounds) on the supplier-part graph: new label = "
        "most frequent neighbor label with a min-label tie-break "
        "(fully deterministic, unlike classic random-order LPA); top-10 "
        "communities with bipartite composition"
    ),
    tags=("graph", "community", "label-propagation", "iterative", "scale"),
)
def q_graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronized LPA: every node simultaneously adopts its
    neighborhood's plurality label; ties break to the SMALLEST label so
    both engines converge identically (the classic algorithm breaks
    ties randomly — useless for an oracle). Each round is two
    edge-keyed aggregations + one join: O(|E|) work, no corpus
    broadcast, no window — the plan shape that survives a billion-edge
    graph because labels flow along edges, never through the driver.
    Initial label = own node id (integer; parts offset above
    suppliers), so community ids are stable meaningful anchors."""
    e = bipartite_edges(spark, sf_dir).persist()
    labels = e.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    for _ in range(_LPA_ROUNDS):
        counts = (
            e.join(
                labels.select(F.col("node").alias("src"), "lbl"), "src"
            )
            .groupBy(F.col("dst").alias("node"), "lbl")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )
        # argmax count, tie -> MIN label, in ONE aggregation: max of
        # struct(c, -lbl) compares count first, then prefers the
        # smaller label (bigger negation). Equivalent to the oracle's
        # max-count + min-label join, two shuffles per round instead
        # of four.
        best = F.max(
            F.struct(F.col("c"), (-F.col("lbl")).alias("neg"), F.col("lbl"))
        )
        labels = counts.groupBy("node").agg(best.getField("lbl").alias("lbl"))
    return (
        labels.groupBy(F.col("lbl").cast("long").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum(F.when(F.col("node") >= PART_OFFSET, 1).otherwise(0))
            .cast("long")
            .alias("n_parts"),
            F.sum(F.when(F.col("node") < PART_OFFSET, 1).otherwise(0))
            .cast("long")
            .alias("n_suppliers"),
        )
        .orderBy(F.desc("n_members"), "community")
        .limit(10)
    )
