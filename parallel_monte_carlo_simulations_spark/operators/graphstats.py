"""Graph profiling, round-10 addition: degree distribution histogram.

The one-scan companion to the iterative graph family (pagerank, k-core,
triangles): the degree histogram in power-of-two buckets with tail
shares — the first thing anyone computes on a new graph, and the
skew diagnostic that decides whether the iterative algorithms need
salting. Buckets use exact integer edge comparisons (not
floor(log2(.)) — see dedup/containment.py's df report for why), so
both engines agree exactly. Same supplier-part bipartite projection
the rest of the graph family uses (``graph.supplier_part_pairs``, with
parts offset by ``graph.PART_OFFSET`` into one node-id space).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.microunit import rdiv_halfup_duck, rdiv_halfup_expr
from ..registry import register
from .graph import PART_OFFSET, part_node, supplier_part_pairs

_EDGES = (
    "SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem"
)

_DEG_EDGES = (128, 64, 32, 16, 8, 4, 2, 1)
_SQL_BUCKET = (
    "CASE "
    + " ".join(f"WHEN deg >= {e} THEN {e}" for e in _DEG_EDGES)
    + " END"
)

_QDEGREE_ORACLE = f"""
WITH pairs AS ({_EDGES}),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT s AS node FROM pairs
    UNION ALL
    SELECT p + {PART_OFFSET} AS node FROM pairs
  ) GROUP BY node
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(SUM(deg) AS BIGINT) AS n_halfedges
  FROM deg
)
SELECT {_SQL_BUCKET}                          AS deg_bucket_lo,
       CAST(COUNT(*) AS BIGINT)               AS n_nodes,
       CAST(SUM(deg) AS BIGINT)               AS halfedges,
       {rdiv_halfup_duck("COUNT(*)", "ANY_VALUE(t.n_nodes)", 6)}
         AS node_share,
       {rdiv_halfup_duck("SUM(deg)", "ANY_VALUE(t.n_halfedges)", 6)}
         AS edge_share
FROM deg CROSS JOIN tot t
GROUP BY 1
"""


@register(
    "q_graph_degree_histogram",
    oracle=_QDEGREE_ORACLE,
    description=(
        "degree-distribution histogram of the supplier-part bipartite "
        "graph in power-of-two buckets, with per-bucket node and "
        "half-edge shares — the skew diagnostic that decides whether "
        "iterative graph queries need salting; one scan, one groupBy"
    ),
    tags=("graph", "profiling", "histogram", "aggregate", "scale"),
)
def q_graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = supplier_part_pairs(spark, sf_dir)
    # every pair has a part row, so part_node fences both keys
    nodes = pairs.select(F.col("s").alias("node")).unionAll(
        pairs.select(part_node("s", "p").alias("node"))
    )
    deg = nodes.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    tot = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum("deg").cast("long").alias("n_halfedges"),
    )
    return (
        deg.crossJoin(F.broadcast(tot))
        .groupBy(F.expr(_SQL_BUCKET).alias("deg_bucket_lo"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("deg").cast("long").alias("halfedges"),
            F.any_value("n_nodes").alias("_tot_nodes"),
            F.any_value("n_halfedges").alias("_tot_he"),
        )
        .select(
            "deg_bucket_lo",
            "n_nodes",
            "halfedges",
            rdiv_halfup_expr("n_nodes", "_tot_nodes", 6).alias("node_share"),
            rdiv_halfup_expr("halfedges", "_tot_he", 6).alias("edge_share"),
        )
    )


# --------------------------------------------------------------------------
# Co-supplier counts: 2-hop neighborhood size in the bipartite graph.
# --------------------------------------------------------------------------

#: Hub-part degree cap (round-10, the stop-shingle treatment from
#: dedup/containment.py applied to the bipartite 2-hop): candidate rows
#: are Σ deg(part)², so one hub part shared by every supplier mints a
#: quadratic. Parts above the cap carry no co-supplier signal (they
#: connect everyone); measured max degree is 52 at both SFs, so the cap
#: changes nothing at oracle scales — it exists for the 100 TB corpus
#: whose catalog has degenerate hub SKUs.
DEG_CAP = 256

_QCOSUP_ORACLE = f"""
WITH pairs0 AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
keep AS (SELECT p FROM pairs0 GROUP BY p HAVING COUNT(*) <= {DEG_CAP}),
pairs AS (SELECT pairs0.s, pairs0.p FROM pairs0 JOIN keep USING (p)),
co AS (
  SELECT a.s AS s, b.s AS other, COUNT(*) AS shared_parts
  FROM pairs a JOIN pairs b ON a.p = b.p AND a.s <> b.s
  GROUP BY a.s, b.s
)
SELECT s AS suppkey,
       CAST(COUNT(*) AS BIGINT)          AS n_cosuppliers,
       CAST(SUM(shared_parts) AS BIGINT) AS n_shared_part_links,
       CAST(MAX(shared_parts) AS BIGINT) AS max_shared_with_one
FROM co GROUP BY s
"""


@register(
    "q_graph_cosuppliers",
    oracle=_QCOSUP_ORACLE,
    description=(
        "2-hop bipartite neighborhood: per supplier, the distinct "
        "co-suppliers sharing at least one part, total shared-part "
        "links, and the strongest single tie — the part-keyed self-join "
        f"whose candidate volume is Σ deg(part)², bounded by the "
        f"DEG_CAP={DEG_CAP} hub-part cut (the stop-shingle treatment "
        "from dedup/containment.py — no-op at oracle scales where max "
        "degree is 52, the guard for degenerate hub SKUs at 100 TB)"
    ),
    tags=("graph", "bipartite", "join", "profiling"),
)
def q_graph_cosuppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs0 = supplier_part_pairs(spark, sf_dir)
    keep = (
        pairs0.groupBy("p")
        .agg(F.count(F.lit(1)).alias("deg"))
        .filter(F.col("deg") <= DEG_CAP)
        .select("p")
    )
    pairs = pairs0.join(keep.hint("merge"), "p")
    a = pairs.select(F.col("s"), F.col("p")).alias("a").hint("merge")
    b = pairs.select(
        F.col("s").alias("other"), F.col("p")
    ).alias("b").hint("merge")
    co = (
        a.join(b, "p")
        .filter(F.col("s") != F.col("other"))
        .groupBy("s", "other")
        .agg(F.count(F.lit(1)).alias("shared_parts"))
    )
    return co.groupBy(F.col("s").alias("suppkey")).agg(
        F.count(F.lit(1)).cast("long").alias("n_cosuppliers"),
        F.sum("shared_parts").cast("long").alias("n_shared_part_links"),
        F.max("shared_parts").cast("long").alias("max_shared_with_one"),
    )
