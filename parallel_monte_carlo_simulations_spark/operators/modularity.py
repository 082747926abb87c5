"""Graph modularity of a node partition (Newman 2004) (round 10).

The partition-quality metric every community-detection pipeline
optimizes or reports:

    Q = sum_c [ e_c / m  -  (d_c / (2m))^2 ]

with m undirected edges, e_c edges fully inside community c, and d_c
the total degree of c's nodes. Here the graph is the co-supplier graph
(suppliers sharing at least one part, distinct pairs) and the partition
is the supplier NATION — "do suppliers co-supply within their nation?"
— the assortative-mixing question q_graph_assortativity asks for
degree, asked for a categorical label.

Exactness: m, e_c and d_c are exact BIGINT counts; per-community terms
are one mirrored double expression quantized to DECIMAL(28,12) before
the cross-community sum, so Q is bit-identical cross-engine.

Scale: the co-pair join is the part-keyed co-occurrence shape (work =
sum of squared part degrees — the family's hub-cap diagnostic story
lives in q_graph_cosuppliers); everything after is nation-sized. The
nation dim broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import table
from .graph import supplier_part_pairs

_QMOD_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
),
edges AS (
  SELECT DISTINCT a.s AS s1, b.s AS s2
  FROM pairs a JOIN pairs b ON a.p = b.p AND a.s < b.s
),
lab AS (SELECT s_suppkey AS s, s_nationkey AS c FROM supplier),
e AS (
  SELECT l1.c AS c1, l2.c AS c2
  FROM edges
  JOIN lab l1 ON l1.s = edges.s1
  JOIN lab l2 ON l2.s = edges.s2
),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e),
intra AS (
  SELECT c1 AS c, CAST(COUNT(*) AS BIGINT) AS e_c
  FROM e WHERE c1 = c2 GROUP BY c1
),
deg AS (
  SELECT c, CAST(COUNT(*) AS BIGINT) AS d_c FROM (
    SELECT c1 AS c FROM e UNION ALL SELECT c2 AS c FROM e
  ) GROUP BY c
),
terms AS (
  SELECT deg.c,
         COALESCE(intra.e_c, 0) AS e_c,
         deg.d_c,
         CAST(FLOOR((CAST(COALESCE(intra.e_c, 0) AS DOUBLE)
                      / CAST(m.m AS DOUBLE)
                    - POW(CAST(deg.d_c AS DOUBLE)
                          / (2.0e0 * CAST(m.m AS DOUBLE)), 2)) * 1e12 + 0.5) / 1e12
              AS DECIMAL(28,12)) AS term
  FROM deg LEFT JOIN intra ON intra.c = deg.c CROSS JOIN m
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
       CAST(ANY_VALUE(m.m) AS BIGINT) AS n_edges,
       CAST(SUM(e_c) AS BIGINT) AS intra_edges,
       FLOOR((CAST(SUM(term) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS modularity_q
FROM terms CROSS JOIN m
"""


@register(
    "q_graph_modularity",
    oracle=_QMOD_ORACLE,
    description=(
        "Newman modularity Q of the nation partition over the "
        "co-supplier graph: exact integer m/e_c/d_c counts, "
        "decimal-quantized per-community terms — the partition-quality "
        "metric behind every community-detection loop (near 0 here: "
        "TPC-H assigns nations independently of co-supply)"
    ),
    tags=("graph", "modularity", "community", "statistics", "aggregate"),
)
def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = table(spark, sf_dir, "supplier")
    pairs = supplier_part_pairs(spark, sf_dir)
    b = pairs.select(F.col("s").alias("s2"), F.col("p").alias("p2"))
    edges = (
        pairs.join(b, (F.col("p2") == F.col("p")) & (F.col("s") < F.col("s2")))
        .select(F.col("s").alias("s1"), "s2")
        .distinct()
    )
    lab = s.select(F.col("s_suppkey").alias("sk"), F.col("s_nationkey").alias("c"))
    e = (
        edges.join(
            F.broadcast(lab.select(F.col("sk").alias("s1"), F.col("c").alias("c1"))),
            "s1",
        )
        .join(
            F.broadcast(lab.select(F.col("sk").alias("s2"), F.col("c").alias("c2"))),
            "s2",
        )
        .select("c1", "c2")
    )
    m = e.agg(F.count("*").cast("long").alias("m"))
    intra = (
        e.filter(F.col("c1") == F.col("c2"))
        .groupBy(F.col("c1").alias("c"))
        .agg(F.count("*").cast("long").alias("e_c"))
    )
    deg = (
        e.select(F.col("c1").alias("c"))
        .unionAll(e.select(F.col("c2").alias("c")))
        .groupBy("c")
        .agg(F.count("*").cast("long").alias("d_c"))
    )
    terms = (
        deg.join(intra, "c", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "c",
            F.coalesce(F.col("e_c"), F.lit(0)).alias("e_c"),
            "d_c",
            (F.floor((F.coalesce(F.col("e_c"), F.lit(0)).cast("double")
                / F.col("m").cast("double")
                - F.pow(
                    F.col("d_c").cast("double")
                    / (F.lit(2.0) * F.col("m").cast("double")),
                    2,
                )) * 1e12 + 0.5) / 1e12)
            .cast("decimal(28,12)")
            .alias("term"),
        )
    )
    return terms.crossJoin(F.broadcast(m)).agg(
        F.count("*").cast("long").alias("n_communities"),
        F.any_value("m").cast("long").alias("n_edges"),
        F.sum("e_c").cast("long").alias("intra_edges"),
        (F.floor((F.sum("term").cast("double")) * 1e6 + 0.5) / 1e6).alias("modularity_q"),
    )
