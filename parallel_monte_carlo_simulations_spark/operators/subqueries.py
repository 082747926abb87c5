"""Subquery surface: scalar, IN / NOT IN, correlated, argmin-join, CTEs,
disjunctive pushdown.

Some queries run through ``spark.sql`` over registered temp views — the
SQL front-end is part of the engine's public surface and Catalyst rewrites
subqueries into the same joins the DataFrame API would produce (check:
correlated EXISTS becomes LeftSemi in the plan)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.microunit import (
    rdiv_halfup_duck,
    rdiv_halfup_expr,
    units_col,
    units_sql,
)
from ..registry import register
from ..tables import table
from .graph import EDGES_SQL


def _views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    for n in names:
        table(spark, sf_dir, n).createOrReplaceTempView(n)


# --------------------------------------------------------------------------
# Scalar subquery: orders above the global average price.
# --------------------------------------------------------------------------

_QSCALAR_ORACLE = """
SELECT o_orderkey, o_custkey, FLOOR((o_totalprice) * 1e2 + 0.5) / 1e2 AS totalprice
FROM orders
WHERE o_totalprice > 1.8 * (SELECT AVG(o_totalprice) FROM orders)
"""


@register(
    "q_sub_scalar",
    oracle=_QSCALAR_ORACLE,
    description="scalar subquery threshold (2x global average)",
    tags=("subquery", "scalar"),
)
def q_sub_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, FLOOR((o_totalprice) * 1e2 + 0.5) / 1e2 AS totalprice
        FROM orders
        WHERE o_totalprice > 1.8 * (SELECT AVG(o_totalprice) FROM orders)
        """
    )


# --------------------------------------------------------------------------
# NOT IN subquery (null-free keys): nations with customers but no suppliers.
# --------------------------------------------------------------------------

_QNOTIN_ORACLE = """
SELECT n_nationkey, n_name
FROM nation
WHERE n_nationkey IN (SELECT c_nationkey FROM customer WHERE c_acctbal > 9000)
  AND n_nationkey NOT IN (SELECT s_nationkey FROM supplier WHERE s_acctbal > 6000)
"""


@register(
    "q_sub_not_in",
    oracle=_QNOTIN_ORACLE,
    description="IN + NOT IN subqueries (semi/anti rewrite)",
    tags=("subquery", "in"),
)
def q_sub_not_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir, "nation", "customer", "supplier")
    return spark.sql(
        """
        SELECT n_nationkey, n_name
        FROM nation
        WHERE n_nationkey IN (SELECT c_nationkey FROM customer WHERE c_acctbal > 9000)
          AND n_nationkey NOT IN (SELECT s_nationkey FROM supplier WHERE s_acctbal > 6000)
        """
    )


# --------------------------------------------------------------------------
# Correlated scalar subquery: per-order count of above-average items.
# --------------------------------------------------------------------------

_QCORR_ORACLE = """
SELECT
  o_orderkey,
  (SELECT COUNT(*) FROM lineitem
   WHERE l_orderkey = o_orderkey AND l_quantity > 25) AS n_bulk_items
FROM orders
WHERE o_orderkey % 50 = 0
"""


@register(
    "q_sub_correlated_scalar",
    oracle=_QCORR_ORACLE,
    description="correlated scalar subquery (rewritten to an outer join + agg)",
    tags=("subquery", "correlated"),
)
def q_sub_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir, "orders", "lineitem")
    return spark.sql(
        """
        SELECT
          o_orderkey,
          (SELECT COUNT(*) FROM lineitem
           WHERE l_orderkey = o_orderkey AND l_quantity > 25) AS n_bulk_items
        FROM orders
        WHERE o_orderkey % 50 = 0
        """
    )


# --------------------------------------------------------------------------
# Argmin join (TPC-H Q2 shape): cheapest part per (brand, type).
# --------------------------------------------------------------------------

_QARGMIN_ORACLE = """
WITH mins AS (
  SELECT p_brand, p_type, MIN(p_retailprice) AS min_price
  FROM part GROUP BY p_brand, p_type
)
SELECT p.p_brand, p.p_type, p.p_partkey,
       FLOOR((p.p_retailprice) * 1e2 + 0.5) / 1e2 AS retailprice
FROM part p
JOIN mins m
  ON p.p_brand = m.p_brand AND p.p_type = m.p_type
 AND p.p_retailprice = m.min_price
"""


@register(
    "q_sub_argmin_join",
    oracle=_QARGMIN_ORACLE,
    description="argmin via groupBy-min join-back (TPC-H Q2 shape)",
    tags=("subquery", "argmin", "join"),
)
def q_sub_argmin_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").alias("p")
    mins = (
        table(spark, sf_dir, "part")
        .groupBy(
            F.col("p_brand").alias("mb"), F.col("p_type").alias("mt")
        )
        .agg(F.min("p_retailprice").alias("min_price"))
        .alias("m")
    )
    return (
        p.join(
            mins,
            (F.col("p.p_brand") == F.col("m.mb"))
            & (F.col("p.p_type") == F.col("m.mt"))
            & (F.col("p.p_retailprice") == F.col("m.min_price")),
        )
        .select(
            F.col("p.p_brand").alias("p_brand"),
            F.col("p.p_type").alias("p_type"),
            "p_partkey",
            (F.floor((F.col("p_retailprice")) * 1e2 + 0.5) / 1e2).alias("retailprice"),
        )
    )


# --------------------------------------------------------------------------
# IN + HAVING (TPC-H Q18 shape): orders with total quantity > threshold.
# --------------------------------------------------------------------------

_QBIGORD_ORACLE = """
SELECT c_name, o_orderkey, FLOOR((o_totalprice) * 1e2 + 0.5) / 1e2 AS totalprice, sum_qty
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN (
  SELECT l_orderkey, FLOOR((SUM(l_quantity)) * 1e2 + 0.5) / 1e2 AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 300
) big ON o_orderkey = big.l_orderkey
"""


@register(
    "q_sub_large_orders",
    oracle=_QBIGORD_ORACLE,
    description="aggregate subquery membership (TPC-H Q18 shape)",
    tags=("subquery", "having", "join"),
)
def q_sub_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    l = table(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg((F.floor((F.sum("l_quantity")) * 1e2 + 0.5) / 1e2).alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            (F.floor((F.col("o_totalprice")) * 1e2 + 0.5) / 1e2).alias("totalprice"),
            "sum_qty",
        )
    )


# --------------------------------------------------------------------------
# Disjunctive predicate (TPC-H Q19 shape): OR-of-ANDs pushdown.
# --------------------------------------------------------------------------

_QDISJ_ORACLE = f"""
SELECT
  COUNT(*)                                          AS n_items,
  {rdiv_halfup_duck(
      f"SUM({units_sql('l_extendedprice', 2)}"
      f" * {units_sql('1 - l_discount', 2)})",
      "10000", 2)} AS revenue
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size <= 10 AND l_quantity >= 10)
   OR (p_brand = 'Brand#2' AND p_size <= 20 AND l_quantity >= 20)
   OR (p_brand = 'Brand#3' AND p_size <= 30 AND l_quantity >= 5)
"""


@register(
    "q_sub_disjunctive",
    oracle=_QDISJ_ORACLE,
    description="disjunctive OR-of-ANDs join filter (TPC-H Q19 shape)",
    tags=("filter", "disjunctive", "join"),
)
def q_sub_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 10) & (F.col("l_quantity") >= 10))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size") <= 20) & (F.col("l_quantity") >= 20))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size") <= 30) & (F.col("l_quantity") >= 5))
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(
                units_col(F.col("l_extendedprice"), 2)
                * units_col(1 - F.col("l_discount"), 2)
            ).alias("revenue_u4"),
        )
        .select(
            "n_items",
            rdiv_halfup_expr("revenue_u4", "10000", 2).alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# CTE chain through the SQL front-end.
# --------------------------------------------------------------------------

_QCTE_ORACLE = """
WITH seg_spend AS (
  SELECT c_mktsegment, c_custkey, SUM(o_totalprice) AS spend
  FROM customer JOIN orders ON c_custkey = o_custkey
  GROUP BY c_mktsegment, c_custkey
),
seg_stats AS (
  SELECT c_mktsegment, AVG(spend) AS avg_spend
  FROM seg_spend GROUP BY c_mktsegment
)
SELECT s.c_mktsegment, COUNT(*) AS n_above_avg
FROM seg_spend s
JOIN seg_stats t ON s.c_mktsegment = t.c_mktsegment
WHERE s.spend > t.avg_spend
GROUP BY s.c_mktsegment
"""


@register(
    "q_sub_cte_chain",
    oracle=_QCTE_ORACLE,
    description="multi-CTE pipeline via the SQL front-end",
    tags=("subquery", "cte", "sql"),
)
def q_sub_cte_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir, "customer", "orders")
    return spark.sql(_QCTE_ORACLE)


# --------------------------------------------------------------------------
# LATERAL correlated subquery: per-row dependent top-k (TPC-H-adjacent
# "top customers per nation" without a window function).
# --------------------------------------------------------------------------

_QLATERAL = """
SELECT n.n_name, l.c_name, l.c_acctbal
FROM nation n,
LATERAL (
  SELECT c_name, c_acctbal FROM customer c
  WHERE c.c_nationkey = n.n_nationkey AND c.c_acctbal > 0
  ORDER BY c_acctbal DESC, c_name LIMIT 2
) l
"""


@register(
    "q_sub_lateral_topk",
    oracle=_QLATERAL,
    description="LATERAL correlated subquery: dependent top-2 customers per nation row",
    tags=("subquery", "lateral", "topk", "sql"),
)
def q_sub_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lateral-join topology (each outer row drives a dependent
    subquery with its own ORDER BY ... LIMIT): Catalyst decorrelates it
    to a partitioned window-and-filter, so the physical plan is one
    shuffle on the correlation key — verify with .explain() that no
    nested-loop per-outer-row execution survives. Both engines run the
    identical SQL text."""
    _views(spark, sf_dir, "nation", "customer")
    return spark.sql(_QLATERAL)


# --------------------------------------------------------------------------
# Recursive CTE (Spark 4 WITH RECURSIVE): bounded transitive closure over
# the part-supplier graph — identical SQL text on both engines.
# --------------------------------------------------------------------------

_QRECURSIVE = f"""
WITH RECURSIVE {EDGES_SQL},
walk(node, depth) AS (
  SELECT CAST(1 AS BIGINT) AS node, 0 AS depth
  UNION ALL
  SELECT e.dst AS node, w.depth + 1 AS depth
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.depth < 2
)
SELECT node, CAST(MIN(depth) AS INTEGER) AS dist
FROM walk
GROUP BY node
"""


@register(
    "q_recursive_cte",
    oracle=_QRECURSIVE,
    description=(
        "WITH RECURSIVE bounded transitive closure: 2-hop reachability "
        "from supplier 1 (Spark 4 recursive CTE == DuckDB)"
    ),
    tags=("subquery", "recursive", "cte", "graph", "sql"),
)
def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recursive-CTE surface (new in Spark 4): bounded-depth
    reachability over the bipartite part-supplier graph, the same SQL
    text running on both engines. UNION ALL recursion with an explicit
    depth bound keeps the working set finite on a cyclic graph; the
    outer MIN collapses path multiplicity to distances. The DataFrame
    formulation of the same computation (explicitly co-partitioned,
    shuffle-hash-hinted) is ``q_graph_bfs_hops`` — this query proves the
    declarative front-end parity. The graph is ``graph.EDGES_SQL``,
    without the node-id collision fence of ``graph.bipartite_edges``:
    the text is shared with DuckDB on purpose, so it stays plain SQL."""
    _views(spark, sf_dir, "lineitem")
    return spark.sql(_QRECURSIVE)
