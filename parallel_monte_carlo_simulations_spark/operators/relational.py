"""Headline relational queries: scan -> filter -> join -> agg -> sort.

TPC-H-shaped queries adapted to the driver's star schema (FIXTURES.md §A).
All are pure DataFrame-API plans so Catalyst handles pushdown, pruning and
join selection; small dimensions are explicitly ``broadcast()``-hinted so
the star joins stay map-side at any scale factor.

Scale notes (100 TB): every query here shuffles only for its final
aggregation (partial aggregation is automatic), joins against dims are
broadcast, and filters/projections reach the parquet scan (verified via
``.explain`` — see tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.microunit import (
    qround_col,
    qround_duck,
    rdiv_halfup_duck,
    rdiv_halfup_expr,
    units_col,
    units_sql,
)
from ..registry import register
from ..tables import table

# Exact money units shared by every query below (r13: the raw-double
# ROUND(SUM/AVG) forms are eliminated repo-wide after the class produced
# two real scale-dependent flips in r12 — SCALING.md "Cross-engine float
# discipline"). Money columns are 2-decimal by data contract, so
# cents(x) is an exact BIGINT per row, products of cents are exact
# higher-resolution units, BIGINT sums are order-independent, and the
# string-form half-up division renders the exact rounded total
# identically in both engines at any magnitude. BIGINT overflow is the
# loud failure path in BOTH engines (Spark ANSI + DuckDB raise).

# --------------------------------------------------------------------------
# q01: pricing summary — full aggregate sweep over the fact table.
# Reference has no relational ops (SURVEY.md §2.A covers only the MC
# pipeline at reference parallel_simulations.py:100-107); this is the
# §2.B "aggregations" row.
# --------------------------------------------------------------------------

_Q01_ORACLE = f"""
WITH g AS (
  SELECT
    l_returnflag,
    l_linestatus,
    SUM({units_sql("l_quantity", 0)})                      AS qty_u0,
    SUM({units_sql("l_extendedprice", 2)})                 AS price_u2,
    SUM({units_sql("l_extendedprice", 2)}
        * {units_sql("1 - l_discount", 2)})                AS disc_price_u4,
    SUM({units_sql("l_extendedprice", 2)}
        * {units_sql("1 - l_discount", 2)}
        * {units_sql("1 + l_tax", 2)})                     AS charge_u6,
    SUM({units_sql("l_discount", 2)})                      AS disc_u2,
    COUNT(*)                                               AS n
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '1998-09-02'
  GROUP BY l_returnflag, l_linestatus
)
SELECT
  l_returnflag,
  l_linestatus,
  {rdiv_halfup_duck("qty_u0", "1", 2)}               AS sum_qty,
  {rdiv_halfup_duck("price_u2", "100", 2)}           AS sum_base_price,
  {rdiv_halfup_duck("disc_price_u4", "10000", 2)}    AS sum_disc_price,
  {rdiv_halfup_duck("charge_u6", "1000000", 2)}      AS sum_charge,
  {rdiv_halfup_duck("qty_u0", "n", 4)}               AS avg_qty,
  {rdiv_halfup_duck("price_u2", "n * 100", 4)}       AS avg_price,
  {rdiv_halfup_duck("disc_u2", "n * 100", 4)}        AS avg_disc,
  n                                                  AS count_order
FROM g
"""


@register(
    "q01_pricing_summary",
    oracle=_Q01_ORACLE,
    description="TPC-H Q1-style pricing summary: filtered scan + hash aggregate",
    tags=("aggregate", "filter", "scan"),
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    qty_u0 = units_col(F.col("l_quantity"), 0)
    price_u2 = units_col(F.col("l_extendedprice"), 2)
    inv_disc_u2 = units_col(1 - F.col("l_discount"), 2)
    tax1_u2 = units_col(1 + F.col("l_tax"), 2)
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty_u0).alias("qty_u0"),
            F.sum(price_u2).alias("price_u2"),
            F.sum(price_u2 * inv_disc_u2).alias("disc_price_u4"),
            F.sum(price_u2 * inv_disc_u2 * tax1_u2).alias("charge_u6"),
            F.sum(units_col(F.col("l_discount"), 2)).alias("disc_u2"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            # nonneg=True: every numerator is a SUM of non-negative
            # units (l_quantity/l_extendedprice/l_discount >= 0 and
            # 1-l_discount/1+l_tax >= 0 by the TPC-H data contract), so
            # the abs()/sign machinery is provably dead weight. The fast
            # paths pay: against one general expression, 8 interleaved
            # sql_tpch A/B pairs on a 4-core box read pass_cal 26.82 vs
            # 29.36 and Catalyst analysis/optimization/planning 50/149/46
            # vs 73/190/56 ms per pass (q01's Catalyst time 40 vs 71 ms).
            rdiv_halfup_expr("qty_u0", "1", 2, nonneg=True).alias("sum_qty"),
            rdiv_halfup_expr("price_u2", "100", 2, nonneg=True).alias(
                "sum_base_price"
            ),
            rdiv_halfup_expr("disc_price_u4", "10000", 2, nonneg=True).alias(
                "sum_disc_price"
            ),
            rdiv_halfup_expr("charge_u6", "1000000", 2, nonneg=True).alias(
                "sum_charge"
            ),
            rdiv_halfup_expr("qty_u0", "n", 4, nonneg=True).alias("avg_qty"),
            rdiv_halfup_expr("price_u2", "n * 100", 4, nonneg=True).alias(
                "avg_price"
            ),
            rdiv_halfup_expr("disc_u2", "n * 100", 4, nonneg=True).alias(
                "avg_disc"
            ),
            F.col("n").alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# q03: shipping priority — selective join + agg + top-k.
# --------------------------------------------------------------------------

_Q03_ORACLE = f"""
WITH g AS (
  SELECT
    l_orderkey,
    SUM({units_sql("l_extendedprice", 2)}
        * {units_sql("1 - l_discount", 2)})   AS revenue_u4,
    strftime(o_orderdate, '%Y-%m-%d')         AS orderdate,
    o_orderpriority
  FROM customer
  JOIN orders   ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  WHERE c_mktsegment = 'BUILDING'
    AND o_orderdate < TIMESTAMP '1998-01-01'
    AND l_shipdate  > TIMESTAMP '1998-01-01'
  GROUP BY l_orderkey, orderdate, o_orderpriority
)
SELECT l_orderkey,
       {rdiv_halfup_duck("revenue_u4", "10000", 2)} AS revenue,
       orderdate,
       o_orderpriority
FROM g
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@register(
    "q03_shipping_priority",
    oracle=_Q03_ORACLE,
    description="selective 3-way join + aggregate + deterministic top-k",
    tags=("join", "aggregate", "topk"),
)
def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    l = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        # customer is the small side after the segment filter: broadcast.
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(
                units_col(F.col("l_extendedprice"), 2)
                * units_col(1 - F.col("l_discount"), 2)
            ).alias("revenue_u4")
        )
        .select(
            "l_orderkey",
            rdiv_halfup_expr("revenue_u4", "10000", 2, nonneg=True).alias("revenue"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# q05: revenue by nation — the flagship 5-way star join (entry() runs this).
# --------------------------------------------------------------------------

_Q05_ORACLE = f"""
WITH g AS (
  SELECT
    n_name,
    SUM({units_sql("l_extendedprice", 2)}
        * {units_sql("1 - l_discount", 2)}) AS revenue_u4
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
    AND o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate <  TIMESTAMP '1998-01-01'
  GROUP BY n_name
)
SELECT n_name,
       {rdiv_halfup_duck("revenue_u4", "10000")} AS revenue
FROM g
ORDER BY revenue DESC, n_name
"""


@register(
    "q05_revenue_by_nation",
    oracle=_Q05_ORACLE,
    description="flagship: 5-way star join (fact ⋈ 4 dims) + agg + sort",
    tags=("join", "aggregate", "star", "flagship"),
)
def q05_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    # Dim chain region->nation->customer collapses to one broadcast map;
    # the only shuffle left is the final groupBy(n_name) — 25 groups.
    dims = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "n_name")
    )
    # Revenue in EXACT 1e-4 units: price and (1-discount) are 2-decimal
    # money, so cents(price) * cents(1-disc) is an exact BIGINT per row
    # and the per-nation sum is order-independent; the string-form
    # half-up division renders the exact 4-decimal total identically in
    # both engines. The raw-double SUM flipped a cent at sf1.0
    # (3484896566.925 summed in different orders landing on opposite
    # sides of the 2-dec boundary — r12 sf1.0 spot-sweep).
    # (r13 opt round: units_col floor form — see functions/microunit.py;
    # same exact BIGINTs, no BigDecimal-per-row Round.)
    ru = units_col(F.col("l_extendedprice"), 2) * units_col(
        F.lit(1) - F.col("l_discount"), 2
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(dims), o.o_custkey == dims.c_custkey)
        .groupBy("n_name")
        .agg(F.sum(ru).alias("revenue_u4"))
        .select(
            "n_name",
            rdiv_halfup_expr("revenue_u4", "10000", nonneg=True).alias("revenue"),
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


# --------------------------------------------------------------------------
# q06: forecast revenue — pure pushed-down filter + single scalar agg.
# --------------------------------------------------------------------------

_Q06_ORACLE = f"""
WITH g AS (
  SELECT
    SUM({units_sql("l_extendedprice", 2)}
        * {units_sql("l_discount", 2)}) AS revenue_u4,
    COUNT(*)                            AS n_items
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1998-01-01'
    AND l_discount BETWEEN 0.05 AND 0.07
    AND l_quantity < 24
)
SELECT {rdiv_halfup_duck("revenue_u4", "10000", 2)} AS revenue,
       n_items
FROM g
"""


@register(
    "q06_forecast_revenue",
    oracle=_Q06_ORACLE,
    description="pushed-down conjunctive filter + global aggregate",
    tags=("filter", "aggregate", "pushdown"),
)
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                units_col(F.col("l_extendedprice"), 2)
                * units_col(F.col("l_discount"), 2)
            ).alias("revenue_u4"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select(
            rdiv_halfup_expr("revenue_u4", "10000", 2, nonneg=True).alias("revenue"),
            "n_items",
        )
    )


# --------------------------------------------------------------------------
# q10: returned items — join + agg + top-k customers by lost revenue.
# --------------------------------------------------------------------------

_Q10_ORACLE = f"""
WITH g AS (
  SELECT
    c_custkey,
    c_name,
    SUM({units_sql("l_extendedprice", 2)}
        * {units_sql("1 - l_discount", 2)}) AS revenue_u4,
    n_name
  FROM customer
  JOIN orders   ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  JOIN nation   ON c_nationkey = n_nationkey
  WHERE l_returnflag = 'R'
  GROUP BY c_custkey, c_name, n_name
)
SELECT c_custkey, c_name,
       {rdiv_halfup_duck("revenue_u4", "10000", 2)} AS revenue,
       n_name
FROM g
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@register(
    "q10_returned_items",
    oracle=_Q10_ORACLE,
    description="returned-item revenue: 4-way join + agg + top-20",
    tags=("join", "aggregate", "topk"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = table(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(
                units_col(F.col("l_extendedprice"), 2)
                * units_col(1 - F.col("l_discount"), 2)
            ).alias("revenue_u4")
        )
        .select(
            "c_custkey",
            "c_name",
            rdiv_halfup_expr("revenue_u4", "10000", 2, nonneg=True).alias("revenue"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Projection/filter micro-query: proves scan-level pushdown + pruning.
# --------------------------------------------------------------------------

_QFP_ORACLE = """
SELECT
  o_orderkey,
  o_totalprice,
  o_orderpriority
FROM orders
WHERE o_orderstatus = 'O' AND o_totalprice > 150000
"""


@register(
    "q_filter_project",
    oracle=_QFP_ORACLE,
    description="projection + predicate pushdown to the parquet scan",
    tags=("filter", "project", "pushdown"),
)
def q_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.filter(
        (F.col("o_orderstatus") == "O") & (F.col("o_totalprice") > 150000)
    ).select("o_orderkey", "o_totalprice", "o_orderpriority")


# --------------------------------------------------------------------------
# HAVING-style post-aggregation filter.
# --------------------------------------------------------------------------

_QHAVING_ORACLE = f"""
SELECT
  o_custkey,
  COUNT(*)                      AS n_orders,
  {rdiv_halfup_duck(f"SUM({units_sql('o_totalprice', 2)})", "100", 2)}
                                AS total_spend
FROM orders
GROUP BY o_custkey
HAVING COUNT(*) >= 12
"""


@register(
    "q_group_having",
    oracle=_QHAVING_ORACLE,
    description="aggregate + HAVING filter on aggregate value",
    tags=("aggregate", "having"),
)
def q_group_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(units_col(F.col("o_totalprice"), 2)).alias("spend_u2"),
        )
        .filter(F.col("n_orders") >= 12)
        .select(
            "o_custkey",
            "n_orders",
            rdiv_halfup_expr("spend_u2", "100", 2, nonneg=True).alias("total_spend"),
        )
    )


# --------------------------------------------------------------------------
# CASE expression + conditional aggregation.
# --------------------------------------------------------------------------

_QCASE_ORACLE = """
SELECT
  CASE
    WHEN o_totalprice < 50000  THEN 'small'
    WHEN o_totalprice < 200000 THEN 'medium'
    ELSE 'large'
  END                                                          AS price_band,
  COUNT(*)                                                     AS n_orders,
  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
  {AVG_PRICE}                                                  AS avg_price
FROM orders
GROUP BY price_band
""".replace(
    "{AVG_PRICE}",
    rdiv_halfup_duck(
        f"SUM({units_sql('o_totalprice', 2)})", "COUNT(*) * 100", 2
    ),
)


@register(
    "q_case_conditional_agg",
    oracle=_QCASE_ORACLE,
    description="CASE WHEN banding + conditional aggregation",
    tags=("case", "aggregate"),
)
def q_case_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 200000, "medium")
        .otherwise("large")
    )
    return (
        o.withColumn("price_band", band)
        .groupBy("price_band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
            .cast("bigint")
            .alias("n_finished"),
            F.sum(units_col(F.col("o_totalprice"), 2)).alias("price_u2"),
        )
        .select(
            "price_band",
            "n_orders",
            "n_finished",
            rdiv_halfup_expr("price_u2", "n_orders * 100", 2, nonneg=True).alias(
                "avg_price"
            ),
        )
    )


# --------------------------------------------------------------------------
# Orders per month: date bucketing + sort (time-series reporting shape).
# --------------------------------------------------------------------------

_QMONTH_ORACLE = f"""
SELECT
  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS order_month,
  COUNT(*)                                       AS n_orders,
  {rdiv_halfup_duck(f"SUM({units_sql('o_totalprice', 2)})", "100", 2)}
                                                 AS total_price
FROM orders
GROUP BY order_month
ORDER BY order_month
"""


@register(
    "q_orders_per_month",
    oracle=_QMONTH_ORACLE,
    description="date_trunc month bucketing + aggregate + sort",
    tags=("date", "aggregate", "sort"),
)
def q_orders_per_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("order_month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(units_col(F.col("o_totalprice"), 2)).alias("price_u2"),
        )
        .select(
            "order_month",
            "n_orders",
            rdiv_halfup_expr("price_u2", "100", 2, nonneg=True).alias("total_price"),
        )
        .orderBy("order_month")
    )


# --------------------------------------------------------------------------
# Global sort + limit (top-k without grouping).
# --------------------------------------------------------------------------

_QTOP_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 25
"""


@register(
    "q_top_orders",
    oracle=_QTOP_ORACLE,
    description="global top-k: TakeOrderedAndProject, no full sort",
    tags=("sort", "topk"),
)
def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(25)
    )


# --------------------------------------------------------------------------
# Statistical aggregates: stddev/var/corr/covar + min/max.
# --------------------------------------------------------------------------

# Variance-family recipe (r13): the built-in stddev/var/corr/covar
# aggregates use engine-specific merge algorithms whose last-ulp results
# differ, so a raw ROUND on them is the boundary class. Instead:
# (1) aggregate EXACT integer power sums (quantity ints, price/discount
#     cents; the price-squared sum rides in DECIMAL38/HUGEINT — BIGINT
#     would overflow at sf1.0);
# (2) compute the textbook formulas in DOUBLE from correctly-rounded
#     casts of those exact integers — every operation is the identical
#     IEEE op in both engines, so the result is bit-equal by
#     construction at any scale;
# (3) quantize with the shared floor-form (qround).
# corr is computed on cent units (scale-invariant in exact arithmetic).
_QSTATS_ORACLE = f"""
WITH s AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         SUM(CAST(l_quantity AS BIGINT))  AS sq,
         SUM(CAST(l_quantity AS BIGINT)
             * CAST(l_quantity AS BIGINT)) AS sqq,
         SUM({units_sql("l_extendedprice", 2)}) AS sp,
         SUM(CAST({units_sql("l_extendedprice", 2)} AS HUGEINT)
             * {units_sql("l_extendedprice", 2)}) AS spp,
         SUM(CAST(l_quantity AS BIGINT)
             * {units_sql("l_extendedprice", 2)}) AS sqp,
         SUM({units_sql("l_discount", 2)}) AS sd,
         SUM(CAST(l_quantity AS BIGINT)
             * {units_sql("l_discount", 2)}) AS sqd,
         MIN(l_extendedprice) AS minp,
         MAX(l_extendedprice) AS maxp
  FROM lineitem GROUP BY l_returnflag
),
d AS (
  SELECT l_returnflag,
         CAST(n AS DOUBLE) AS nd, CAST(sq AS DOUBLE) AS sqd_,
         CAST(sqq AS DOUBLE) AS sqqd, CAST(sp AS DOUBLE) AS spd,
         CAST(spp AS DOUBLE) AS sppd, CAST(sqp AS DOUBLE) AS sqpd,
         CAST(sd AS DOUBLE) AS sdd, CAST(sqd AS DOUBLE) AS sqdd,
         minp, maxp
  FROM s
)
SELECT
  l_returnflag,
  {qround_duck("SQRT((nd * sqqd - sqd_ * sqd_) / (nd * (nd - 1.0)))", 4)}
    AS sd_qty,
  {qround_duck("(nd * sqqd - sqd_ * sqd_) / (nd * (nd - 1.0))", 4)}
    AS var_qty,
  {qround_duck(
      "(nd * sqpd - sqd_ * spd)"
      " / (SQRT(nd * sqqd - sqd_ * sqd_) * SQRT(nd * sppd - spd * spd))",
      4,
  )} AS corr_qty_price,
  {qround_duck(
      "((nd * sqdd - sqd_ * sdd) / (nd * (nd - 1.0))) / 100.0", 6
  )} AS covar_qty_disc,
  FLOOR((minp) * 1e2 + 0.5) / 1e2 AS min_price,
  FLOOR((maxp) * 1e2 + 0.5) / 1e2 AS max_price
FROM d
"""


@register(
    "q_stat_aggregates",
    oracle=_QSTATS_ORACLE,
    description="statistical aggregates: stddev, variance, corr, covar",
    tags=("aggregate", "stats"),
)
def q_stat_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("long")
    p = units_col(F.col("l_extendedprice"), 2)
    dd = units_col(F.col("l_discount"), 2)
    s = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).alias("sq"),
        F.sum(q * q).alias("sqq"),
        F.sum(p).alias("sp"),
        F.sum((p * p).cast("decimal(38,0)")).alias("spp"),
        F.sum(q * p).alias("sqp"),
        F.sum(dd).alias("sd"),
        F.sum(q * dd).alias("sqd"),
        F.min("l_extendedprice").alias("minp"),
        F.max("l_extendedprice").alias("maxp"),
    )
    nd = F.col("n").cast("double")
    sq = F.col("sq").cast("double")
    sqq = F.col("sqq").cast("double")
    sp = F.col("sp").cast("double")
    spp = F.col("spp").cast("double")
    sqp = F.col("sqp").cast("double")
    sd = F.col("sd").cast("double")
    sqd = F.col("sqd").cast("double")
    var_q = (nd * sqq - sq * sq) / (nd * (nd - 1.0))
    corr = (nd * sqp - sq * sp) / (
        F.sqrt(nd * sqq - sq * sq) * F.sqrt(nd * spp - sp * sp)
    )
    covar = ((nd * sqd - sq * sd) / (nd * (nd - 1.0))) / 100.0
    return s.select(
        "l_returnflag",
        qround_col(F.sqrt(var_q), 4).alias("sd_qty"),
        qround_col(var_q, 4).alias("var_qty"),
        qround_col(corr, 4).alias("corr_qty_price"),
        qround_col(covar, 6).alias("covar_qty_disc"),
        (F.floor((F.col("minp")) * 1e2 + 0.5) / 1e2).alias("min_price"),
        (F.floor((F.col("maxp")) * 1e2 + 0.5) / 1e2).alias("max_price"),
    )
