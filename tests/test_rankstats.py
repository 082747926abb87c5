"""Property tests for the range-bucketed running-sum kernel
(operators/rankstats.py) — the round-11 replacement for global ranked
windows. Each test pits the kernel against the single-partition window
form it replaces and requires bit-identical results, including the
shapes that break naive bucketing: heavy ties, ties spanning would-be
bucket cuts, descending orders, NTILE remainder boundaries, constant
axes (span = 0), and partitioned variants."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from parallel_monte_carlo_simulations_spark.operators.rankstats import (
    BUCKET_COL,
    bucketed_running,
    sql_ntile,
    with_range_bucket,
)
from parallel_monte_carlo_simulations_spark.plans.audit import (
    formatted_plan,
    unbounded_global_windows,
)


def _frame(spark, n=4000, n_distinct=37, seed=11):
    rng = random.Random(seed)
    vals = [round(rng.uniform(0, 500), 2) for _ in range(n_distinct)]
    rows = [
        (i, vals[rng.randrange(n_distinct)], rng.randint(0, 1),
         rng.choice("pqr"))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "id long, v double, flag int, g string")


def test_global_running_sums_match_window(spark):
    df = _frame(spark)
    out = bucketed_running(
        df,
        axis="v",
        order=[F.col("v").asc(), F.col("id").asc()],
        cums={"c_all": F.lit(1), "c_flag": F.col("flag")},
        n_buckets=16,
    )
    w = Window.orderBy("v", "id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ref = df.select(
        "id",
        F.sum(F.lit(1)).over(w).alias("r_all"),
        F.sum("flag").over(w).alias("r_flag"),
    )
    bad = (
        out.select("id", "c_all", "c_flag")
        .join(ref, "id")
        .filter(
            (F.col("c_all") != F.col("r_all"))
            | (F.col("c_flag") != F.col("r_flag"))
        )
        .count()
    )
    assert bad == 0


def test_partitioned_running_sums_match_window(spark):
    df = _frame(spark, seed=23)
    out = bucketed_running(
        df,
        axis="v",
        order=[F.col("v").asc(), F.col("id").asc()],
        cums={"c": F.lit(1)},
        partition_by=("g",),
        n_buckets=8,
    )
    w = (
        Window.partitionBy("g")
        .orderBy("v", "id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ref = df.select("id", F.sum(F.lit(1)).over(w).alias("rc"))
    bad = (
        out.select("id", "c")
        .join(ref, "id")
        .filter(F.col("c") != F.col("rc"))
        .count()
    )
    assert bad == 0


def test_descending_rank_matches_row_number(spark):
    df = _frame(spark, seed=5)
    out = bucketed_running(
        df,
        axis=-F.col("v"),
        order=[F.col("v").desc(), F.col("id").asc()],
        cums={"rank": F.lit(1)},
        n_buckets=16,
    )
    ref = df.select(
        "id",
        F.row_number()
        .over(Window.orderBy(F.col("v").desc(), F.col("id")))
        .alias("rr"),
    )
    bad = (
        out.select("id", "rank")
        .join(ref, "id")
        .filter(F.col("rank") != F.col("rr"))
        .count()
    )
    assert bad == 0


@pytest.mark.parametrize("n_rows", [3, 9, 10, 11, 37, 1999])
@pytest.mark.parametrize("k", [3, 5, 10])
def test_sql_ntile_matches_native_ntile(spark, n_rows, k):
    """NTILE's larger-buckets-FIRST remainder rule, across n<k, n=k,
    n%k in {0, 1, k-1} shapes."""
    df = _frame(spark).limit(n_rows)
    n = df.count()
    ranked = bucketed_running(
        df,
        axis=-F.col("v"),
        order=[F.col("v").desc(), F.col("id").asc()],
        cums={"rank": F.lit(1)},
        n_buckets=7,
    )
    got = ranked.select(
        "id", sql_ntile(F.col("rank"), F.lit(n).cast("long"), k).alias("t")
    )
    ref = df.select(
        "id",
        F.ntile(k)
        .over(Window.orderBy(F.col("v").desc(), F.col("id")))
        .alias("rt"),
    )
    bad = got.join(ref, "id").filter(F.col("t") != F.col("rt")).count()
    assert bad == 0


def test_constant_axis_degenerates_to_one_bucket(spark):
    """span = 0 (all values equal) must fall back to bucket 0 — the old
    global window, not a crash or a wrong split."""
    df = spark.range(100).select(
        F.col("id"), F.lit(7.5).alias("v")
    )
    out = bucketed_running(
        df,
        axis="v",
        order=[F.col("v").asc(), F.col("id").asc()],
        cums={"rn": F.lit(1)},
        n_buckets=16,
    )
    got = sorted(r.rn for r in out.select("rn").collect())
    assert got == list(range(1, 101))


def test_bucket_assignment_is_monotone_and_tie_stable(spark):
    """Equal values always share a bucket; bucket order follows value
    order (the invariant that makes offset+local == global)."""
    df = _frame(spark, seed=41)
    b = with_range_bucket(df, "v", n_buckets=16)
    two_buckets = (
        b.groupBy("v")
        .agg(F.countDistinct(BUCKET_COL).alias("nb"))
        .filter(F.col("nb") > 1)
        .count()
    )
    assert two_buckets == 0
    inversions = (
        b.alias("x")
        .join(b.alias("y"), F.col("x.v") < F.col("y.v"))
        .filter(F.col(f"x.{BUCKET_COL}") > F.col(f"y.{BUCKET_COL}"))
        .count()
    )
    assert inversions == 0


def test_decimal_cumsum_exact(spark):
    """Decimal running sums (the ABC/Pareto shape) stay exact through
    the offset + local decomposition."""
    rng = random.Random(3)
    rows = [(i, f"{rng.randint(1, 99999)}.{rng.randint(0,99):02d}")
            for i in range(500)]
    df = spark.createDataFrame(rows, "id long, s string").select(
        "id", F.col("s").cast("decimal(18,2)").alias("rev")
    )
    out = bucketed_running(
        df,
        axis=-F.col("rev").cast("double"),
        order=[F.col("rev").desc(), F.col("id").asc()],
        cums={"cum": F.col("rev")},
        n_buckets=8,
    )
    w = Window.orderBy(F.col("rev").desc(), F.col("id")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ref = df.select("id", F.sum("rev").over(w).alias("rcum"))
    bad = (
        out.select("id", "cum")
        .join(ref, "id")
        .filter(F.col("cum") != F.col("rcum"))
        .count()
    )
    assert bad == 0


def test_local_windows_are_bucket_partitioned(spark):
    """The plan must contain no corpus-over-one-partition window: every
    Window node either partitions by the bucket column or consumes the
    bounded bucket rollup (the offsets prefix)."""
    df = _frame(spark)
    out = bucketed_running(
        df,
        axis="v",
        order=[F.col("v").asc(), F.col("id").asc()],
        cums={"c": F.lit(1)},
        n_buckets=16,
    )
    assert unbounded_global_windows(out) == 0, formatted_plan(out)


def test_null_axis_rows_sort_first_like_the_window(spark):
    """NULL axis rows must land in a dedicated FIRST bucket (-1) so the
    kernel reproduces the window's NULLS FIRST ascending default — the
    r11 ADVICE fix (F.least used to drop them into the LAST bucket)."""
    rows = [(i, None if i % 5 == 0 else float(i % 97), 1) for i in range(800)]
    df = spark.createDataFrame(rows, "id long, v double, flag int")
    out = bucketed_running(
        df,
        axis="v",
        order=[F.col("v").asc_nulls_first(), F.col("id").asc()],
        cums={"c": F.lit(1)},
        n_buckets=16,
    )
    w = Window.orderBy(
        F.col("v").asc_nulls_first(), F.col("id").asc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ref = df.select("id", F.sum(F.lit(1)).over(w).alias("rc"))
    bad = (
        out.select("id", "c")
        .join(ref, "id")
        .filter(F.col("c") != F.col("rc"))
        .count()
    )
    assert bad == 0


def test_null_axis_bucket_is_minus_one(spark):
    df = spark.createDataFrame(
        [(1, None), (2, 3.0), (3, 9.0)], "id long, v double"
    )
    got = {
        r["id"]: r[BUCKET_COL]
        for r in with_range_bucket(df, "v", n_buckets=4).collect()
    }
    assert got[1] == -1 and got[2] == 0 and got[3] == 3


def test_null_axis_rows_sort_last_for_descending_callers(spark):
    """r12 ADVICE: a DESCENDING caller (negated axis + F.desc order,
    the q_ml_lift_deciles pattern) pairs with Spark's desc NULLS LAST
    default — nulls="last" must route NULL-axis rows to a bucket AFTER
    every real bucket so the kernel still reproduces the window
    bit-for-bit."""
    rows = [(i, None if i % 5 == 0 else float(i % 97), 1) for i in range(800)]
    df = spark.createDataFrame(rows, "id long, v double, flag int")
    out = bucketed_running(
        df,
        axis=-F.col("v"),
        order=[F.col("v").desc(), F.col("id").asc()],
        cums={"c": F.lit(1)},
        n_buckets=16,
        nulls="last",
    )
    w = Window.orderBy(F.col("v").desc(), F.col("id").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ref = df.select("id", F.sum(F.lit(1)).over(w).alias("rc"))
    bad = (
        out.select("id", "c")
        .join(ref, "id")
        .filter(F.col("c") != F.col("rc"))
        .count()
    )
    assert bad == 0


def test_null_axis_bucket_nulls_last_is_n_buckets(spark):
    df = spark.createDataFrame(
        [(1, None), (2, 3.0), (3, 9.0)], "id long, v double"
    )
    got = {
        r["id"]: r[BUCKET_COL]
        for r in with_range_bucket(df, "v", n_buckets=4, nulls="last").collect()
    }
    assert got[1] == 4 and got[2] == 0 and got[3] == 3


def test_range_bucket_rejects_bad_nulls_knob(spark):
    import pytest as _pytest

    df = spark.createDataFrame([(1, 1.0)], "id long, v double")
    with _pytest.raises(ValueError, match="nulls"):
        with_range_bucket(df, "v", nulls="middle")
