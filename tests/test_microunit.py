"""Shared 2^53 fence tests (functions/microunit.py).

The repo-wide discipline is 'exact BIGINT micro-units, one final
rounded division'. These tests pin BOTH halves of that contract:

1. the string-form half-up division is correctly rounded — equal to
   float(Decimal ROUND_HALF_UP) — at ANY magnitude (string->double
   parse is correctly rounded in both engines), in the Python mirror
   AND in both engines' SQL. The pre-r10 split form
   double(whole)+double(frac)/1e4 claimed this only below 2^53 and was
   still wrong: the final addition is a second rounding, falsified by
   85612902/9281852 -> 9.223700000000001 vs 9.2237 (pinned below);
2. guard_abs_lt / guard_exact_bigint pass values through unchanged
   inside the bound and fail LOUDLY outside it.
"""

from __future__ import annotations

import os
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from parallel_monte_carlo_simulations_spark.functions.microunit import (
    EXACT_DOUBLE_MAX,
    guard_exact_bigint,
    rdiv_halfup_duck,
    rdiv_halfup_expr,
    rdiv_halfup_spark,
)


def _mirror(num: int, den: int, digits: int = 4) -> float:
    s = 10**digits
    a = abs(num)
    frac0 = ((a % den) * 2 * s + den) // (2 * den)
    whole = a // den + frac0 // s
    sign = "-" if num < 0 and (whole > 0 or frac0 % s > 0) else ""
    return float(f"{sign}{whole}.{frac0 % s:0{digits}d}")


def _decimal_expect(num: int, den: int, digits: int) -> float:
    """Half-away-from-zero quantization of the exact rational."""
    q = (Decimal(abs(num)) / Decimal(den)).quantize(
        Decimal(1).scaleb(-digits), rounding=ROUND_HALF_UP
    )
    return float(-q if num < 0 else q)


@given(
    st.integers(min_value=0, max_value=10**18),
    st.integers(min_value=1, max_value=10**7),
)
@settings(max_examples=500, deadline=None)
def test_string_form_matches_decimal_halfup(num, den):
    expect = float(
        (Decimal(num) / Decimal(den)).quantize(
            Decimal("0.0001"), rounding=ROUND_HALF_UP
        )
    )
    assert _mirror(num, den) == expect


def test_split_form_falsifier_now_exact():
    # The Hypothesis-found counterexample that killed the r8 split
    # form: exact quotient quantizes to 9.2237, which sits within
    # ~1.4e-17 of a half-ulp boundary of the double sum, so
    # float(9) + float(2237)/1e4 landed one ulp high.
    num, den = 85_612_902, 9_281_852
    assert float(9) + float(2237) / 1e4 != _mirror(num, den)  # the bug
    assert _mirror(num, den) == 9.2237


@given(
    st.integers(min_value=-(10**18), max_value=10**18),
    st.integers(min_value=1, max_value=10**7),
    st.sampled_from([2, 4, 6]),
)
@settings(max_examples=500, deadline=None)
def test_signed_digits_mirror_matches_decimal(num, den, digits):
    got = _mirror(num, den, digits)
    expect = _decimal_expect(num, den, digits)
    assert got == expect
    # no negative zero, ever
    if got == 0.0:
        assert str(got) == "0.0"


@given(
    st.integers(min_value=0, max_value=10**18),
    st.integers(min_value=1, max_value=10**6),
)
@settings(max_examples=50, deadline=None)
def test_duckdb_sql_matches_mirror(num, den):
    con = duckdb.connect()
    got = con.execute(
        f"SELECT {rdiv_halfup_duck(str(num), str(den))} AS v"
    ).fetchone()[0]
    con.close()
    assert got == _mirror(num, den)


@given(
    st.integers(min_value=-(10**18), max_value=10**18),
    st.integers(min_value=1, max_value=10**6),
    st.sampled_from([2, 4, 6]),
)
@settings(max_examples=50, deadline=None)
def test_duckdb_sql_signed_digits_matches_mirror(num, den, digits):
    con = duckdb.connect()
    got = con.execute(
        f"SELECT {rdiv_halfup_duck(str(num), str(den), digits)} AS v"
    ).fetchone()[0]
    con.close()
    assert got == _mirror(num, den, digits)


def test_spark_sql_matches_mirror(spark):
    cases = [
        (14_411_518_807_587, 1),  # the round-7 falsifier
        (2_728_744_875, 900_000),  # exact .93875 tie
        (99_995, 100_000),  # fraction carries to the next whole
        (85_612_902, 9_281_852),  # the r10 split-form falsifier
        (8 * 10**15, 1),
        (7_777_777_777_777_777, 3),
        (10**18, 7),  # beyond 2^53: string parse still exact
        (0, 5),
    ]
    df = spark.createDataFrame(cases, "num long, den long").select(
        "num", "den", rdiv_halfup_expr("num", "den").alias("v")
    )
    for row in df.collect():
        assert row.v == _mirror(row.num, row.den), (row.num, row.den)


def test_spark_sql_signed_digits_matches_mirror(spark):
    cases = [
        (-85_612_902, 9_281_852, 2),
        (-85_612_902, 9_281_852, 6),
        (-5, 1000, 2),  # quantizes to -0.00 -> must emit 0.0, not -0.0
        (-5, 1000, 4),  # -0.0005 exact tie -> -0.0005 (away from zero)
        (-1, 3, 6),
        (2_728_744_875, 900_000, 2),
        (10**18, 7, 6),
        (-(10**18), 7, 2),
        (0, 5, 2),
        (350, 100, 2),  # 3.50 exact
        (12345, 200, 2),  # 61.725 -> 61.73 half-up on a true tie
    ]
    df = spark.createDataFrame(cases, "num long, den long, d int")
    for digits in (2, 4, 6):
        got = df.select(
            "num",
            "den",
            "d",
            rdiv_halfup_expr("num", "den", digits).alias("v"),
        ).collect()
        for row in got:
            assert row.v == _mirror(row.num, row.den, digits), (
                row.num,
                row.den,
                digits,
            )
            assert row.v == _decimal_expect(row.num, row.den, digits)


def test_spark_literal_den_fast_paths_match_mirror(spark):
    """r14: literal-den fast paths (den==1 -> CAST, den==10^digits ->
    pure digit-split render, other literals -> no zero-guard) must be
    value-identical to the unreduced mirror for SIGNED nums at any
    magnitude."""
    nums = [
        -(10**18),
        -85_612_902,
        -10_001,
        -5,
        -1,
        0,
        1,
        5,
        99,
        100,
        101,
        9_999,
        10_000,
        2_728_744_875,
        14_411_518_807_587,
        10**18,
    ]
    df = spark.createDataFrame([(x,) for x in nums], "num long")
    for digits in (2, 4, 6):
        for den in (1, 100, 10_000, 1_000_000, 7, 900_000, 3):
            got = df.select(
                "num",
                rdiv_halfup_expr("num", str(den), digits).alias("v"),
            ).collect()
            for row in got:
                assert row.v == _mirror(row.num, den, digits), (
                    row.num,
                    den,
                    digits,
                )
    # Non-ASCII digit strings are not integer literals: they must take
    # the general zero-guarded path instead of crashing in int() ('²')
    # or being misread as a literal ('٣').
    for den in ("²", "٣"):
        assert rdiv_halfup_spark("num", den).startswith(
            f"case when ({den}) = 0 then"
        )


def test_spark_nonneg_matches_mirror(spark):
    """r14: nonneg=True (caller-asserted num >= 0) drops abs/sign; must
    stay value-identical to the mirror on its contract domain."""
    nums = [0, 1, 5, 99, 100, 10_000, 2_728_744_875, 10**18]
    df = spark.createDataFrame([(x,) for x in nums], "num long")
    for digits in (2, 4, 6):
        for den in ("1", "100", "10000", "7", "den_col"):
            den_sql = "13" if den == "den_col" else den
            got = df.select(
                "num",
                # dynamic (non-literal) den exercises the zero-guard
                # path; keep (num % den) * 2*10^digits inside BIGINT
                # (the documented intermediate bound, same as the
                # unreduced form) by capping the modulus at 10^6.
                rdiv_halfup_expr(
                    "num", f"num % 1000000 + {den_sql}", digits, nonneg=True
                ).alias("vdyn"),
                rdiv_halfup_expr("num", den_sql, digits, nonneg=True).alias(
                    "v"
                ),
            ).collect()
            for row in got:
                assert row.v == _mirror(row.num, int(den_sql), digits)
                assert row.vdyn == _mirror(
                    row.num, row.num % 1_000_000 + int(den_sql), digits
                )


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_nonneg_numerators_hold_on_testdata(sf):
    """The data contract behind every ``nonneg=True`` numerator in
    operators/relational.py: the summed columns are >= 0 (so are
    1 - l_discount and 1 + l_tax). Data that breaks it must fail here,
    not turn into silently wrong values."""
    from tests.conftest import SF_MED

    sf_dir = os.path.join(os.path.dirname(SF_MED), sf)
    con = duckdb.connect()
    qty, price, disc, tax, max_disc = con.execute(
        "SELECT min(l_quantity), min(l_extendedprice), min(l_discount), "
        f"min(l_tax), max(l_discount) FROM '{sf_dir}/lineitem.parquet'"
    ).fetchone()
    (total,) = con.execute(
        f"SELECT min(o_totalprice) FROM '{sf_dir}/orders.parquet'"
    ).fetchone()
    mins = dict(l_quantity=qty, l_extendedprice=price, l_discount=disc,
                l_tax=tax, o_totalprice=total)
    assert all(v >= 0 for v in mins.values()), f"{sf}: negative minimum in {mins}"
    assert max_disc <= 1, f"{sf}: l_discount up to {max_disc}"


def test_spark_null_and_zero_den_propagation(spark):
    """r14: the outer num/den NULL guard was replaced by NULL
    propagation through the body; den=0 keeps an explicit guard for
    non-literal dens. All three degenerate inputs must yield NULL."""
    df = spark.createDataFrame(
        [(None, 5), (7, None), (7, 0), (None, None)],
        "num long, den long",
    )
    got = df.select(
        rdiv_halfup_expr("num", "den", 4).alias("v"),
        rdiv_halfup_expr("num", "den", 4, nonneg=True).alias("vn"),
    ).collect()
    assert [r.v for r in got] == [None] * 4
    assert [r.vn for r in got] == [None] * 4


def test_units_sql_both_engines(spark):
    from parallel_monte_carlo_simulations_spark.functions.microunit import (
        units_col,
        units_sql,
    )
    from pyspark.sql import functions as F

    vals = [(901.82,), (-994.28,), (0.01,), (104997.88,), (0.0,), (-0.07,)]
    df = spark.createDataFrame(vals, "x double")
    got = [
        (r.u, r.uc)
        for r in df.select(
            F.expr(units_sql("x", 2)).alias("u"), units_col(F.col("x"), 2).alias("uc")
        ).collect()
    ]
    expect = [round(v[0] * 100) for v in vals]
    assert [g[0] for g in got] == expect
    assert [g[1] for g in got] == expect
    con = duckdb.connect()
    duck = [
        con.execute(f"SELECT {units_sql(str(v[0]), 2)}").fetchone()[0] for v in vals
    ]
    con.close()
    assert duck == expect


def test_guard_passes_in_range(spark):
    from pyspark.sql import functions as F

    df = spark.range(1).select(
        guard_exact_bigint(F.lit(EXACT_DOUBLE_MAX - 1), "test.site").alias(
            "v"
        )
    )
    assert df.collect()[0].v == EXACT_DOUBLE_MAX - 1


def test_guard_fails_loudly_out_of_range(spark):
    from pyspark.sql import functions as F

    df = spark.range(1).select(
        guard_exact_bigint(F.lit(EXACT_DOUBLE_MAX), "test.site").alias("v")
    )
    with pytest.raises(Exception, match="test.site"):
        df.collect()


@given(
    st.floats(
        min_value=-1e8,
        max_value=1e8,
        allow_nan=False,
        allow_infinity=False,
    ),
    st.sampled_from([2, 4, 6]),
)
@settings(max_examples=100, deadline=None)
def test_qround_duck_is_floor_form(x, digits):
    from parallel_monte_carlo_simulations_spark.functions.microunit import (
        qround_duck,
    )
    import math

    con = duckdb.connect()
    got = con.execute(
        f"SELECT {qround_duck(chr(39) + repr(x) + chr(39) + '::DOUBLE', digits)}"
    ).fetchone()[0]
    con.close()
    s = float(10**digits)
    assert got == math.floor(x * s + 0.5) / s


def test_qround_spark_matches_duck(spark):
    from pyspark.sql import functions as F

    from parallel_monte_carlo_simulations_spark.functions.microunit import (
        qround_col,
        qround_duck,
    )

    cases = [33.38625, -33.38625, 0.0, 490.02, 1e-7, 123456.789012345, -0.07]
    df = spark.createDataFrame([(x,) for x in cases], "x double")
    con = duckdb.connect()
    for digits in (2, 4, 6):
        got = [
            r.q
            for r in df.select(qround_col(F.col("x"), digits).alias("q"))
            .collect()
        ]
        duck = [
            con.execute(
                f"SELECT {qround_duck(repr(x) + '::DOUBLE', digits)}"
            ).fetchone()[0]
            for x in cases
        ]
        assert got == duck, (digits, got, duck)
    con.close()
