"""Shared micro-unit integer arithmetic helpers + the 2^53 fence.

The repo-wide cross-engine float discipline is "exact BIGINT micro-unit
arithmetic, one final rounded conversion to double" (SCALING.md,
"Cross-engine float discipline"). That conversion is only correctly
rounded while the integer being converted stays below 2^53 — beyond it
the BIGINT->double cast itself rounds and a following division rounds
AGAIN (double rounding). Round 7's red property test caught exactly
this in the changepoint operator (scaled quotient 1.44e17:
14411518807587.002 != 14411518807587.0).

Two tools, used by every micro-unit site:

``rdiv_halfup_expr`` / ``rdiv_halfup_duck``
    The STRING-FORM half-up division: compute the half-up 4-digit
    quantization exactly in BIGINT arithmetic (whole + fraction with
    carry), render it as the decimal string ``"<whole>.<frac:04d>"``,
    and CAST the string to DOUBLE. String->double parsing is correctly
    rounded in BOTH engines (Java ``Double.parseDouble`` on the Spark
    side, fast_float in DuckDB), so the result equals
    ``float(Decimal ROUND_HALF_UP quantize)`` at ANY magnitude — no
    2^53 qualifier for this site (property-tested in
    tests/test_microunit.py).

    History: the previous SPLIT form ``double(whole)+double(frac)/1e4``
    claimed the same contract for quotients below 2^53, but the claim
    was FALSE: the final addition is a second rounding, and when the
    exact value sits within ~1.4e-17 of a half-ulp boundary of the sum
    (possible: decimal fractions k/1e4 approach dyadic midpoints as
    closely as ~5e-20) the two-step result lands one ulp off the
    correctly-rounded conversion. Hypothesis found 85612902/9281852 ->
    9.2237: split form 9.223700000000001, correct 9.2237. Cross-engine
    hashing never broke (both engines evaluated the identical IEEE op
    sequence), but the documented Decimal contract did. DECIMAL output
    remains REJECTED for the reasons measured in round 8: DuckDB
    evaluates decimal division and decimal->double casts through
    doubles (double-rounded), and ``fetchdf`` degrades DECIMAL columns
    to float64.

``guard_exact_bigint``
    A loud runtime fence for micro-unit SUMS: wraps a BIGINT column so
    the query FAILS (Spark ``assert_true``) the moment an aggregate
    leaves the exactly-representable double range, instead of silently
    shipping a double-rounded value. Costs one comparison per row of
    the (already tiny) aggregated frame. Applied at every
    ``SUM(micro_units)/10^k`` site: operators/closeness.py,
    similarity/irmetrics.py (static bound — see the module asserts
    there), operators/survival.py.

Beside them sit the two floor-form quantizations, one helper per form
and engine: ``units_sql`` / ``units_col`` turn a double into exact
BIGINT units of 10^-k (the element-wise step before a cross-row SUM),
and ``qround_col`` / ``qround_duck`` round an irreducibly-double result
to k places. Both engines evaluate the identical IEEE multiply, add and
FLOOR, so each form is bit-equal cross-engine by construction.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Largest double-exact integer: every |n| < 2^53 round-trips exactly.
EXACT_DOUBLE_MAX = 2**53


def rdiv_halfup_expr(
    num: str, den: str, digits: int = 4, nonneg: bool = False
) -> Column:
    """Spark Column for string-form half-up division of SQL expressions
    ``num`` / ``den`` (BIGINT-typed, den > 0): exact ``digits``-digit
    half-away-from-zero quantization in BIGINT (fraction in
    [0, 10^digits] with carry folded into the whole part), one
    correctly-rounded string->double cast.

    Round 13 generalization: ``digits`` (2 for money totals, 4 for the
    historical default, 6 for ratio reports) and SIGNED numerators
    (quantize |num|/den, prefix '-' only when the quantized magnitude
    is nonzero so "-0.00" can never be emitted). Half-up on the
    magnitude == ROUND_HALF_UP == both engines' ROUND tie behavior
    (away from zero).

    ``nonneg=True`` is a CALLER ASSERTION that ``num`` is >= 0 (or
    NULL) — e.g. a SUM of non-negative micro-units. It emits the same
    value with ``abs()`` and the sign branch dropped; results on
    negative numerators are undefined. Only set it where the data
    contract makes non-negativity provable."""
    return F.expr(rdiv_halfup_spark(num, den, digits, nonneg))


def rdiv_halfup_spark(
    num: str, den: str, digits: int = 4, nonneg: bool = False
) -> str:
    """Spark-SQL TEXT form of :func:`rdiv_halfup_expr`, for queries that
    run as shared SQL statements (spark.sql) rather than DataFrame
    expressions.

    r14 optimization (guide §1.2 step 2): the emitted expression TREE is
    kept as small as possible — q01's nine of these were measured at
    ~2 s of PER-JVM analysis+codegen cost in the r13 driver bench (cold
    JVM, first query), invisible to warmed probes. Three provably
    value-identical reductions, all pinned by tests/test_microunit.py
    against the unreduced mirror:

    - NULL propagation replaces the outer num/den NULL guard: a NULL
      ``num`` or ``den`` poisons ``frac0``/``whole``/``lpad``, CONCAT of
      a NULL is NULL, and CAST(NULL AS DOUBLE) is NULL — the exact
      value the guard returned. Only ``den = 0`` still needs a guard
      (ANSI ``% 0`` raises), and a positive integer-literal ``den``
      cannot be 0, so the guard is emitted only for non-literal dens.
    - compact sign condition: quantized magnitude > 0 iff
      ``a >= den OR 2*(a % den)*10^digits >= den`` (split the quotient
      at 1: a/den >= 1, else the fraction alone decides; the product is
      the same bounded intermediate frac0 already computes), replacing
      the re-derivation of whole+frac0 inside the sign CASE.
    - literal-den fast paths: den == 1 is CAST(num AS DOUBLE) (both are
      correctly-rounded conversions of the same integer — the string
      render parses to the identical double at any magnitude);
      den == 10^digits needs no rounding math at all (frac0 == a % s
      and whole == a div s exactly: with r = a % s, frac0 =
      (2rs + s) div 2s = r since r < s, and the carry term r div s is
      0), leaving a pure digit-split render.
    """
    s = 10**digits
    d = den.strip()
    # ASCII only: str.isdigit() also accepts '²' (int() raises) and
    # '٣' (int() gives 3, but the SQL text is no literal).
    den_lit = int(d) if d.isascii() and d.isdigit() else None
    a = f"({num})" if nonneg else f"abs({num})"
    if den_lit == 1:
        # exact integer render: string parse and BIGINT->DOUBLE cast are
        # both correctly rounded of the same integer at any magnitude.
        return f"cast(({num}) as double)"
    if den_lit == s:
        sign = (
            ""
            if nonneg
            else f"case when ({num}) < 0 then '-' else '' end, "
        )
        return (
            f"cast(concat({sign}cast({a} div {s} as string), '.', "
            f"lpad(cast({a} % {s} as string), {digits}, '0')) as double)"
        )
    # frac0 in [0, 10^digits]; the ==10^digits carry folds into the
    # whole part. The whole part is NEVER scaled by 10^digits (that
    # would re-shrink the BIGINT-exact domain); max intermediate is
    # (|num| % den) * 2*10^digits < den * 2e6 for digits <= 6.
    frac0 = f"((({a} % ({den})) * {2 * s} + ({den})) div (2 * ({den})))"
    whole = f"({a} div ({den}) + {frac0} div {s})"
    sign = (
        ""
        if nonneg
        else (
            f"case when ({num}) < 0 and ({a} >= ({den}) or "
            f"({a} % ({den})) * {2 * s} >= ({den})) "
            f"then '-' else '' end, "
        )
    )
    body = (
        f"cast(concat({sign}"
        f"cast({whole} as string), '.',"
        f" lpad(cast({frac0} % {s} as string), {digits}, '0')) as double)"
    )
    if den_lit is not None and den_lit > 0:
        return body
    # zero-denominator safety: AVG-style callers divide by a non-null
    # COUNT that can be 0 (all-NULL group) — return NULL like AVG
    # would, instead of an ANSI divide-by-zero. NULL num/den need no
    # guard: they propagate to a NULL result through the body.
    return f"case when ({den}) = 0 then cast(null as double) else {body} end"


def rdiv_halfup_duck(num: str, den: str, digits: int = 4) -> str:
    """DuckDB SQL text for the identical string-form division.

    Inputs are CAST to BIGINT first: DuckDB types small integer
    LITERALS as INT32, and ``(num % den) * 2*10^digits`` then
    overflows INT32 for remainders above ~107k (Hypothesis-found;
    column inputs were already BIGINT and unaffected)."""
    s = 10**digits
    n, d = f"CAST(({num}) AS BIGINT)", f"CAST(({den}) AS BIGINT)"
    a = f"ABS({n})"
    frac0 = f"((({a} % {d}) * {2 * s} + {d}) // (2 * {d}))"
    whole = f"({a} // {d} + {frac0} // {s})"
    sign = (
        f"CASE WHEN {n} < 0 AND ({whole} > 0 OR {frac0} % {s} > 0) "
        f"THEN '-' ELSE '' END"
    )
    body = (
        f"CAST(CONCAT({sign}, "
        f"CAST({whole} AS VARCHAR), '.',"
        f" LPAD(CAST({frac0} % {s} AS VARCHAR), {digits}, '0')) AS DOUBLE)"
    )
    return (
        f"CASE WHEN ({den}) IS NULL OR ({den}) = 0 OR ({num}) IS NULL "
        f"THEN CAST(NULL AS DOUBLE) ELSE {body} END"
    )


def qround_duck(col_sql: str, digits: int) -> str:
    """DuckDB SQL text for the identical floor-form quantization."""
    return f"(FLOOR(({col_sql}) * 1e{digits} + 0.5) / 1e{digits})"


def qround_col(col: Column, digits: int) -> Column:
    """Spark Column: shared floor-form half-up quantization of an
    IRREDUCIBLY-DOUBLE expression (transcendental math, EWMA weights,
    variance-family outputs) to ``digits`` places —
    ``floor(x * 10^digits + 0.5) / 10^digits``.

    Unlike ``rdiv_halfup_*`` (exact BIGINT rationals) this does NOT
    claim decimal-correct rounding of the true value; it claims the
    strictly weaker, sufficient property that BOTH engines evaluate the
    IDENTICAL IEEE op sequence on the identical input double, so the
    cross-engine result is bit-equal BY CONSTRUCTION at any scale —
    eliminating the ROUND-implementation divergence class (Spark rounds
    via exact BigDecimal of the double, DuckDB via a multiply-shift;
    r12's q_stream_sliding_30m catch was exactly such a disagreement on
    an identical double). Ties round toward +inf (floor(+0.5) form) in
    both engines alike. Contract: |x| * 10^digits < 2^53 (Spark's FLOOR
    returns BIGINT; beyond 2^53 its exactness differs from DuckDB's
    double FLOOR). The scale is a DOUBLE literal on both sides
    (:func:`qround_duck` writes it as 1e4: DuckDB parses `10000.0` as
    DECIMAL and would evaluate a different, overflow-prone op)."""
    s = F.lit(float(10**digits))
    return F.floor(col * s + F.lit(0.5)) / s


def units_sql(col_sql: str, decimals: int) -> str:
    """Shared SQL text (valid in BOTH Spark SQL and DuckDB) that
    quantizes a double expression with at most ``decimals`` true
    decimal places to exact BIGINT units of 10^-decimals — the
    element-wise step of the repo float discipline (quantize BEFORE
    any cross-row sum so totals are order-independent). The multiply +
    add + FLOOR are the identical IEEE ops in both engines; for a value
    with <= ``decimals`` places the product is within half an ulp of
    the integer n, so ``floor(n±eps + 0.5) == n`` recovers it exactly
    at any sign (a true .5 tie cannot occur under the contract).

    r13 optimization round: converted from ``ROUND((x) * s, 0)`` to the
    floor form ``units_col`` always used. Spark's ROUND on a
    double allocates a java.math.BigDecimal PER ROW (measured ~40% of
    q01's runtime); the floor form is pure double codegen and makes the
    cross-engine claim stronger — both engines now evaluate the SAME
    IEEE op sequence instead of two ROUND implementations that agree
    only under the contract. Contract (unchanged): |x| * 10^decimals
    must stay below ~2^51 — above it ``+ 0.5`` itself rounds; per-row
    money/quantity values are orders of magnitude inside that."""
    return f"CAST(FLOOR(({col_sql}) * 1e{decimals} + 0.5) AS BIGINT)"


def units_col(col: Column, decimals: int) -> Column:
    """DataFrame-API twin of :func:`units_sql`."""
    return F.floor(col * F.lit(float(10**decimals)) + F.lit(0.5)).cast("long")


def guard_abs_lt(col: Column, bound, site: str) -> Column:
    """Pass ``col`` through unchanged, but fail the query with a named
    error if |col| >= bound — the fence that keeps 'exact micro-units,
    one rounded division' an enforced invariant, not an assumption."""
    ok = F.abs(col) < F.lit(bound)
    msg = F.lit(
        f"{site}: micro-unit aggregate left the double-exact range "
        f"(|x| >= {bound}); the final double conversion would "
        "double-round. Lower the unit scale or switch this site to "
        "split-form/decimal before trusting output."
    )
    # assert_true returns NULL (VOID) when ok, raises otherwise;
    # coalesce(VOID, col) type-coerces to col's type and keeps the plan
    # a pure projection (no extra shuffle, negligible cost on the
    # already-aggregated frame).
    return F.coalesce(F.assert_true(ok, msg), col)


def guard_exact_bigint(col: Column, site: str) -> Column:
    """``guard_abs_lt`` at the 2^53 bound, for BIGINT micro-unit sums
    that are about to be divided as doubles."""
    return guard_abs_lt(col, EXACT_DOUBLE_MAX, site)
