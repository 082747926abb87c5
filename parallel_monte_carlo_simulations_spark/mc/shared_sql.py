"""One SQL text, two engines: the owner of the shared-SQL Monte Carlo family.

QMC pi, Sobol, LSMC, the Brownian bridge, VaR, the GBM twins, the
barrier, the drawdown twin and the hash-RNG twins each run the same SQL
text in Spark and in their DuckDB oracle, so expression association --
and with it every double -- is identical by construction. Each query is
one ``sql(duck: bool) -> str`` builder; :func:`register_sql` registers
its Spark function and its oracle from that one builder. The dialect
differences live here: the range-rows source (:func:`range_rows`) and
the integer-division spelling (``DIV`` in the shared text, ``//`` in
DuckDB, respelled once by :func:`oracle`). Builders write the few other
per-engine spellings (md5, xor) from their ``duck`` flag.

The literal and quantization helpers below are the family's numeric
discipline: exponent-suffixed double literals, floor-form half-up
quantization, Halton radical inverses as integer digit sums, and the
stratified normal (``k`` equiprobable strata, each replaced by its
conditional mean).
"""

from __future__ import annotations

import math
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ..registry import register

#: Strata of the family's discretized standard normal.
N_STRATA = 8


def lit(x: float) -> str:
    """Float literal that parses as DOUBLE in BOTH engines: DuckDB types
    bare decimal literals as DECIMAL (whose scale explodes under the
    multiplier product chains); an exponent suffix forces DOUBLE in both
    dialects while repr keeps full precision."""
    s = repr(float(x))
    return s if ("e" in s or "E" in s or "inf" in s or "nan" in s) else s + "e0"


def quant(expr: str, scale: int = 1_000_000) -> str:
    """floor-based half-up quantization — identical IEEE path in both
    engines (ROUND() tie semantics differ; see operators/interp.py)."""
    return f"(FLOOR(({expr}) * {scale} + 0.5e0) / {scale})"


def _phi(z: float) -> float:
    return math.exp(-0.5 * z * z) / math.sqrt(2.0 * math.pi)


def _norm_cdf(z: float) -> float:
    return 0.5 * (1.0 + math.erf(z / math.sqrt(2.0)))


def _norm_ppf(p: float) -> float:
    """Inverse normal CDF by bisection on erf — literals are computed
    once at import; 200 iterations pins the double exactly."""
    lo, hi = -40.0, 40.0
    for _ in range(200):
        mid = 0.5 * (lo + hi)
        if _norm_cdf(mid) < p:
            lo = mid
        else:
            hi = mid
    return 0.5 * (lo + hi)


def stratum_means(k: int) -> list[float]:
    """E[Z | stratum j] for k equiprobable strata of the standard
    normal: (phi(z_j) - phi(z_{j+1})) * k on stratum (z_j, z_{j+1}]."""
    edges = [-math.inf] + [_norm_ppf(j / k) for j in range(1, k)] + [math.inf]
    means = []
    for j in range(k):
        lo, hi = edges[j], edges[j + 1]
        plo = 0.0 if math.isinf(lo) else _phi(lo)
        phi_ = 0.0 if math.isinf(hi) else _phi(hi)
        means.append((plo - phi_) * k)
    return means


def radical_inverse(i: str, base: int, digits: int) -> str:
    """Base-``base`` radical inverse of the integer expression ``i`` as a
    fixed left-to-right sum of digit * base^-(k+1) double literals."""
    terms = [
        f"((({i}) DIV {base ** k}) % {base}) * {lit(base ** -(k + 1))}"
        for k in range(digits)
    ]
    return "(" + " + ".join(terms) + ")"


def case_over(index_sql: str, literals: list[str]) -> str:
    """``(CASE index WHEN 0 THEN literals[0] WHEN 1 ... END)``."""
    whens = " ".join(f"WHEN {j} THEN {v}" for j, v in enumerate(literals))
    return f"(CASE {index_sql} {whens} END)"


def normal_case(u: str) -> str:
    """Stratified standard normal from the uniform ``u``: the conditional
    mean of stratum floor(u * N_STRATA)."""
    return case_over(
        f"CAST(FLOOR({u} * {N_STRATA}) AS INTEGER)",
        [lit(q) for q in stratum_means(N_STRATA)],
    )


def range_rows(col: str, lo: int, hi: int, duck: bool, parts: int | None = None) -> str:
    """Rows ``col`` = lo .. hi-1 in either engine; ``parts`` fixes the
    Spark source's partition count."""
    if duck:
        return f"SELECT unnest(range({lo}, {hi})) AS {col}"
    split = "" if parts is None else f", 1, {parts}"
    return f"SELECT id AS {col} FROM range({lo}, {hi}{split})"


def oracle(sql: Callable[[bool], str]) -> str:
    """The DuckDB oracle text of a shared-SQL builder."""
    return sql(True).replace(" DIV ", " // ")


def register_sql(
    name: str, sql: Callable[[bool], str], description: str, tags: tuple[str, ...]
) -> Callable[[SparkSession, str], DataFrame]:
    """Register query ``name`` running ``sql(False)`` in Spark against the
    oracle ``oracle(sql)``; returns the query function. It is attributed
    to the builder's module, which sets its place in the driver order."""
    text = sql(False)

    @register(name, oracle=oracle(sql), description=description, tags=tags)
    def query(spark: SparkSession, sf_dir: str) -> DataFrame:
        return spark.sql(text)

    query.__name__ = query.__qualname__ = name
    query.__module__ = sql.__module__
    return query
