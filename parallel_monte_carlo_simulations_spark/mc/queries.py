"""Registered Monte Carlo queries — the reference's core capability
(simulate) plus the trace analytics the reference can't do (its traces
are write-only CSV, ``utils.py:15-23``; ours are a DataFrame).

Non-SQL-expressible (user callables inside mapInPandas) -> registered
WITHOUT oracles; determinism and statistical properties are covered by
tests/test_mc.py instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.microunit import qround_col, rdiv_halfup_expr, units_col
from ..registry import register
from .battery import MCBattery
from .shared_sql import range_rows, register_sql


def _mc_mean_se(grouped, val_col):
    """Order-independent MC mean/std-error aggregates (r13).

    Raw F.avg/F.stddev over simulated doubles made the last ulp depend
    on Spark's partial-aggregation merge order (partitioning-dependent
    -> a 4-dec ROUND could flip between runs; the q05 class). Instead:
    element-wise floor-form quantization of the payoff to exact 1e-6
    BIGINT units (deterministic per element), exact integer power sums
    (the squared sum rides in DECIMAL(38,0) -- u^2 sums overflow BIGINT
    at sf1.0 path counts), then the textbook mean/sd formulas in double
    from correctly-rounded casts: every op is a deterministic function
    of the exact sums, independent of partitioning. Returns the
    aggregated frame with columns n, mean_v, se_v (mean and standard
    error of the mean, in natural units)."""
    u = units_col(val_col, 6)
    agg = grouped.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(u).alias("s1"),
        F.sum((u * u).cast("decimal(38,0)")).alias("s2"),
    )
    nd = F.col("n").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    mean_v = s1 / nd / 1e6
    var_v = (nd * s2 - s1 * s1) / (nd * (nd - 1.0)) / 1e12
    return agg.withColumn("mean_v", mean_v).withColumn(
        "se_v", F.sqrt(var_v) / F.sqrt(nd)
    )


def _coin_sequence(number_points, rng, parameters=None, starting_point=None):
    """The reference's demo model (README.md:50-51 / notebook cell 14):
    biased coin flips, optionally appended to a starting sequence."""
    bias = parameters[0] if isinstance(parameters, (list, tuple)) else (
        parameters if parameters is not None else 0.5
    )
    seq = list(starting_point) if starting_point is not None else []
    seq += ["H" if rng.random() <= bias else "T" for _ in range(number_points)]
    return seq


_DEMO_MODELS = [_coin_sequence, _coin_sequence]
_DEMO_CONFIGS = [
    {"number_simulations": 2000, "number_points": 16, "parameters": [0.5],
     "batch_size": 250},
    {"number_simulations": 1200, "number_points": 12, "parameters": [0.7],
     "starting_point": ["T", "T", "T", "T", "T"], "batch_size": 250},
]
_MASTER_SEED = 20240813


def demo_traces(spark: SparkSession) -> DataFrame:
    """Deterministic battery run mirroring the reference demo workloads
    (notebook cells 16/29, scaled down)."""
    battery = MCBattery({"rng": "Philox", "master_seed": _MASTER_SEED})
    return battery.simulate(_DEMO_MODELS, _DEMO_CONFIGS, spark=spark)


@register(
    "q_mc_simulate_traces",
    oracle=None,  # user-callable execution: not SQL-expressible
    description="MC battery run (reference parity): trace table sample",
    tags=("mc", "simulate"),
)
def q_mc_simulate_traces(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sf_dir unused: the MC battery's input is its config, not testdata.
    # The trace is returned in its CSV-parity form (comma-joined, the
    # reference's on-disk format, utils.py:19-23) rather than as a raw
    # array<string>: the driver's rows-only canonicalizer sorts/hashes
    # pandas values and cannot hash Python lists.
    return demo_traces(spark).filter(F.col("sim_id") < 50).select(
        "model_id",
        "sim_id",
        F.concat_ws(",", F.col("trace")).alias("trace"),
        F.size("trace").alias("trace_len"),
    )


def _coin_sequence_vectorized(number_points, rng, parameters=None, starting_point=None):
    """Scale-path model: one vectorized draw instead of a Python loop.
    Same call convention; ~20x less Python time per simulation. This is
    what the engine docs tell users to write for big batteries."""
    bias = parameters[0] if isinstance(parameters, (list, tuple)) else (
        parameters if parameters is not None else 0.5
    )
    seq = list(starting_point) if starting_point is not None else []
    flips = rng.random(number_points) <= bias
    return seq + ["H" if f else "T" for f in flips]


def _gaussian_walk(number_points, rng, parameters=None, starting_point=None):
    """Float-trace model: cumulative Gaussian walk (vectorized)."""
    import numpy as np

    sigma = parameters[0] if isinstance(parameters, (list, tuple)) else 1.0
    start = float(starting_point) if starting_point is not None else 0.0
    return list(np.cumsum(rng.normal(0.0, sigma, size=number_points)) + start)


@register(
    "q_mc_walk_drawdown",
    oracle=None,  # simulation feeds it; deterministic via master_seed
    description="MC + analytics composition: max drawdown per random walk",
    tags=("mc", "window", "analytics"),
)
def q_mc_walk_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simulate float random walks, then compute each trajectory's maximum
    drawdown with window functions — the queryable-trace capability the
    reference's write-only CSV sink can't offer (utils.py:15-23)."""
    from pyspark.sql import Window

    battery = MCBattery({"rng": "PCG64", "master_seed": 777})
    traces = battery.simulate(
        [_gaussian_walk],
        [{"number_simulations": 500, "number_points": 50,
          "parameters": [1.0], "starting_point": 100.0, "batch_size": 125}],
        spark=spark,
        trace_dtype="double",
    )
    pts = traces.select(
        "model_id", "sim_id", F.posexplode("trace").alias("t", "value")
    )
    w = (
        Window.partitionBy("model_id", "sim_id")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = pts.select(
        "model_id",
        "sim_id",
        (F.max("value").over(w) - F.col("value")).alias("drawdown"),
    )
    return (
        dd.groupBy("model_id", "sim_id")
        .agg((F.floor((F.max("drawdown")) * 1e6 + 0.5) / 1e6).alias("max_drawdown"))
        .orderBy("model_id", "sim_id")
    )


@register(
    "q_mc_heads_frequency",
    oracle=None,
    description="trace analytics: per-model per-position heads frequency",
    tags=("mc", "aggregate"),
)
def q_mc_heads_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    traces = demo_traces(spark)
    return (
        traces.select(
            "model_id", F.posexplode("trace").alias("position", "outcome")
        )
        .groupBy("model_id", "position")
        .agg(
            F.sum(F.when(F.col("outcome") == "H", 1).otherwise(0)).alias(
                "n_heads"
            ),
            F.count(F.lit(1)).alias("n_obs"),
        )
        .select(
            "model_id",
            "position",
            rdiv_halfup_expr("n_heads", "n_obs", 4).alias("h_frequency"),
            "n_obs",
        )
        .orderBy("model_id", "position")
    )


def _gbm_paths(number_points, rng, parameters=None, starting_point=None):
    """Geometric Brownian motion (vectorized): S_{t+1} = S_t * exp(
    (mu - sigma^2/2) dt + sigma sqrt(dt) Z). parameters = [mu, sigma, dt]."""
    import numpy as np

    mu, sigma, dt = (parameters or [0.05, 0.2, 1.0 / 252])[:3]
    s0 = float(starting_point) if starting_point is not None else 100.0
    z = rng.normal(0.0, 1.0, size=number_points)
    log_steps = (mu - 0.5 * sigma**2) * dt + sigma * np.sqrt(dt) * z
    return list(s0 * np.exp(np.cumsum(log_steps)))


@register(
    "q_mc_gbm_option_price",
    oracle=None,  # simulation-fed; validated against Black-Scholes in tests
    description="GBM paths -> discounted European call payoff (MC pricing)",
    tags=("mc", "gbm", "finance", "aggregate"),
)
def q_mc_gbm_option_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monte Carlo option pricing on the trace table: simulate GBM under
    the risk-neutral measure (mu = r), take each path's terminal price,
    average the discounted payoff. The estimate is checked against the
    Black-Scholes closed form in tests/test_mc.py (binomial-CI-style
    bound), which the reference cannot do at all — its traces are
    write-only CSV (utils.py:15-23).
    """
    r, sigma, steps, dt, strike = 0.03, 0.25, 64, 1.0 / 64, 105.0
    battery = MCBattery({"rng": "Philox", "master_seed": 31337})
    traces = battery.simulate(
        [_gbm_paths],
        [{"number_simulations": 20_000, "number_points": steps,
          "parameters": [r, sigma, dt], "starting_point": 100.0,
          "batch_size": 2_500}],
        spark=spark,
        trace_dtype="double",
    )
    # terminal price = last trace element; payoff aggregated JVM-side.
    terminal = traces.select(
        F.element_at("trace", -1).alias("s_t")
    )
    payoff = F.greatest(F.col("s_t") - F.lit(strike), F.lit(0.0))
    import math

    disc = math.exp(-r * steps * dt)
    return _mc_mean_se(terminal.select(payoff.alias("pay")), F.col("pay")).select(
        qround_col(F.col("mean_v") * disc, 4).alias("mc_price"),
        qround_col(F.col("se_v") * disc, 4).alias("std_error"),
        F.col("n").cast("bigint").alias("n_paths"),
    )


# --------------------------------------------------------------------------
# Variance reduction — the MC-practice layer above raw simulation. Both
# estimators target the same European call as q_mc_gbm_option_price, so
# tests can assert the std-error reduction directly.
# --------------------------------------------------------------------------

_GBM_R, _GBM_SIGMA, _GBM_STEPS, _GBM_DT, _GBM_STRIKE = 0.03, 0.25, 64, 1.0 / 64, 105.0


def _gbm_terminal_antithetic(number_points, rng, parameters=None, starting_point=None):
    """Antithetic GBM: drive one path with Z and its mirror with -Z; the
    trace is the [S_T(+Z), S_T(-Z)] pair. Pairing inside the model keeps
    the +/- draws on the SAME rng stream, so the estimator stays
    reproducible under the battery's per-sim seeding."""
    import numpy as np

    mu, sigma, dt = (parameters or [0.05, 0.2, 1.0 / 252])[:3]
    s0 = float(starting_point) if starting_point is not None else 100.0
    z = rng.normal(0.0, 1.0, size=number_points)
    drift = (mu - 0.5 * sigma**2) * dt
    up = s0 * float(np.exp(np.sum(drift + sigma * np.sqrt(dt) * z)))
    dn = s0 * float(np.exp(np.sum(drift - sigma * np.sqrt(dt) * z)))
    return [up, dn]


@register(
    "q_mc_gbm_antithetic",
    oracle=None,  # simulation-fed; std-error reduction asserted in tests
    description="antithetic-variates GBM pricing: mirrored-draw pairs halve variance",
    tags=("mc", "gbm", "variance_reduction", "antithetic"),
)
def q_mc_gbm_antithetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Antithetic variates: each pair averages the payoff of a +Z and a
    -Z path; monotone payoffs make the pair negatively correlated, so
    the pair-mean estimator's variance drops well below 1/2 the plain
    rate per path. Same 20k total paths (10k pairs) as the plain query —
    tests assert std_error(antithetic) < std_error(plain)."""
    battery = MCBattery({"rng": "Philox", "master_seed": 31337})
    traces = battery.simulate(
        [_gbm_terminal_antithetic],
        [{"number_simulations": 10_000, "number_points": _GBM_STEPS,
          "parameters": [_GBM_R, _GBM_SIGMA, _GBM_DT],
          "starting_point": 100.0, "batch_size": 2_500}],
        spark=spark,
        trace_dtype="double",
    )
    import math

    disc = math.exp(-_GBM_R * _GBM_STEPS * _GBM_DT)
    pay = lambda c: F.greatest(c - F.lit(_GBM_STRIKE), F.lit(0.0))  # noqa: E731
    pair_mean = (
        pay(F.element_at("trace", 1)) + pay(F.element_at("trace", 2))
    ) / 2.0
    pairs = traces.select(pair_mean.alias("pair_payoff"))
    return _mc_mean_se(pairs, F.col("pair_payoff")).select(
        qround_col(F.col("mean_v") * disc, 4).alias("mc_price"),
        qround_col(F.col("se_v") * disc, 4).alias("std_error"),
        F.col("n").cast("bigint").alias("n_pairs"),
    )


@register(
    "q_mc_gbm_control_variate",
    oracle=None,  # simulation-fed; std-error reduction asserted in tests
    description="control-variate GBM pricing: S_T control with analytic mean",
    tags=("mc", "gbm", "variance_reduction", "control_variate"),
)
def q_mc_gbm_control_variate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Control variates: the terminal price S_T has the analytic mean
    S0*exp(rT) under the risk-neutral measure, so payoff - beta*(S_T -
    E[S_T]) is unbiased for any beta; the variance-optimal beta =
    Cov(payoff, S_T)/Var(S_T) is estimated with Spark's covar_samp /
    var_samp aggregates in the same pass (two lightweight jobs total,
    both full map-side partial aggregation — no per-path state on the
    driver)."""
    battery = MCBattery({"rng": "Philox", "master_seed": 31337})
    traces = battery.simulate(
        [_gbm_paths],
        [{"number_simulations": 20_000, "number_points": _GBM_STEPS,
          "parameters": [_GBM_R, _GBM_SIGMA, _GBM_DT],
          "starting_point": 100.0, "batch_size": 2_500}],
        spark=spark,
        trace_dtype="double",
    )
    import math

    t_total = _GBM_STEPS * _GBM_DT
    disc = math.exp(-_GBM_R * t_total)
    ev_st = 100.0 * math.exp(_GBM_R * t_total)
    obs = traces.select(F.element_at("trace", -1).alias("s_t")).select(
        "s_t", F.greatest(F.col("s_t") - F.lit(_GBM_STRIKE), F.lit(0.0)).alias("pay")
    ).persist()
    stats = obs.agg(
        (F.covar_samp("pay", "s_t") / F.var_samp("s_t")).alias("beta")
    ).first()
    beta = float(stats["beta"])
    adj = F.col("pay") - F.lit(beta) * (F.col("s_t") - F.lit(ev_st))
    return _mc_mean_se(obs.select(adj.alias("adj")), F.col("adj")).select(
        qround_col(F.col("mean_v") * disc, 4).alias("mc_price"),
        qround_col(F.col("se_v") * disc, 4).alias("std_error"),
        (F.floor((F.lit(beta)) * 1e4 + 0.5) / 1e4).alias("beta"),
        F.col("n").cast("bigint").alias("n_paths"),
    )


_OTM_STRIKE = 160.0  # deep out-of-the-money: plain MC payoff ~98% zeros


def _gbm_terminal_plain(number_points, rng, parameters=None, starting_point=None):
    """Exact (single-draw) risk-neutral GBM terminal price: no path
    discretization is needed for a European payoff."""
    import numpy as np

    r, sigma, t = (parameters or [0.03, 0.25, 1.0])[:3]
    s0 = float(starting_point) if starting_point is not None else 100.0
    z = float(rng.normal())
    s_t = s0 * float(np.exp((r - 0.5 * sigma**2) * t + sigma * np.sqrt(t) * z))
    return [s_t, 1.0]  # weight 1: the plain estimator


def _gbm_terminal_importance(number_points, rng, parameters=None, starting_point=None):
    """Importance-sampled terminal draw: sample Z under N(theta, 1) so
    paths concentrate where the deep-OTM payoff lives, and carry the
    likelihood ratio exp(-theta*Y - theta^2/2) (Y the standard-normal
    draw) as the per-path weight — unbiased for any theta."""
    import numpy as np

    r, sigma, t, theta = (parameters or [0.03, 0.25, 1.0, 0.0])[:4]
    s0 = float(starting_point) if starting_point is not None else 100.0
    y = float(rng.normal())
    z = y + theta
    s_t = s0 * float(np.exp((r - 0.5 * sigma**2) * t + sigma * np.sqrt(t) * z))
    w = float(np.exp(-theta * y - 0.5 * theta * theta))
    return [s_t, w]


@register(
    "q_mc_gbm_importance",
    oracle=None,  # simulation-fed; std-error reduction asserted in tests
    description=(
        "importance-sampled deep-OTM pricing: drift-shifted draws with "
        "likelihood-ratio weights vs the plain estimator, side by side"
    ),
    tags=("mc", "gbm", "variance_reduction", "importance_sampling"),
)
def q_mc_gbm_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third variance-reduction technique (after antithetic and control
    variates): for a deep-OTM call almost every plain path pays zero, so
    the estimator's relative error explodes; shifting the sampling drift
    by theta = (ln(K/S0) - (r - sigma^2/2)T) / (sigma sqrt T) centers
    S_T on the strike and the likelihood-ratio weight keeps the
    estimate unbiased. Both estimators run as one two-model battery
    (the reference's own multi-model topology) and aggregate JVM-side;
    one row per estimator so the variance win is visible in the result."""
    import math

    r, sigma, t = _GBM_R, _GBM_SIGMA, 1.0
    s0 = 100.0
    theta = (math.log(_OTM_STRIKE / s0) - (r - 0.5 * sigma**2) * t) / (
        sigma * math.sqrt(t)
    )
    battery = MCBattery({"rng": "Philox", "master_seed": 31337})
    traces = battery.simulate(
        [_gbm_terminal_plain, _gbm_terminal_importance],
        [
            {"number_simulations": 20_000, "number_points": 2,
             "parameters": [r, sigma, t], "starting_point": s0,
             "batch_size": 2_500},
            {"number_simulations": 20_000, "number_points": 2,
             "parameters": [r, sigma, t, theta], "starting_point": s0,
             "batch_size": 2_500},
        ],
        spark=spark,
        trace_dtype="double",
    )
    disc = math.exp(-r * t)
    x = (
        F.greatest(F.element_at("trace", 1) - F.lit(_OTM_STRIKE), F.lit(0.0))
        * F.element_at("trace", 2)
        * F.lit(disc)
    )
    obs = traces.select(
        F.when(F.col("model_id") == 0, "plain")
        .otherwise("importance")
        .alias("estimator"),
        x.alias("x"),
    )
    return _mc_mean_se(obs.groupBy("estimator"), F.col("x")).select(
        "estimator",
        qround_col(F.col("mean_v"), 4).alias("mc_price"),
        qround_col(F.col("se_v"), 4).alias("std_error"),
        F.col("n").cast("bigint").alias("n_paths"),
    )


# --------------------------------------------------------------------------
# Quasi-Monte Carlo: Halton low-discrepancy points are PURE ARITHMETIC in
# the index, so (uniquely among the MC family) the estimator is exactly
# DuckDB-oracle-able — and runs entirely JVM-side, no Python at all.
# --------------------------------------------------------------------------

_QMC_N = 200_000
_QMC_BITS = 20   # base-2 radical inverse depth (covers N < 2^20)
_QMC_TRITS = 13  # base-3 digits (3^13 > 2^20)


def _radical_inverse_sql(i: str, base: int, digits: int) -> str:
    """Identical expression text for Spark SQL and DuckDB: the base-b
    radical inverse as a fixed left-to-right sum of digit * b^-(k+1).
    Weights are Python-computed double literals, so both engines parse
    the exact same IEEE constants and the fold order is the text order."""
    terms = [
        f"((({i}) DIV {base ** k}) % {base}) * {repr(base ** -(k + 1))}"
        for k in range(digits)
    ]
    return "(" + " + ".join(terms) + ")"


def _qmc_sql(duck: bool) -> str:
    """Quasi-Monte Carlo integration with a Halton(2,3) low-discrepancy
    sequence: each point is a radical-inverse polynomial of its index,
    so the whole estimator is a relational plan — range source, digit
    arithmetic inside whole-stage codegen, one aggregate, ZERO Python
    and zero RNG state. That determinism is the point twice over: QMC's
    error decays ~1/N (vs 1/sqrt(N) pseudo-random), and the DuckDB
    oracle replays bit-identical IEEE arithmetic, making this the one
    Monte Carlo query the hash gate fully verifies. Trivially parallel:
    the range source splits across the cluster like any scan."""
    x = _radical_inverse_sql("i", 2, _QMC_BITS)
    y = _radical_inverse_sql("i", 3, _QMC_TRITS)
    return f"""WITH pts AS ({range_rows("i", 1, _QMC_N + 1, duck)})
SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(SUM(CASE WHEN {x} * {x} + {y} * {y} < 1.0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_inside,
       FLOOR((CAST(4.0 AS DOUBLE) * SUM(CASE WHEN {x} * {x} + {y} * {y} < 1.0
                       THEN 1 ELSE 0 END) / COUNT(*)) * 1e6 + 0.5) / 1e6 AS pi_est
FROM pts
"""


q_mc_qmc_pi = register_sql(
    "q_mc_qmc_pi",
    _qmc_sql,
    f"quasi-Monte Carlo pi: {_QMC_N} Halton(2,3) points, pure "
    "arithmetic in the index — the one exactly-oracled MC estimator",
    ("mc", "qmc", "halton", "deterministic"),
)
