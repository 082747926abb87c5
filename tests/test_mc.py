"""Monte Carlo battery tests (FIXTURES.md §B): parity with the reference
semantics, determinism, statistical properties, config validation."""

from __future__ import annotations

import logging
import math
import os

import pytest

from parallel_monte_carlo_simulations_spark.mc import (
    BatteryConfigs,
    MCBattery,
    RNG_MAPPING,
)


def coin(number_points, rng, parameters=None, starting_point=None):
    bias = parameters[0] if isinstance(parameters, (list, tuple)) else (
        parameters if parameters is not None else 0.5
    )
    seq = list(starting_point) if starting_point is not None else []
    seq += ["H" if rng.random() <= bias else "T" for _ in range(number_points)]
    return seq


def walk(number_points, rng, parameters=None, starting_point=None):
    """Gaussian random walk — float traces."""
    import numpy as np

    steps = rng.normal(0.0, 1.0, size=number_points)
    start = starting_point if starting_point is not None else 0.0
    return list(np.cumsum(steps) + start)


@pytest.fixture(scope="module")
def battery():
    return MCBattery({"rng": "Philox", "master_seed": 999})


def test_shapes_and_prefix(spark, battery):
    df = battery.simulate(
        [coin, coin],
        [
            {"number_simulations": 400, "number_points": 16, "parameters": [0.5]},
            {
                "number_simulations": 300,
                "number_points": 12,
                "parameters": [0.7],
                "starting_point": ["T", "T", "T", "T", "T"],
            },
        ],
        spark=spark,
    )
    rows = df.collect()
    assert len(rows) == 700
    m0 = [r for r in rows if r.model_id == 0]
    m1 = [r for r in rows if r.model_id == 1]
    assert {len(r.trace) for r in m0} == {16}
    # notebook cells 29->32: len(starting_point) + number_points
    assert {len(r.trace) for r in m1} == {17}
    assert all(r.trace[:5] == ["T"] * 5 for r in m1)
    assert sorted(r.sim_id for r in m0) == list(range(400))


def test_statistical_properties(spark, battery):
    df = battery.simulate(
        [coin],
        [{"number_simulations": 2000, "number_points": 16, "parameters": [0.7]}],
        spark=spark,
        master_seed=4242,
    )
    rows = df.collect()
    n = 2000 * 16
    h = sum(t.count("H") for t in (r.trace for r in rows))
    p_hat = h / n
    # 99.9% binomial CI around 0.7
    ci = 3.29 * math.sqrt(0.7 * 0.3 / n)
    assert abs(p_hat - 0.7) < ci, f"H freq {p_hat} outside CI ±{ci}"


def test_determinism_across_runs_and_batch_sizes(spark, battery):
    cfg = {"number_simulations": 200, "number_points": 8, "parameters": [0.5]}
    a = battery.simulate([coin], [dict(cfg, batch_size=50)], spark=spark, master_seed=7)
    b = battery.simulate([coin], [dict(cfg, batch_size=23)], spark=spark, master_seed=7)
    # Seeds are pure functions of (master, model, sim): batch/partition
    # layout must not change results (also covers task-retry safety).
    assert sorted(map(str, a.collect())) == sorted(map(str, b.collect()))


@pytest.mark.parametrize("rng", ["PCG64", "Philox", "SFC64", "MT19937"])
def test_traces_match_rng_for_recompute(spark, rng):
    # The shard loop must seed exactly as seeds.rng_for does: the
    # benchmark's trace check and tests/test_hypothesis_mc.py recompute
    # traces through it.
    from parallel_monte_carlo_simulations_spark.mc.battery import _call_model
    from parallel_monte_carlo_simulations_spark.mc.seeds import rng_for

    cfgs = [
        {"number_simulations": 60, "number_points": 12, "parameters": [0.3]},
        {"number_simulations": 40, "number_points": 6, "starting_point": ["H"]},
    ]
    df = MCBattery({"rng": rng, "master_seed": 31}).simulate(
        [coin, coin], cfgs, spark=spark
    )
    sampled = {(0, 0), (0, 17), (0, 59), (1, 0), (1, 39)}
    got = {
        (r.model_id, r.sim_id): list(r.trace)
        for r in df.collect()
        if (r.model_id, r.sim_id) in sampled
    }
    assert set(got) == sampled
    for model_id, sim_id in sampled:
        cfg = cfgs[model_id]
        want = _call_model(
            coin,
            cfg["number_points"],
            rng_for(RNG_MAPPING[rng], 31, model_id, sim_id),
            cfg.get("parameters"),
            cfg.get("starting_point"),
        )
        assert got[model_id, sim_id] == [str(p) for p in want]


def test_float_traces(spark, battery):
    df = battery.simulate(
        [walk],
        [{"number_simulations": 50, "number_points": 10, "starting_point": 100.0}],
        spark=spark,
        trace_dtype="double",
        master_seed=5,
    )
    rows = df.collect()
    assert df.schema["trace"].dataType.simpleString() == "array<double>"
    assert all(len(r.trace) == 10 for r in rows)
    assert all(isinstance(r.trace[0], float) for r in rows)


def test_csv_parity_and_path_cache(spark, tmp_path):
    battery = MCBattery({"rng": "PCG64", "master_seed": 11})
    p0 = str(tmp_path / "out" / "m0.txt")
    df = battery.simulate(
        [coin],
        [{"number_simulations": 20, "number_points": 4, "parameters": [0.5]}],
        output_paths=[p0],
        spark=spark,
    )
    df.count()
    lines = open(p0).read().strip().split("\n")
    assert len(lines) == 20
    assert all(len(line.split(",")) == 4 for line in lines)
    # working output_paths cache (reference documents this but its impl
    # clobbers the cache — parallel_simulations.py:40; we keep the docs)
    battery.simulate(
        [coin],
        [{"number_simulations": 5, "number_points": 4, "parameters": [0.5]}],
        spark=spark,
    ).count()
    assert len(open(p0).read().strip().split("\n")) == 5  # overwrite mode
    assert battery.output_paths == [p0]


def test_validation_errors():
    with pytest.raises(Exception):
        MCBattery({"rng": "XORSHIFT"})
    with pytest.raises(Exception):
        BatteryConfigs(rng="bad")
    battery = MCBattery()
    with pytest.raises(Exception):
        battery.simulate([coin], [{"number_simulations": 0, "number_points": 4}])
    with pytest.raises(ValueError):
        battery.simulate([coin, coin], [{"number_simulations": 1, "number_points": 1}])


def test_negative_master_seed_rejected_before_any_job(spark):
    # SeedSequence rejects negative entropy only inside a Spark task; both
    # ways of giving a master seed must fail before any job starts.
    sc = spark.sparkContext
    group = "negative-master-seed"
    sc.setJobGroup(group, "simulate with a negative master seed")
    try:
        with pytest.raises(ValueError, match="master_seed"):
            MCBattery({"master_seed": -1})
        with pytest.raises(ValueError, match="master_seed"):
            MCBattery({"rng": "Philox"}).simulate(
                [coin],
                [{"number_simulations": 4, "number_points": 2}],
                spark=spark,
                master_seed=-3,
            ).count()
    finally:
        sc._jsc.clearJobGroup()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_simulate_logs_shard_and_simulation_counts(spark, caplog):
    caplog.set_level(logging.INFO, logger="parallel_monte_carlo_simulations_spark.mc.battery")
    MCBattery({"master_seed": 5}).simulate(
        [coin, coin],
        [
            {"number_simulations": 25, "number_points": 2, "batch_size": 10},
            {"number_simulations": 7, "number_points": 2},
        ],
        spark=spark,
    )
    assert "MCBattery.simulate master_seed=5 shards=4 simulations=32" in caplog.messages


def test_rng_allowlist_matches_reference():
    # reference models.py:16-33 — same four families, same default
    assert set(RNG_MAPPING) == {"PCG64", "Philox", "SFC64", "MT19937"}
    assert BatteryConfigs().rng == "PCG64"


def test_state_request_covers_rng_allowlist():
    # shard_rngs has no fallback: every allowlisted bit generator needs
    # its generate_state request pinned
    from parallel_monte_carlo_simulations_spark.mc.seeds import STATE_REQUEST

    assert set(STATE_REQUEST) == set(RNG_MAPPING.values())


def test_vectorized_model_equals_loop_model(spark):
    """The vectorized scale-path model draws the same RNG stream as the
    reference-style Python-loop model — identical traces, same seed."""
    from parallel_monte_carlo_simulations_spark.mc.queries import (
        _coin_sequence,
        _coin_sequence_vectorized,
    )

    battery = MCBattery({"rng": "Philox"})
    cfg = [{"number_simulations": 100, "number_points": 12, "parameters": [0.6]}]
    a = battery.simulate([_coin_sequence], cfg, spark=spark, master_seed=33)
    b = battery.simulate([_coin_sequence_vectorized], cfg, spark=spark, master_seed=33)
    assert sorted(map(str, a.collect())) == sorted(map(str, b.collect()))


def test_spark_conf_applied(spark):
    battery = MCBattery(
        {"rng": "PCG64", "spark_conf": {"spark.sql.shuffle.partitions": "13"}}
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        battery.simulate(
            [coin],
            [{"number_simulations": 5, "number_points": 2, "parameters": [0.5]}],
            spark=spark,
            master_seed=1,
        ).count()
        assert spark.conf.get("spark.sql.shuffle.partitions") == "13"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_python_workers_fork_from_the_preloading_daemon(spark):
    """Every Python task is forked from the session's own daemon module,
    which imported numpy, pandas and pyarrow before forking; BLAS, Arrow
    compute and pandas must still give the driver's numbers after the
    fork."""
    from parallel_monte_carlo_simulations_spark.session import DEFAULT_CONF

    def probe():
        import numpy as np
        import pandas as pd
        import pyarrow as pa
        import pyarrow.compute as pc

        a = (np.arange(256 * 256, dtype=np.float64).reshape(256, 256) % 7) - 3
        frame = pd.DataFrame({"k": np.arange(1000) % 3, "v": np.arange(1000)})
        return (
            float((a @ a.T).sum()),
            int(pc.sum(pa.array(range(1000))).as_py()),
            [int(x) for x in frame.groupby("k")["v"].sum()],
        )

    def task(batches):
        import sys

        import pandas as pd

        for _ in batches:
            pass
        matmul, arrow, groupby = probe()
        yield pd.DataFrame({
            "module": [sys.modules["__main__"].__spec__.name],
            "ppid": [os.getppid()],
            "matmul": [matmul],
            "arrow": [arrow],
            "groupby": [groupby],
        })

    rows = spark.range(4, numPartitions=4).mapInPandas(
        task,
        "module string, ppid long, matmul double, arrow long, groupby array<long>",
    ).collect()
    assert len(rows) == 4
    assert {r.module for r in rows} == {DEFAULT_CONF.get("spark.python.daemon.module")}
    assert len({r.ppid for r in rows}) == 1
    expected = probe()
    for r in rows:
        assert (r.matmul, r.arrow, list(r.groupby)) == expected


def test_gbm_option_price_matches_black_scholes(spark):
    """MC estimate of a European call must land within ~4 standard errors
    of the Black-Scholes closed form (risk-neutral GBM, same params as
    the registered query)."""
    from parallel_monte_carlo_simulations_spark.mc.queries import (
        q_mc_gbm_option_price,
    )

    row = q_mc_gbm_option_price(spark, "").collect()[0]
    r, sigma, t, s0, k = 0.03, 0.25, 1.0, 100.0, 105.0
    d1 = (math.log(s0 / k) + (r + sigma**2 / 2) * t) / (sigma * math.sqrt(t))
    d2 = d1 - sigma * math.sqrt(t)
    phi = lambda x: 0.5 * (1.0 + math.erf(x / math.sqrt(2.0)))
    bs = s0 * phi(d1) - k * math.exp(-r * t) * phi(d2)
    assert row.n_paths == 20_000
    assert abs(row.mc_price - bs) < 4 * row.std_error + 1e-9, (row.mc_price, bs)


def test_variance_reduction_beats_plain_mc(spark):
    """Antithetic pairing and the S_T control variate must (a) stay
    within ~4 standard errors of Black-Scholes and (b) deliver a lower
    standard error than the plain estimator at the same 20k path budget
    (antithetic reduction for a monotone payoff is guaranteed in theory;
    the margin here is far outside noise)."""
    from parallel_monte_carlo_simulations_spark.mc.queries import (
        q_mc_gbm_antithetic,
        q_mc_gbm_control_variate,
        q_mc_gbm_option_price,
    )

    plain = q_mc_gbm_option_price(spark, "").collect()[0]
    anti = q_mc_gbm_antithetic(spark, "").collect()[0]
    cv = q_mc_gbm_control_variate(spark, "").collect()[0]

    r, sigma, t, s0, k = 0.03, 0.25, 1.0, 100.0, 105.0
    d1 = (math.log(s0 / k) + (r + sigma**2 / 2) * t) / (sigma * math.sqrt(t))
    d2 = d1 - sigma * math.sqrt(t)
    phi = lambda x: 0.5 * (1.0 + math.erf(x / math.sqrt(2.0)))  # noqa: E731
    bs = s0 * phi(d1) - k * math.exp(-r * t) * phi(d2)

    for row in (anti, cv):
        assert abs(row.mc_price - bs) < 4 * row.std_error + 1e-9, (row.mc_price, bs)
    assert anti.std_error < plain.std_error, (anti.std_error, plain.std_error)
    assert cv.std_error < plain.std_error, (cv.std_error, plain.std_error)


def test_importance_sampling_beats_plain_on_deep_otm(spark):
    """For the deep-OTM strike the drift-shifted estimator must stay
    within ~4 standard errors of Black-Scholes AND cut the standard
    error well below the plain estimator at the same path budget (the
    textbook importance-sampling win; the margin is far outside noise)."""
    from parallel_monte_carlo_simulations_spark.mc.queries import (
        _OTM_STRIKE,
        q_mc_gbm_importance,
    )

    rows = {r.estimator: r for r in q_mc_gbm_importance(spark, "").collect()}
    plain, imp = rows["plain"], rows["importance"]

    r, sigma, t, s0, k = 0.03, 0.25, 1.0, 100.0, _OTM_STRIKE
    d1 = (math.log(s0 / k) + (r + sigma**2 / 2) * t) / (sigma * math.sqrt(t))
    d2 = d1 - sigma * math.sqrt(t)
    phi = lambda x: 0.5 * (1.0 + math.erf(x / math.sqrt(2.0)))  # noqa: E731
    bs = s0 * phi(d1) - k * math.exp(-r * t) * phi(d2)

    assert abs(imp.mc_price - bs) < 4 * imp.std_error + 1e-9, (imp.mc_price, bs)
    assert imp.std_error < 0.5 * plain.std_error, (imp.std_error, plain.std_error)
    assert plain.n_paths == imp.n_paths == 20_000


def test_qmc_pi_accuracy_beats_sqrt_n(spark):
    """The Halton estimate must be close to pi at the low-discrepancy
    rate — far inside the ~1/sqrt(N) pseudo-random band (which at
    N=200k is ~0.004)."""
    from parallel_monte_carlo_simulations_spark.mc.queries import q_mc_qmc_pi

    row = q_mc_qmc_pi(spark, "").collect()[0]
    assert row.n_points == 200_000
    assert abs(float(row.pi_est) - math.pi) < 1.5e-3, row.pi_est


def test_qmc_pi_leaves_session_views_alone(spark):
    """q_mc_qmc_pi reads its points from a CTE: a caller's temp view
    named ``pts`` neither feeds the query nor gets replaced by it."""
    from parallel_monte_carlo_simulations_spark.mc.queries import q_mc_qmc_pi

    spark.createDataFrame([(7,), (8,)], "i bigint").createOrReplaceTempView("pts")
    try:
        assert q_mc_qmc_pi(spark, "").collect()[0].n_points == 200_000
        assert sorted(r.i for r in spark.table("pts").collect()) == [7, 8]
    finally:
        spark.catalog.dropTempView("pts")


def test_lsmc_american_put_sane(spark):
    """Independent verification of q_mc_american_lsmc: re-implement the
    same discretized-QMC LSMC in straight numpy (no shared SQL), and
    check the engine's price against it, plus the no-arbitrage
    dominance American >= European and proximity of the European leg to
    Black-Scholes (discretization bias only)."""
    import math

    import numpy as np

    from parallel_monte_carlo_simulations_spark.mc import lsmc as L

    df = L.q_mc_american_lsmc(spark, "/root/testdata/sf0.001").collect()[0]
    assert df.n_paths == L.N_PATHS
    assert df.am_price >= df.eu_price  # early exercise has value

    # Black-Scholes European put for the same params
    d1 = (
        math.log(L.S0 / L.STRIKE)
        + (L.RATE + 0.5 * L.SIGMA**2) * L.N_DATES * L.DT
    ) / (L.SIGMA * math.sqrt(L.N_DATES * L.DT))
    d2 = d1 - L.SIGMA * math.sqrt(L.N_DATES * L.DT)
    nd = lambda z: 0.5 * (1.0 + math.erf(z / math.sqrt(2.0)))
    bs_put = L.STRIKE * math.exp(-L.RATE * L.N_DATES * L.DT) * nd(
        -d2
    ) - L.S0 * nd(-d1)
    assert abs(df.eu_price - bs_put) < 0.35  # 8-strata discretization bias

    # independent numpy LSMC on the identical deterministic paths
    means = np.array(L._stratum_means(L.N_STRATA))
    mults = np.exp(
        (L.RATE - 0.5 * L.SIGMA**2) * L.DT
        + L.SIGMA * math.sqrt(L.DT) * means
    )
    idx = np.arange(1, L.N_PATHS + 1)

    def radical(base, digits):
        u = np.zeros(len(idx))
        for kd in range(digits):
            u += ((idx // base**kd) % base) * float(base) ** -(kd + 1)
        return u

    s = np.full(L.N_PATHS, L.S0)
    spots = []
    for t, (b, dg) in enumerate(L._BASES_DIGITS):
        k = np.minimum((radical(b, dg) * L.N_STRATA).astype(int), 7)
        s = s * mults[k]
        spots.append(s.copy())
    disc = math.exp(-L.RATE * L.DT)
    v = np.maximum(L.STRIKE - spots[-1], 0.0)
    for t in range(L.N_DATES - 2, -1, -1):
        pay = np.maximum(L.STRIKE - spots[t], 0.0)
        itm = pay > 0
        x = spots[t][itm] / L.S0
        y = disc * v[itm]
        coef = np.polyfit(x, y, 2)  # c2 x^2 + c1 x + c0
        cont = np.polyval(coef, spots[t] / L.S0)
        exercise = itm & (pay > cont)
        v = np.where(exercise, pay, disc * v)
    am_ref = disc * v.mean()
    assert abs(df.am_price - am_ref) < 0.05, (df.am_price, am_ref)


def test_brownian_bridge_martingale_and_positive_premium(spark):
    """Sanity for q_mc_brownian_bridge: discounted terminal mean must
    sit near S0*e^{rT} (martingale property, within stratified-QMC
    discretization bias) and the Asian call carries positive value
    below its intrinsic-forward bound."""
    import math

    from parallel_monte_carlo_simulations_spark.mc import bridge as B

    row = B.q_mc_brownian_bridge(spark, "/root/testdata/sf0.001").collect()[0]
    assert row.n_paths == B.N_PATHS
    target = B.S0 * math.exp(B.RATE * B.T)
    assert abs(row.mean_terminal - target) < 0.8, (row.mean_terminal, target)
    assert 0.0 < row.asian_call_price < B.S0


def test_sobol_direction_numbers_valid_and_pi_accuracy(spark):
    """Direction-number validity (every m_k odd and < 2^k — the
    (t,s)-net requirement the pre-fix recurrence violated with even
    m3=6, m6=58) plus low-discrepancy accuracy: at N=100k the Sobol
    estimate must sit far inside the ~1/sqrt(N) pseudo-random band
    (~0.0052)."""
    from parallel_monte_carlo_simulations_spark.mc.sobol import (
        BITS,
        _direction_numbers,
        q_mc_sobol_pi,
    )

    _, d2 = _direction_numbers()
    m = [d2[k] >> (31 - k) for k in range(BITS)]
    assert all(mk % 2 == 1 for mk in m), m
    assert all(m[k] < (1 << (k + 1)) for k in range(BITS)), m

    row = q_mc_sobol_pi(spark, "").collect()[0]
    assert row.n_points == 100_000
    assert abs(float(row.pi_est) - math.pi) < 1.5e-3, row.pi_est


def test_qmc_gbm_twins_match_bs_and_reduce_variance(spark):
    """The four exactly-oracled QMC twins of the Philox GBM family: all
    ATM prices agree with Black-Scholes up to the 64-stratum quadrature
    bias, every variance-reduction twin beats the plain twin's
    std_error, and the importance estimator nails the deep-OTM price
    the plain one struggles with."""
    from parallel_monte_carlo_simulations_spark.mc import qmc_gbm as Q

    plain = Q.q_mc_gbm_qmc_price(spark, "").collect()[0]
    anti = Q.q_mc_gbm_qmc_antithetic(spark, "").collect()[0]
    cv = Q.q_mc_gbm_qmc_control_variate(spark, "").collect()[0]
    imp = {r.estimator: r for r in Q.q_mc_gbm_qmc_importance(spark, "").collect()}

    phi = lambda x: 0.5 * (1.0 + math.erf(x / math.sqrt(2.0)))  # noqa: E731

    def bs(strike):
        d1 = (math.log(Q.S0 / strike) + (Q.R + Q.SIGMA**2 / 2) * Q.T) / (
            Q.SIGMA * math.sqrt(Q.T)
        )
        d2 = d1 - Q.SIGMA * math.sqrt(Q.T)
        return Q.S0 * phi(d1) - strike * math.exp(-Q.R * Q.T) * phi(d2)

    # quadrature bias only (no MC noise): ATM within 0.05 of BS
    assert abs(plain.mc_price - bs(Q.STRIKE)) < 0.05, plain
    # identical point set => identical price; tighter spread per pair
    assert anti.mc_price == plain.mc_price
    assert anti.std_error < 0.7 * plain.std_error, (anti, plain)
    assert cv.std_error < 0.6 * plain.std_error, (cv, plain)
    assert abs(cv.mc_price - bs(Q.STRIKE)) < 0.05, cv
    # deep OTM: importance within quadrature bias of BS, >=4x less error
    assert abs(imp["importance"].mc_price - bs(Q.OTM_STRIKE)) < 0.01
    assert imp["importance"].std_error < 0.25 * imp["plain"].std_error
    assert plain.n_paths == Q.N_PATHS


def test_hashrng_twins_statistics(spark):
    """Counter-hash RNG twins behave like their Philox originals: coin
    frequencies sit near each model's bias (binomial CI over 500 sims),
    and every walk has a non-negative drawdown with a sane magnitude
    for 50 unit-normal steps."""
    from parallel_monte_carlo_simulations_spark.mc import hashrng as H

    freq = H.q_mc_heads_frequency_qmc(spark, "").collect()
    assert len(freq) == sum(n for _, _, n in H.COIN_MODELS)
    for r in freq:
        bias = dict((m, b) for m, b, _ in H.COIN_MODELS)[r.model_id]
        # 4-sigma binomial bound at n=500: 4*sqrt(0.25/500) ~ 0.09
        assert abs(r.h_frequency - bias) < 0.09, r
        assert r.n_obs == H.COIN_SIMS

    dd = H.q_mc_walk_drawdown_qmc(spark, "").collect()
    assert len(dd) == H.N_SIMS
    assert all(r.max_drawdown >= 0.0 for r in dd)
    avg = sum(r.max_drawdown for r in dd) / len(dd)
    # E[max drawdown] of a 50-step standard random walk is a few sigma*sqrt(n)
    assert 1.0 < avg < 30.0, avg
