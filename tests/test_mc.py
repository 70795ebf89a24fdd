"""Monte Carlo battery tests (FIXTURES.md §B): parity with the reference
semantics, determinism, statistical properties, config validation."""

from __future__ import annotations

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


def test_rng_allowlist_matches_reference():
    # reference models.py:16-33 — same four families, same default
    assert set(RNG_MAPPING) == {"PCG64", "Philox", "SFC64", "MT19937"}
    assert BatteryConfigs().rng == "PCG64"


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


# -- CSV export: byte identity, NaN parity, one pass, retries ------------


def _reference(model, cfg, bit_gen, master_seed, model_id, cast=str):
    """Serial numpy reference of one model, no Spark: its traces and the
    CSV text ``csv.writer`` makes of them (reference ``utils.py:19-23``)."""
    import csv
    import io

    import numpy as np

    args = (cfg["parameters"],) if "parameters" in cfg else ()
    if "starting_point" in cfg:
        args = (cfg.get("parameters"), cfg["starting_point"])
    traces = []
    for sim_id in range(cfg["number_simulations"]):
        rng = np.random.Generator(
            bit_gen(np.random.SeedSequence([master_seed, model_id, sim_id]))
        )
        traces.append([cast(p) for p in model(cfg["number_points"], rng, *args)])
    buf = io.StringIO(newline="")
    csv.writer(buf).writerows(traces)
    return traces, buf.getvalue()


def quoted(number_points, rng, parameters=None):
    """String fields csv.writer must quote or leave empty."""
    fields = ["a,b", 'q"x', "line\nbreak", "", "plain"]
    return [fields[i] for i in rng.integers(0, len(fields), size=number_points)]


def special(number_points, rng, parameters=None):
    return [rng.random(), float("nan"), float("inf"), -0.0, 1e-05, 1e16]


@pytest.mark.parametrize("rng_name", sorted(RNG_MAPPING))
def test_csv_bytes_match_serial_reference(spark, tmp_path, rng_name):
    """Several shards per model with an uneven last one, 3- and 4-argument
    calls, fields that need quoting, and output batches smaller than a
    shard: every file equals the serial reference byte for byte, and the
    returned frame holds the same traces."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    cfgs = [
        {"number_simulations": 30, "number_points": 5, "parameters": [0.5], "batch_size": 7},
        {"number_simulations": 17, "number_points": 3, "parameters": [0.3],
         "starting_point": ["T", "T"], "batch_size": 5},
        {"number_simulations": 12, "number_points": 4, "parameters": [1], "batch_size": 5},
    ]
    models = [coin, coin, quoted]
    paths = [str(tmp_path / f"{i}.txt") for i in range(len(models))]
    battery = MCBattery({"rng": rng_name, "master_seed": 2024, "spark_conf": {key: "3"}})
    try:
        df = battery.simulate(models, cfgs, output_paths=paths, spark=spark)
        rows = {(r.model_id, r.sim_id): r.trace for r in df.collect()}
    finally:
        spark.conf.set(key, prev)
    bit_gen = RNG_MAPPING[rng_name]
    for model_id, (model, cfg, path) in enumerate(zip(models, cfgs, paths)):
        traces, text = _reference(model, cfg, bit_gen, 2024, model_id)
        with open(path, "rb") as fh:
            assert fh.read() == text.encode(), (rng_name, model_id)
        assert [rows[(model_id, s)] for s in range(len(traces))] == traces
    assert len(rows) == sum(c["number_simulations"] for c in cfgs)


def test_nan_survives_to_frame_and_csv(spark, tmp_path):
    """A NaN in a double trace stays NaN in the returned frame and is
    written ``nan`` in the CSV, as ``csv.writer`` writes it for the
    reference (an Arrow conversion through pandas would make it null)."""
    cfg = {"number_simulations": 9, "number_points": 1, "batch_size": 4}
    path = str(tmp_path / "special.txt")
    df = MCBattery({"rng": "PCG64", "master_seed": 3}).simulate(
        [special], [cfg], output_paths=[path], spark=spark, trace_dtype="double"
    )
    rows = sorted(df.collect())
    assert len(rows) == 9
    for r in rows:
        assert math.isnan(r.trace[1]) and r.trace[2] == math.inf
        assert math.copysign(1.0, r.trace[3]) == -1.0 and r.trace[4:] == [1e-05, 1e16]
    _, text = _reference(special, cfg, RNG_MAPPING["PCG64"], 3, 0, cast=float)
    with open(path, "rb") as fh:
        written = fh.read()
    assert written == text.encode()
    assert {line.split(",", 1)[1] for line in written.decode().splitlines()} == {
        "nan,inf,-0.0,1e-05,1e+16"
    }


def test_export_is_one_pass_without_exchange(spark, tmp_path):
    """An exporting battery fires at most two jobs (simulate-and-export,
    then a copy of the cached traces) and shuffles nothing; the frame it
    returns is cached, and its unpersist() empties the cache."""
    spark.catalog.clearCache()
    sc = spark.sparkContext
    cfgs = [
        {"number_simulations": 40, "number_points": 4, "parameters": [0.5], "batch_size": 9},
        {"number_simulations": 25, "number_points": 6, "parameters": [0.7], "batch_size": 9},
    ]
    group = "test_export_is_one_pass"
    sc.setJobGroup(group, group)
    try:
        exported = MCBattery({"rng": "SFC64", "master_seed": 8}).simulate(
            [coin, coin], cfgs, output_paths=[str(tmp_path / "0.txt"), str(tmp_path / "1.txt")],
            spark=spark,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert 1 <= len(sc.statusTracker().getJobIdsForGroup(group)) <= 2
    lazy = MCBattery({"rng": "SFC64", "master_seed": 8}).simulate([coin, coin], cfgs, spark=spark)
    for frame in (exported, lazy):
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" in plan and "Exchange" not in plan, plan
    assert exported.columns == lazy.columns == ["model_id", "sim_id", "trace"]
    assert sorted(exported.collect()) == sorted(lazy.collect())
    assert exported.is_cached
    exported.unpersist()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


_RETRY_SCRIPT = r"""
import hashlib, json, os, sys
from pyspark import TaskContext
from parallel_monte_carlo_simulations_spark import MCBattery
from parallel_monte_carlo_simulations_spark.session import get_spark

out = sys.argv[1]
spark = get_spark(app_name="mc-retry", master="local[2,3]", shuffle_partitions=2,
                  extra_conf={"spark.driver.memory": "1g"})

def coin(number_points, rng, parameters):
    return ["H" if rng.random() <= parameters[0] else "T" for _ in range(number_points)]

def flaky(number_points, rng, parameters):
    # One shard per partition: partition 1 is the second shard of model 0.
    ctx = TaskContext.get()
    if ctx.partitionId() == 1 and ctx.attemptNumber() == 0:
        open(os.path.join(out, f"failed-{ctx.taskAttemptId()}"), "w").close()
        raise RuntimeError("injected first-attempt failure")
    return coin(number_points, rng, parameters)

cfgs = [{"number_simulations": 30, "number_points": 8, "parameters": [0.5], "batch_size": 10},
        {"number_simulations": 20, "number_points": 5, "parameters": [0.6], "batch_size": 10}]
result = {}
for name, first in (("clean", coin), ("retried", flaky)):
    paths = [os.path.join(out, f"{name}{i}.txt") for i in range(2)]
    df = MCBattery({"rng": "Philox", "master_seed": 77}).simulate(
        [first, coin], cfgs, output_paths=paths, spark=spark)
    result[name] = {
        "csv": [hashlib.sha256(open(p, "rb").read()).hexdigest() for p in paths],
        "rows": sorted(map(str, df.collect())),
    }
result["failed_attempts"] = sum(f.startswith("failed-") for f in os.listdir(out))
print(json.dumps(result))
spark.stop()
"""


def test_task_retry_leaves_csv_and_traces_unchanged(tmp_path):
    """Under real task retries (``local[2,3]``), a shard whose first
    attempt fails yields the same CSV bytes and traces as a clean run:
    CSV blocks carried in task results are neither lost nor duplicated."""
    import json
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (repo, os.environ.get("PYTHONPATH")) if p))
    proc = subprocess.run(
        [sys.executable, "-c", _RETRY_SCRIPT, str(tmp_path)],
        cwd=repo, env=env, capture_output=True, text=True, timeout=240,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["failed_attempts"] == 1
    assert result["retried"] == result["clean"]
    assert len(result["clean"]["rows"]) == 50
