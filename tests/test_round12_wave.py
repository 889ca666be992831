"""Planted-property tests for the round-12 operator wave
(q311-q320): each operator faces a fixture whose correct answer is
known by construction — coefficient recovery, lead/lag peaks, drift
alarms — plus the degenerate contracts the oracle gate cannot see.
The cross-engine value gate itself is scripts/check_oracle.py (all
of these queries are oracle-backed); these tests pin SEMANTICS.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from auto_ml_platform_with_timeseries_data_spark.operators import (
    forecast,
    ts_features,
)


def _frame(spark, vals):
    return spark.createDataFrame(
        [("s", i, int(v)) for i, v in enumerate(vals)],
        "g string, t long, v long")


# Deterministic pseudo-noise (fixed, not generated — Date/random are
# banned in workflow contexts and a fixture should be reviewable).
_NOISE = [3, -5, 2, 7, -4, -1, 6, -8, 5, 0, -3, 4, -6, 8, 1, -2, 7,
          -7, 2, 5, -4, 3, -1, -5, 6, 0, 4, -8, 8, -2, 1, -6, 5, -3,
          7, 2, -7, -1, 3, 6, -4, 0, -5, 8, -2, 4, 1, -8, 5, -6]


def test_ar2_recovers_planted_coefficients(spark):
    import numpy as np

    # v_t = 1000 + 0.6*(v_{t-1}-1000) - 0.3*(v_{t-2}-1000) + WHITE
    # noise (seeded numpy — the fixed _NOISE list is periodic, i.e.
    # itself autocorrelated, and would bias the fit)
    rng = np.random.RandomState(42)
    vals = [1000.0, 1010.0]
    for e in rng.normal(0, 5, 400):
        vals.append(1000.0 + 0.6 * (vals[-1] - 1000.0)
                    - 0.3 * (vals[-2] - 1000.0) + e)
    df = _frame(spark, [round(v) for v in vals])
    r = forecast.ar2_forecast(df, "g", "t", F.col("v")).collect()[0]
    assert r["nobs"] == len(vals) - 2
    assert r["b1"] == pytest.approx(0.6, abs=0.15)
    assert r["b2"] == pytest.approx(-0.3, abs=0.15)
    # forecast reproduces from the emitted coefficients (the contract)
    mean = sum(round(v) for v in vals) / len(vals)
    fc = (mean + r["b1"] * (round(vals[-1]) - mean)
          + r["b2"] * (round(vals[-2]) - mean)) / 100.0
    assert r["forecast_next"] == pytest.approx(fc, abs=1e-5)


def test_ar2_degenerate_constant_is_null_by_contract(spark):
    r = forecast.ar2_forecast(
        _frame(spark, [7] * 20), "g", "t", F.col("v")).collect()[0]
    assert r["b1"] is None and r["forecast_next"] is None


def test_mase_orders_smooth_vs_jagged(spark):
    # mean-reverting alternation: naive is the WORST forecaster
    # (always a full swing off), smoothing wins -> MASE < 1
    alt = [100 + (25 if i % 2 else -25) for i in range(60)]
    r_alt = forecast.mase_backtest(
        _frame(spark, alt), "g", "t", F.col("v")).collect()[0]
    assert r_alt["mase"] < 1.0
    # steady ramp: naive is one step behind, SES is many steps
    # behind -> MASE > 1
    ramp = [100 + 10 * i for i in range(60)]
    r_ramp = forecast.mase_backtest(
        _frame(spark, ramp), "g", "t", F.col("v")).collect()[0]
    assert r_ramp["mase"] > 1.0
    assert r_ramp["mae_naive"] == pytest.approx(0.1, abs=1e-6)


def test_dickey_fuller_separates_walk_from_stationary(spark):
    # random walk: cumulated noise (unit root) -> t-ratio near zero
    walk, acc = [], 1000
    for e in _NOISE * 2:
        acc += e
        walk.append(acc)
    # stationary AR(0.2) around 1000 -> strongly negative t-ratio
    stat = [1000.0]
    for e in _NOISE * 2:
        stat.append(1000.0 + 0.2 * (stat[-1] - 1000.0) + e)
    t_walk = ts_features.dickey_fuller(
        _frame(spark, walk), "g", "t", F.col("v")).collect()[0]["df_t"]
    t_stat = ts_features.dickey_fuller(
        _frame(spark, [round(v) for v in stat]), "g", "t",
        F.col("v")).collect()[0]["df_t"]
    assert t_stat < -2.86 < t_walk  # DF 5% critical value separates


def test_dickey_fuller_matches_numpy_ols(spark):
    import numpy as np

    vals = [100 + _NOISE[i % len(_NOISE)] * (i % 7) for i in range(40)]
    r = ts_features.dickey_fuller(
        _frame(spark, vals), "g", "t", F.col("v")).collect()[0]
    x = np.array(vals[:-1], dtype=float)
    y = np.diff(np.array(vals, dtype=float))
    A = np.vstack([np.ones_like(x), x]).T
    beta = np.linalg.lstsq(A, y, rcond=None)[0][1]
    assert r["beta"] == pytest.approx(beta, abs=1e-4)


def test_hurst_orders_trend_above_alternation(spark):
    # strong trend: block means spread GROWS with block size -> H
    # near 1; alternation (jittered so block variances stay positive
    # — an EXACT alternation zeroes every block-mean variance and
    # reports NULL by contract): block means collapse -> H near 0
    trend = [100 + 10 * i + _NOISE[i % len(_NOISE)]
             for i in range(128)]
    alt = [100 + (20 if i % 2 else -20) + (i % 3)
           for i in range(128)]
    h_trend = ts_features.hurst_aggvar(
        _frame(spark, trend), "g", "t",
        F.col("v")).collect()[0]["hurst"]
    h_alt = ts_features.hurst_aggvar(
        _frame(spark, alt), "g", "t", F.col("v")).collect()[0]["hurst"]
    assert h_trend > 0.85
    assert h_alt < 0.3
    assert h_trend > h_alt


def test_ccf_peaks_at_planted_lead(spark):
    import numpy as np

    # x leads y by 2 steps (y_t = x_{t-2}), so corr(x_t, y_{t+l}) =
    # corr(x_t, x_{t+l-2}) peaks at lag 2; white noise keeps the
    # off-peak lags near zero
    rng = np.random.RandomState(7)
    base = [int(round(b)) for b in rng.normal(0, 30, 120)]
    rows = [("s", i, 100 + base[i], 100 + base[i - 2])
            for i in range(2, len(base))]
    df = spark.createDataFrame(
        rows, "g string, t long, x long, y long")
    out = {r["lag"]: r["ccf"]
           for r in ts_features.ccf_lags(
               df, "g", "t", F.col("x"), F.col("y"),
               max_lag=4).collect()}
    assert max(out, key=lambda k: out[k]) == 2
    assert out[2] > 0.9


def test_seasonal_mk_ignores_pure_seasonality(spark):
    # pure 4-cycle, zero within-season trend -> s_total = 0
    cyc = [(10, 40, 25, 5)[i % 4] for i in range(48)]
    r = ts_features.seasonal_mann_kendall(
        _frame(spark, cyc), "g", ts_col="t", value=F.col("v"),
        id_col="t", season=(F.col("t") % 4).cast("int")).collect()[0]
    assert r["s_total"] == 0
    # same cycle + trend -> every within-season pair rises
    trend = [(10, 40, 25, 5)[i % 4] + 3 * i for i in range(48)]
    r2 = ts_features.seasonal_mann_kendall(
        _frame(spark, trend), "g", ts_col="t", value=F.col("v"),
        id_col="t", season=(F.col("t") % 4).cast("int")).collect()[0]
    assert r2["s_total"] == 4 * math.comb(12, 2)
    assert r2["z"] > 3


def test_page_hinkley_fires_on_level_jump_only(spark):
    flat = [100] * 40
    r = ts_features.page_hinkley(
        _frame(spark, flat), "g", "t", F.col("v"),
        delta=0.05, lam=10.0).collect()[0]
    assert r["n_alarms"] == 0 and r["first_alarm"] is None
    jump = [100] * 30 + [10000] * 30
    r2 = ts_features.page_hinkley(
        _frame(spark, jump), "g", "t", F.col("v"),
        delta=0.05, lam=10.0).collect()[0]
    assert r2["n_alarms"] > 0
    assert r2["first_alarm"] > 30  # fires AFTER the break, never before
    assert r2["ph_stat"] > 10.0


# ---------------------------------------------------------------------------
# Validation trio: Welch / Bartlett / Friedman
# ---------------------------------------------------------------------------


def _gframe(spark, rows):
    return spark.createDataFrame(rows, "g string, v long")


def test_welch_anova_separates_means_despite_unequal_spread(spark):
    import numpy as np

    from auto_ml_platform_with_timeseries_data_spark.operators import (
        validation,
    )

    rng = np.random.RandomState(3)
    a = [("a", int(100 + e)) for e in rng.normal(0, 3, 50)]
    b = [("b", int(100 + e)) for e in rng.normal(0, 30, 50)]
    null = _gframe(spark, a + b)
    same = validation.welch_anova(null, F.col("v"), "g").collect()[0]
    shifted = _gframe(
        spark, a + [("b", v + 40) for _, v in b])
    diff = validation.welch_anova(
        shifted, F.col("v"), "g").collect()[0]
    assert same["k"] == 2 and diff["f_star"] > 10 * max(
        same["f_star"], 0.1)


def test_welch_matches_hand_formula(spark):
    import numpy as np

    from auto_ml_platform_with_timeseries_data_spark.operators import (
        validation,
    )

    rng = np.random.RandomState(11)
    groups = {"a": rng.normal(50, 5, 30), "b": rng.normal(60, 15, 40),
              "c": rng.normal(55, 2, 25)}
    rows = [(g, int(round(v))) for g, vs in groups.items() for v in vs]
    r = validation.welch_anova(
        _gframe(spark, rows), F.col("v"), "g").collect()[0]
    ints = {g: np.array([v for gg, v in rows if gg == g], dtype=float)
            for g in groups}
    w = {g: len(v) / v.var(ddof=1) for g, v in ints.items()}
    sw = sum(w.values())
    mw = sum(w[g] * ints[g].mean() for g in ints) / sw
    k = len(ints)
    a = sum(w[g] * (ints[g].mean() - mw) ** 2 for g in ints) / (k - 1)
    lam = sum((1 - w[g] / sw) ** 2 / (len(ints[g]) - 1) for g in ints)
    f_star = a / (1 + 2 * (k - 2) / (k * k - 1) * lam)
    assert r["f_star"] == pytest.approx(f_star, rel=1e-5)
    assert r["df2"] == pytest.approx((k * k - 1) / (3 * lam), rel=1e-5)


def test_bartlett_flags_spread_difference(spark):
    import numpy as np

    from auto_ml_platform_with_timeseries_data_spark.operators import (
        validation,
    )

    rng = np.random.RandomState(5)
    tight = [("a", int(1000 + e)) for e in rng.normal(0, 5, 60)]
    same = [("b", int(1000 + e)) for e in rng.normal(0, 5, 60)]
    wide = [("b", int(1000 + e)) for e in rng.normal(0, 50, 60)]
    chi_same = validation.bartlett_test(
        _gframe(spark, tight + same), F.col("v"), "g").collect()[0]
    chi_diff = validation.bartlett_test(
        _gframe(spark, tight + wide), F.col("v"), "g").collect()[0]
    assert chi_same["chi2"] < 5        # ~chi2(1) under the null
    assert chi_diff["chi2"] > 50       # 10x sigma is unmissable


def test_friedman_detects_consistent_ranking(spark):
    from auto_ml_platform_with_timeseries_data_spark.operators import (
        validation,
    )

    # 10 blocks, 4 treatments, identical ranking everywhere ->
    # maximal chi2 = b*(k-1)*3 = 90 for doubled-rank form check via
    # the textbook closed form 12/(bk(k+1)) SUM Rj^2 - 3b(k+1)
    rows = [(f"b{i}", t, 10 * (j + 1) + i)
            for i in range(10) for j, t in enumerate("wxyz")]
    df = spark.createDataFrame(rows, "b string, t string, v long")
    r = validation.friedman_test(
        df, F.col("v"), "b", "t").collect()[0]
    assert r["k"] == 4 and r["b"] == 10
    b, k = 10, 4
    rj = [b * (j + 1) for j in range(k)]
    chi2 = 12.0 / (b * k * (k + 1)) * sum(x * x for x in rj) \
        - 3.0 * b * (k + 1)
    assert r["chi2"] == pytest.approx(chi2, abs=1e-6)
    assert r["chi2_adj"] == pytest.approx(chi2, abs=1e-6)  # no ties


def test_friedman_all_tied_blocks_null_correction(spark):
    from auto_ml_platform_with_timeseries_data_spark.operators import (
        validation,
    )

    # every block scores every treatment identically: chi2 = 0 and
    # the tie correction hits exactly 0 -> chi2_adj NULL-by-contract
    rows = [(f"b{i}", t, 7) for i in range(5) for t in "wxyz"]
    df = spark.createDataFrame(rows, "b string, t string, v long")
    r = validation.friedman_test(
        df, F.col("v"), "b", "t").collect()[0]
    assert r["chi2"] == pytest.approx(0.0, abs=1e-6)
    assert r["chi2_adj"] is None


def test_friedman_incomplete_blocks_are_dropped(spark):
    from auto_ml_platform_with_timeseries_data_spark.operators import (
        validation,
    )

    rows = [(f"b{i}", t, 10 * (j + 1) + i)
            for i in range(6) for j, t in enumerate("wxyz")]
    rows += [("partial", "w", 5), ("partial", "x", 6)]  # missing y, z
    df = spark.createDataFrame(rows, "b string, t string, v long")
    r = validation.friedman_test(
        df, F.col("v"), "b", "t").collect()[0]
    assert r["b"] == 6  # the partial block never enters


# ---------------------------------------------------------------------------
# Second half of the wave: Ljung-Box / KPSS / theta / Granger /
# Cochran Q / Croston
# ---------------------------------------------------------------------------


def test_ljung_box_separates_white_from_autocorrelated(spark):
    import numpy as np

    rng = np.random.RandomState(13)
    white = [int(1000 + e) for e in rng.normal(0, 50, 200)]
    ar = [1000.0]
    for e in rng.normal(0, 10, 200):
        ar.append(1000.0 + 0.8 * (ar[-1] - 1000.0) + e)
    q_white = ts_features.ljung_box(
        _frame(spark, white), "g", "t",
        F.col("v")).collect()[0]["q_stat"]
    q_ar = ts_features.ljung_box(
        _frame(spark, [round(v) for v in ar]), "g", "t",
        F.col("v")).collect()[0]["q_stat"]
    assert q_white < 25      # ~chi2(10), 95% crit 18.3, some slack
    assert q_ar > 100        # rho=0.8 is unmissable


def test_kpss_mirrors_dickey_fuller(spark):
    import numpy as np

    rng = np.random.RandomState(17)
    stat = [int(1000 + e) for e in rng.normal(0, 50, 150)]
    walk = list(1000 + np.cumsum(
        rng.normal(0, 20, 150)).round().astype(int))
    eta_stat = ts_features.kpss_level(
        _frame(spark, stat), "g", "t", F.col("v")).collect()[0]["eta"]
    eta_walk = ts_features.kpss_level(
        _frame(spark, walk), "g", "t", F.col("v")).collect()[0]["eta"]
    assert eta_stat < 0.463  # 5% critical value: stationarity holds
    assert eta_walk > 0.463  # the random walk rejects


def test_theta_beats_ses_on_a_drifting_series(spark):
    import numpy as np

    rng = np.random.RandomState(23)
    ramp = [int(1000 + 20 * i + e)
            for i, e in enumerate(rng.normal(0, 5, 80))]
    df = _frame(spark, ramp)
    sse_theta = forecast.theta_forecast(
        df, "g", "t", F.col("v")).collect()[0]["sse"]
    ses = {r["alpha"]: r["sse"]
           for r in forecast.linear_filter_forecast(
               df, "g", "t", F.col("v"),
               [(0.5, forecast.ses_weights(0.5))]).collect()}
    assert sse_theta < ses[0.5]  # half-drift pays for itself


def test_granger_detects_planted_lead(spark):
    import numpy as np

    rng = np.random.RandomState(29)
    x = [int(round(v)) for v in rng.normal(0, 30, 150)]
    # y is driven by x's PREVIOUS value plus fresh noise
    y = [0] + [int(x[i - 1] + round(e))
               for i, e in enumerate(rng.normal(0, 3, 149), start=1)]
    indep = [int(round(v)) for v in rng.normal(0, 30, 150)]
    rows = [("s", i, y[i], x[i], indep[i]) for i in range(150)]
    df = spark.createDataFrame(
        rows, "g string, t long, y long, x long, z long")
    caused = ts_features.granger_lag1(
        df, "g", "t", F.col("y"), F.col("x")).collect()[0]
    not_caused = ts_features.granger_lag1(
        df, "g", "t", F.col("y"), F.col("z")).collect()[0]
    assert caused["f_stat"] > 100 and caused["bx"] > 0.8
    assert not_caused["f_stat"] < 10


def test_cochran_q_hand_computed(spark):
    from auto_ml_platform_with_timeseries_data_spark.operators import (
        validation,
    )

    # 6 users, 3 types; type "w" always runs hot (value 10 vs 1).
    # Per block: mean = (10+1+1)/3 = 4 -> x(w)=1, x(x)=x(y)=0.
    rows = [(f"u{i}", t, 1000 if t == "w" else 100)
            for i in range(6) for t in "wxy"]
    df = spark.createDataFrame(rows, "b string, t string, v long")
    r = validation.cochran_q(
        df, F.col("v"), "b", "t").collect()[0]
    # C = (6,0,0), R_i = 1 each: Q = (k-1)(k*SUM C^2 - N^2)/(kN - SUM R^2)
    #   = 2*(3*36 - 36)/(18 - 6) = 144/12 = 12
    assert r["k"] == 3 and r["b"] == 6 and r["n_success"] == 6
    assert r["q_stat"] == pytest.approx(12.0, abs=1e-6)


def test_croston_exact_on_regular_intermittent(spark):
    # demand of constant size 900 every 3rd period: the unit-DC
    # truncated SES of a constant IS the constant, so z_hat = 9.0,
    # q_hat = 3.0, rate = 3.0 exactly
    vals = [900 if i % 3 == 2 else 0 for i in range(60)]
    df = _frame(spark, vals)
    r = forecast.croston_forecast(
        df, "g", "t", F.col("v")).collect()[0]
    assert r["m_demands"] == 20
    assert r["z_hat"] == pytest.approx(9.0, abs=1e-5)
    assert r["q_hat"] == pytest.approx(3.0, abs=1e-5)
    assert r["rate"] == pytest.approx(3.0, abs=1e-5)
    # too few demands -> NULL by contract
    short = _frame(spark, [900 if i % 3 == 2 else 0
                           for i in range(24)])
    r2 = forecast.croston_forecast(
        short, "g", "t", F.col("v")).collect()[0]
    assert r2["m_demands"] == 8 and r2["rate"] is None
