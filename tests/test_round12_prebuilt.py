"""Round-12 registration wave, second witness: the ten pre-built
operators (cronbach alpha, kendall tau-b, McNemar, Mantel-Haenszel,
partial correlation, Grubbs, Chow, Brown-Forsythe Levene, runs test,
Cox-Stuart) plus the forecast pair (truncated-SES sweep, Holt linear)
are registered as q299-q310 with oracles in their @query decorators;
this file (a) gate-compares each registered query against its
registered oracle the way the driver does, (b) pins the SEMANTICS with
planted fixtures and python/numpy references the oracle cannot vouch
for, and (c) regression-pins the ANSI NULL-by-contract edges (Spark 4
raises DIVIDE_BY_ZERO even on double x/0 inside CONDITION expressions
— every degenerate input below used to crash, now lands NULL)."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))

from check_oracle import TABLES, compare  # noqa: E402

from auto_ml_platform_with_timeseries_data_spark import registry  # noqa: E402
from auto_ml_platform_with_timeseries_data_spark.operators import (  # noqa: E402
    curation,
    evaluation,
    forecast,
    multimodal,
    similarity,
    ts_features,
    validation,
)

_NEW = (
    "q299_cronbach_alpha", "q300_kendall_tau_b", "q301_mcnemar",
    "q302_mantel_haenszel", "q303_partial_correlation", "q304_grubbs",
    "q305_chow", "q306_levene_bf", "q307_runs_test", "q308_cox_stuart",
    "q309_ses_forecast", "q310_holt_forecast",
)
# every oracle-backed query of the per-series forecast and
# time-series-feature kernels, of the similarity and multimodal
# families and of the validation, evaluation and curation statistics,
# selected by module
_GATED_MODULES = (forecast.__name__, ts_features.__name__,
                  similarity.__name__, multimodal.__name__,
                  validation.__name__, evaluation.__name__,
                  curation.__name__)
_GATED = tuple(
    name for name, fn in registry.queries().items()
    if fn.__module__ in _GATED_MODULES and name in registry.oracles()
    and name not in _NEW)


@pytest.mark.parametrize("name", _NEW + _GATED)
def test_registered_oracle_gate(spark, sf_dir, name):
    """Driver-style compare: registered Spark query vs its registered
    DuckDB oracle on the same parquet tables."""
    q = registry.queries()[name]
    sql = registry.oracles()[name]
    got = q(spark, sf_dir).toPandas()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    want = con.sql(sql).df()
    ok, msg = compare(got, want)
    assert ok, f"{name}: {msg}"


# ---------------------------------------------------------------------------
# Planted-fixture semantics (what the oracle cannot vouch for)
# ---------------------------------------------------------------------------


def test_cronbach_alpha_perfect_and_guards(spark):
    # three identical items: every variance equal -> alpha = k/(k-1)
    # * (1 - k*v/(k^2*v)) = 1.5 * (1 - 1/3) = 1.0 for k = 3
    rows = [(i, i, i) for i in (1, 5, 2, 9, 4, 7)]
    df = spark.createDataFrame(rows, "a long, b long, c long")
    got = evaluation.cronbach_alpha(
        df, {"a": F.col("a"), "b": F.col("b"), "c": F.col("c")}
    ).collect()[0]
    assert got["n"] == 6 and got["k"] == 3
    assert got["alpha"] == pytest.approx(1.0, abs=1e-6)
    # k = 1: NULL-by-contract, no ZeroDivisionError at plan build
    one = evaluation.cronbach_alpha(df, {"a": F.col("a")}).collect()[0]
    assert one["k"] == 1 and one["alpha"] is None
    # k = 0: documented ValueError
    with pytest.raises(ValueError):
        evaluation.cronbach_alpha(df, {})


def _tau_b_ref(xy: list[tuple[int, int]]) -> float:
    conc = disc = 0
    for i in range(len(xy)):
        for j in range(i + 1, len(xy)):
            s = ((xy[i][0] - xy[j][0]) * (xy[i][1] - xy[j][1]))
            conc += s > 0
            disc += s < 0
    n = len(xy)
    n0 = n * (n - 1) / 2
    from collections import Counter

    t1 = sum(c * (c - 1) / 2 for c in Counter(x for x, _ in xy).values())
    t2 = sum(c * (c - 1) / 2 for c in Counter(y for _, y in xy).values())
    return (conc - disc) / math.sqrt((n0 - t1) * (n0 - t2))


def test_kendall_tau_b_matches_python_reference(spark):
    xy = [(1, 2), (1, 3), (2, 2), (2, 5), (3, 1), (3, 6), (4, 6),
          (4, 4), (5, 9), (5, 9), (6, 8), (7, 7), (7, 7), (8, 12)]
    df = spark.createDataFrame(xy, "x long, y long")
    got = evaluation.kendall_tau_b(
        df, F.col("x"), F.col("y")).collect()[0]
    assert got["n"] == len(xy)
    assert got["tau_b"] == pytest.approx(_tau_b_ref(xy), abs=2e-6)
    # perfect concordance / discordance endpoints
    up = spark.createDataFrame([(i, i) for i in range(8)],
                               "x long, y long")
    assert evaluation.kendall_tau_b(
        up, F.col("x"), F.col("y")).collect()[0]["tau_b"] \
        == pytest.approx(1.0, abs=1e-6)
    dn = spark.createDataFrame([(i, -i) for i in range(8)],
                               "x long, y long")
    assert evaluation.kendall_tau_b(
        dn, F.col("x"), F.col("y")).collect()[0]["tau_b"] \
        == pytest.approx(-1.0, abs=1e-6)


def test_mcnemar_hand_counts(spark):
    # 3 (0,0), 5 (0,1), 2 (1,0), 4 (1,1): chi2 = (5-2)^2/7
    rows = ([(0, 0)] * 3 + [(0, 1)] * 5 + [(1, 0)] * 2 + [(1, 1)] * 4)
    df = spark.createDataFrame(rows, "a int, b int")
    got = validation.mcnemar_test(
        df, F.col("a") == 1, F.col("b") == 1).collect()[0]
    assert (got["n00"], got["n01"], got["n10"], got["n11"]) \
        == (3, 5, 2, 4)
    assert got["chi2"] == pytest.approx(9 / 7, abs=1e-6)
    # no discordant pairs: chi2 NULL-by-contract
    conc = spark.createDataFrame([(0, 0), (1, 1)], "a int, b int")
    assert validation.mcnemar_test(
        conc, F.col("a") == 1, F.col("b") == 1).collect()[0]["chi2"] \
        is None


def test_mantel_haenszel_hand_tables(spark):
    # stratum 1: a=4 b=1 c=2 d=3; stratum 2: a=3 b=2 c=1 d=4
    rows = []
    for st, (a, b, c, d) in ((1, (4, 1, 2, 3)), (2, (3, 2, 1, 4))):
        rows += ([(st, 1, 1)] * a + [(st, 1, 0)] * b
                 + [(st, 0, 1)] * c + [(st, 0, 0)] * d)
    df = spark.createDataFrame(rows, "s long, e int, o int")
    got = validation.mantel_haenszel(
        df, F.col("s"), F.col("e") == 1, F.col("o") == 1).collect()[0]
    rn = 4 * 3 / 10 + 3 * 4 / 10
    rd = 1 * 2 / 10 + 2 * 1 / 10
    sa, se = 4 + 3, (5 * 6 / 10) + (5 * 4 / 10)
    sv = (5 * 5 * 6 * 4) / (100 * 9) + (5 * 5 * 4 * 6) / (100 * 9)
    assert got["k_strata"] == 2 and got["n"] == 20
    assert got["or_mh"] == pytest.approx(rn / rd, abs=1e-6)
    assert got["chi2_cmh"] == pytest.approx(
        (sa - se) ** 2 / sv, abs=1e-5)


def test_partial_correlation_planted_confounder(spark):
    # x and y both track z exactly-plus-distinct-offsets: controlling
    # for z must collapse the raw correlation toward zero
    import numpy as np

    rng = range(200)
    z = [i % 23 for i in rng]
    x = [10 * z[i] + (i * 7) % 5 for i in rng]
    y = [10 * z[i] + (i * 11) % 5 for i in rng]
    df = spark.createDataFrame(list(zip(x, y, z)),
                               "x long, y long, z long")
    got = validation.partial_correlation(
        df, F.col("x"), F.col("y"), F.col("z")).collect()[0]
    cx = np.corrcoef(np.array([x, y, z]))
    rxy, rxz, ryz = cx[0, 1], cx[0, 2], cx[1, 2]
    ref = (rxy - rxz * ryz) / math.sqrt(
        (1 - rxz ** 2) * (1 - ryz ** 2))
    assert got["r_xy"] == pytest.approx(rxy, abs=1e-5)
    assert got["r_partial"] == pytest.approx(ref, abs=1e-5)
    # controlling for z collapses the association (the leftover 0.5 is
    # the deterministic offsets' own alignment, not z)
    assert abs(got["r_partial"]) < got["r_xy"] - 0.4


def test_grubbs_planted_outlier(spark):
    import numpy as np

    vals = [10, 11, 9, 10, 12, 11, 10, 9, 11, 50]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = validation.grubbs_test(df, F.col("v")).collect()[0]
    a = np.array(vals, dtype=float)
    g_ref = np.max(np.abs(a - a.mean())) / a.std(ddof=1)
    assert got["g"] == pytest.approx(g_ref, abs=1e-6)
    assert got["max_abs_dev"] == pytest.approx(
        np.max(np.abs(a - a.mean())), abs=1e-6)


def _ols_sse(xs, ys):
    import numpy as np

    x, y = np.array(xs, dtype=float), np.array(ys, dtype=float)
    sxx = ((x - x.mean()) ** 2).sum()
    sxy = ((x - x.mean()) * (y - y.mean())).sum()
    syy = ((y - y.mean()) ** 2).sum()
    return syy - sxy * sxy / sxx


def test_chow_planted_break(spark):
    # segment 1: y = 2x + small wiggle; segment 2: y = 10x — the
    # pooled line cannot fit both, so F blows up
    seg1 = [(x, 2 * x + (x % 3), 0) for x in range(1, 40)]
    seg2 = [(x, 10 * x + (x % 3), 1) for x in range(1, 40)]
    df = spark.createDataFrame(seg1 + seg2, "x long, y long, g int")
    got = validation.chow_test(
        df, F.col("x"), F.col("y"), F.col("g") == 1).collect()[0]
    sse1 = _ols_sse([r[0] for r in seg1], [r[1] for r in seg1])
    sse2 = _ols_sse([r[0] for r in seg2], [r[1] for r in seg2])
    ssep = _ols_sse([r[0] for r in seg1 + seg2],
                    [r[1] for r in seg1 + seg2])
    n = len(seg1) + len(seg2)
    f_ref = ((ssep - sse1 - sse2) / 2) / ((sse1 + sse2) / (n - 4))
    assert got["f"] == pytest.approx(f_ref, rel=1e-6)
    assert got["f"] > 100
    assert got["rmse_pooled"] == pytest.approx(
        math.sqrt(ssep / n), rel=1e-6)
    assert got["rmse_split"] == pytest.approx(
        math.sqrt((sse1 + sse2) / n), rel=1e-6)


def test_chow_one_empty_segment_null_by_contract(spark):
    # ANSI regression: an empty segment used to raise DIVIDE_BY_ZERO
    # from inside the `ok` condition; contract says NULL columns
    df = spark.createDataFrame(
        [(x, 2 * x + (x % 3), 0) for x in range(1, 20)],
        "x long, y long, g int")
    got = validation.chow_test(
        df, F.col("x"), F.col("y"), F.col("g") == 1).collect()[0]
    assert got["n2"] == 0
    assert got["rmse_pooled"] is None and got["f"] is None


def test_levene_bf_planted_spread(spark):
    # group a tight around 100, group b wide: BF F must be large and
    # match the from-scratch reference on the |v - median| deviations
    import numpy as np

    a = [100 + (i % 3) - 1 for i in range(30)]
    b = [100 + 7 * ((i % 5) - 2) for i in range(30)]
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v long")
    got = validation.levene_bf(df, F.col("v"), "g").collect()[0]

    def dev(vals):
        med = sorted(vals)[(len(vals) - 1) // 2]  # lower median
        return np.abs(np.array(vals, dtype=float) - med)

    w = np.concatenate([dev(a), dev(b)])
    grp = np.array([0] * len(a) + [1] * len(b))
    gm = [w[grp == k].mean() for k in (0, 1)]
    ssb = sum((w[grp == k] - w.mean()).mean() * 0 + len(w[grp == k])
              * (gm[k] - w.mean()) ** 2 for k in (0, 1))
    ssw = sum(((w[grp == k] - gm[k]) ** 2).sum() for k in (0, 1))
    f_ref = (ssb / 1) / (ssw / (len(w) - 2))
    assert got["k"] == 2 and got["n"] == 60
    assert got["f"] == pytest.approx(f_ref, rel=1e-6)
    assert got["f"] > 10


def test_runs_test_known_patterns(spark):
    # strict alternation above/below the mean -> maximum runs, z > 0;
    # two solid blocks -> 2 runs, z < 0
    def frame(vals):
        return spark.createDataFrame(
            [("s", i, v) for i, v in enumerate(vals)],
            "g string, t long, v long")

    alt = frame([0, 10] * 10)
    r1 = ts_features.runs_test(alt, "g", "t", F.col("v")).collect()[0]
    assert r1["runs"] == 20 and r1["n_above"] == 10
    assert r1["z"] > 3
    blocks = frame([0] * 10 + [10] * 10)
    r2 = ts_features.runs_test(
        blocks, "g", "t", F.col("v")).collect()[0]
    assert r2["runs"] == 2 and r2["z"] < -3
    # m = 2 (one above, one below): Var(R) = 0 -> z NULL, no ANSI
    # crash from the m-1 division inside the condition
    tiny = frame([5, 6])
    r3 = ts_features.runs_test(tiny, "g", "t", F.col("v")).collect()[0]
    assert r3["n_above"] == 1 and r3["n_below"] == 1
    assert r3["z"] is None


def test_cox_stuart_disjoint_pairs_and_trend(spark):
    def frame(vals):
        return spark.createDataFrame(
            [("s", i, v) for i, v in enumerate(vals)],
            "g string, t long, v long")

    # odd n = 5: h = 3, pairs (v1,v4),(v2,v5) — middle element DROPPED
    # (ADVICE r11: overlapping pairs broke the Binomial(m, 1/2) null)
    odd = frame([1, 2, 3, 4, 5])
    r = ts_features.cox_stuart(odd, "g", "t", F.col("v")).collect()[0]
    assert r["m_pairs"] == 2 and r["n_pos"] == 2
    assert r["z"] == pytest.approx(math.sqrt(2), abs=1e-6)
    # monotone decreasing: n_pos = 0, z = -sqrt(m)
    dn = frame(list(range(10, 0, -1)))
    r2 = ts_features.cox_stuart(dn, "g", "t", F.col("v")).collect()[0]
    assert r2["m_pairs"] == 5 and r2["n_pos"] == 0
    assert r2["z"] == pytest.approx(-math.sqrt(5), abs=1e-6)
    # all-tied pairs: m = 0, z NULL-by-contract
    flat = frame([3, 3, 3, 3])
    r3 = ts_features.cox_stuart(
        flat, "g", "t", F.col("v")).collect()[0]
    assert r3["m_pairs"] == 0 and r3["z"] is None


# ---------------------------------------------------------------------------
# Forecast pair: numpy reference + planted optimum
# ---------------------------------------------------------------------------


def _filter_ref(vals, coeffs):
    """Replays the quantized-filter backtest exactly: per-row forecast
    sum_j floor(c_j*v[t-j]*1e2), residual v[t]*1e2 - f, sse in 1e-4
    units; next forecast over lags 0..W-1 at 1e6 quantum."""
    w = len(coeffs)
    sse = 0
    n_scored = 0
    for t in range(w, len(vals)):
        f = sum(math.floor(c * vals[t - 1 - j] * 1e2)
                for j, c in enumerate(coeffs))
        e = vals[t] * 100 - f
        sse += e * e
        n_scored += 1
    nxt = sum(math.floor(c * vals[len(vals) - 1 - j] * 1e6)
              for j, c in enumerate(coeffs)) / 1e6
    return n_scored, sse / 1e4, nxt


def test_ses_sweep_matches_python_reference(spark):
    vals = [100, 103, 101, 108, 104, 110, 113, 109, 115, 118, 114,
            120, 125, 122, 128, 130, 127, 133, 138, 135, 140, 144,
            141, 148, 150]
    df = spark.createDataFrame(
        [("s", i, v) for i, v in enumerate(vals)],
        "g string, t long, v long")
    got = forecast.ses_best_forecast(
        df, "g", "t", F.col("v")).collect()[0]
    best = None
    for a in forecast._FC_ALPHAS:
        ns, sse, nxt = _filter_ref(vals, forecast.ses_weights(a))
        if best is None or sse < best[1]:
            best = (a, sse, ns, nxt)
    assert got["best_alpha"] == pytest.approx(best[0])
    assert got["sse"] == pytest.approx(best[1], rel=1e-9)
    assert got["n_scored"] == best[2]
    assert got["forecast_next"] == pytest.approx(best[3], abs=1e-9)


def test_holt_beats_every_ses_alpha_on_a_ramp(spark):
    # a clean linear ramp is the planted optimum for the trend model:
    # Holt's filter carries the slope, every SES alpha lags behind
    vals = [10 * t for t in range(1, 40)]
    df = spark.createDataFrame(
        [("s", i, v) for i, v in enumerate(vals)],
        "g string, t long, v long")
    holt = forecast.holt_forecast(
        df, "g", "t", F.col("v")).collect()[0]
    ses = forecast.ses_best_forecast(
        df, "g", "t", F.col("v")).collect()[0]
    assert holt["sse"] < ses["sse"] / 5
    # and on the ramp the best SES alpha is the planted optimum: the
    # most-responsive grid point (0.9), since lag hurts most
    assert ses["best_alpha"] == pytest.approx(0.9)
    # Holt's next forecast continues the ramp closely
    assert holt["forecast_next"] == pytest.approx(400, rel=0.02)


def test_short_series_contracts(spark):
    # n <= W: no scored rows -> series emits NO row (documented)
    short = spark.createDataFrame(
        [("s", i, 10 + i) for i in range(10)],
        "g string, t long, v long")
    assert forecast.ses_best_forecast(
        short, "g", "t", F.col("v")).count() == 0
    # mixed: long series emits, short one does not
    rows = ([("long", i, 100 + 3 * i) for i in range(30)]
            + [("short", i, 50) for i in range(5)])
    df = spark.createDataFrame(rows, "g string, t long, v long")
    out = forecast.holt_forecast(df, "g", "t", F.col("v")).collect()
    assert [r["g"] for r in out] == ["long"]


def test_linear_filter_forecast_validates_models(spark):
    df = spark.createDataFrame([("s", 0, 1)],
                               "g string, t long, v long")
    with pytest.raises(ValueError):
        forecast.linear_filter_forecast(df, "g", "t", F.col("v"), [])
    with pytest.raises(ValueError):
        forecast.linear_filter_forecast(
            df, "g", "t", F.col("v"),
            [(0.1, [0.5, 0.5]), (0.2, [1.0])])


# ---------------------------------------------------------------------------
# ANSI degenerate-input regressions (used to crash, must land NULL)
# ---------------------------------------------------------------------------


def test_degenerate_inputs_land_null_not_divide_by_zero(spark):
    empty = spark.createDataFrame([], "x long, y long, z long")
    one = spark.createDataFrame([(1, 2, 3)], "x long, y long, z long")
    const = spark.createDataFrame([(1, 5, 2), (1, 7, 4), (1, 9, 8)],
                                  "x long, y long, z long")
    # partial correlation: empty -> one row of NULLs; constant x ->
    # NULL r's (zero variance)
    r = validation.partial_correlation(
        empty, F.col("x"), F.col("y"), F.col("z")).collect()[0]
    assert r["n"] == 0 and r["r_partial"] is None
    r = validation.partial_correlation(
        const, F.col("x"), F.col("y"), F.col("z")).collect()[0]
    assert r["r_xy"] is None and r["r_partial"] is None
    # grubbs: single row -> NULL g
    g = validation.grubbs_test(one.select("x"), F.col("x")).collect()
    assert g[0]["g"] is None
    # cronbach: single row -> NULL alpha (n < 2)
    a = evaluation.cronbach_alpha(
        one, {"x": F.col("x"), "y": F.col("y")}).collect()[0]
    assert a["n"] == 1 and a["alpha"] is None
