"""Planted-property tests for the round-14 additions: the HBOS
joint-vs-fallback branch equality (the VERDICT r13 watch item), the
SES/Holt/HW best-family argmax (q343, the A12/q166 planted-optimum
pattern), and the residual collective-anomaly detector (q344).
Cross-engine value checks live in scripts/check_oracle.py; these pin
SEMANTICS.
"""

from __future__ import annotations

from pyspark.sql import functions as F

# deterministic pseudo-noise (reviewable fixture, no RNG)
_NOISE = [3, -5, 2, 7, -4, -1, 6, -8, 5, 0, -3, 4, -6, 8, 1, -2]


# ---------------------------------------------------------------------------
# HBOS — the per-feature fallback branch must equal the joint branch


def test_hbos_joint_and_fallback_branches_agree(spark):
    """hbos_scores routes through ONE joint-bin aggregate when
    nbins^N <= joint_cells and through per-feature histograms past it.
    The two plans must emit IDENTICAL rows — same marginal counts,
    same scores — on the same (data, nbins, features).  Five features
    at nbins=10 put the DEFAULT past 10^5 > 10^4 cells (the previously
    unexercised route); joint_cells=10**9 forces the joint plan on the
    same input."""
    from auto_ml_platform_with_timeseries_data_spark.operators import (
        ts_features,
    )

    rows = [(i, i % 7, (i * 3) % 11, i % 2, (i * 5) % 13, i % 23)
            for i in range(200)]
    rows.append((999, 99, 99, 99, 99, 99))  # planted rare combination
    df = spark.createDataFrame(rows,
                               "id long, a long, b long, c long,"
                               " d long, e long")
    feats = {k: F.col(k) for k in ("a", "b", "c", "d", "e")}

    def key(r):
        return tuple(r[c] for c in sorted(r.asDict()))

    fallback = sorted(map(key, ts_features.hbos_scores(
        df, "id", feats).collect()))          # default: 10^5 > 10^4
    joint = sorted(map(key, ts_features.hbos_scores(
        df, "id", feats, joint_cells=10**9).collect()))
    assert fallback == joint
    assert len(fallback) == 201
    # and the planted rare row is strictly the highest scorer on both
    top = max(ts_features.hbos_scores(df, "id", feats).collect(),
              key=lambda r: r["hbos"])
    assert top["id"] == 999


# ---------------------------------------------------------------------------
# q343 — best forecast family (planted optimum, the A12/q166 pattern)


def test_best_family_planted_flat_trend_seasonal(spark):
    """Three planted series — flat+noise, linear ramp, strong period-8
    season — must pick ses/holt/hw respectively.  Noise cycles with
    period 7 (coprime to the HW period 8) so seasonal phase means
    cannot fit it."""
    from auto_ml_platform_with_timeseries_data_spark.operators import (
        forecast,
    )

    noise7 = [2, -3, 1, 3, -2, -1, 0]
    n = 160
    rows = []
    for i in range(n):
        rows.append(("flat", i, 1000 + noise7[i % 7]))
        rows.append(("trend", i, 1000 + 9 * i + noise7[i % 7]))
        rows.append(("season", i,
                     1000 + 60 * ((i % 8) - 4) + noise7[i % 7]))
    df = spark.createDataFrame(rows, "g string, t long, v long")
    got = {r["g"]: r for r in forecast.best_family_forecast(
        df, "g", "t", F.col("v")).collect()}
    assert got["flat"]["family"] == "ses"
    assert got["trend"]["family"] == "holt"
    assert got["season"]["family"] == "hw"
    # every series backtests over the same scored-row count (the
    # shared-window fairness contract)
    assert len({r["n_scored"] for r in got.values()}) == 1


# ---------------------------------------------------------------------------
# q344 — residual collective-anomaly windows (planted burst)


def test_residual_anomaly_flags_planted_burst_only(spark):
    """A strong period-8 seasonal series with a +400 burst on
    i ∈ [80, 88) must flag windows ending in/near the burst and
    nothing elsewhere; the identical series WITHOUT the burst flags
    nothing.  (The decomposition's MA trend absorbs slow level
    changes, so only the sustained residual run trips the
    S*n > k*W*T cross-multiply.)"""
    from auto_ml_platform_with_timeseries_data_spark.operators import (
        ts_features,
    )

    noise7 = [2, -3, 1, 3, -2, -1, 0]
    n = 160

    def series(burst):
        rows = []
        for i in range(n):
            v = 1000 + 50 * ((i % 8) - 4) + noise7[i % 7]
            if burst and 80 <= i < 88:
                v += 400
            rows.append(("s", i, v))
        return spark.createDataFrame(rows, "g string, t long, v long")

    flagged = ts_features.residual_anomaly_windows(
        series(True), "g", "t", F.col("v")).collect()
    assert flagged, "the planted burst must be flagged"
    # q340's i is 1-based over the full series; the burst occupies
    # i ∈ [81, 88].  The MA trend bleeds ±4 rows and the window looks
    # back 7, so flagged ends live in a bounded halo of the burst —
    # never far from it.
    assert all(75 <= r["i_end"] <= 100 for r in flagged)
    clean = ts_features.residual_anomaly_windows(
        series(False), "g", "t", F.col("v")).collect()
    assert clean == []


# ---------------------------------------------------------------------------
# q346 — fleet triage (planted ranking)


def test_fleet_triage_ranks_planted_failures(spark):
    """Three planted series: 'burst' carries a sustained +400 run,
    'spike' one extreme point, 'clean' nothing.  The triage rank must
    order them burst < spike < clean with the evidence columns
    explaining why.  (A sufficiently extreme single point also trips
    some residual windows — the detectors overlap by design; the rank
    still separates the sustained run from the spike because the run
    flags more windows.)"""
    from auto_ml_platform_with_timeseries_data_spark.operators import (
        ts_features,
    )

    noise7 = [2, -3, 1, 3, -2, -1, 0]
    n = 160
    rows = []
    for i in range(n):
        base = 1000 + 50 * ((i % 8) - 4) + noise7[i % 7]
        rows.append(("burst", i, i,
                     float(base + (400 if 80 <= i < 88 else 0)) / 100.0))
        rows.append(("spike", i, 1000 + i,
                     float(base + (5000 if i == 40 else 0)) / 100.0))
        rows.append(("clean", i, 2000 + i, float(base) / 100.0))
    df = spark.createDataFrame(rows,
                               "g string, t long, eid long, val double")
    got = {r["g"]: r for r in ts_features.fleet_triage(
        df, "g", "t", "eid", "val",
        F.floor(F.col("val") * 100 + F.lit(0.5))).collect()}
    assert got["burst"]["triage_rank"] == 1
    assert got["burst"]["n_collective"] > got["spike"]["n_collective"]
    assert got["spike"]["triage_rank"] == 2
    assert got["spike"]["n_point"] > 0
    assert got["clean"]["triage_rank"] == 3
    assert got["clean"]["n_collective"] == 0 and got["clean"]["n_point"] == 0


# ---------------------------------------------------------------------------
# q348 — forecast combination vs selection


def test_combination_weights_are_member_mean():
    from auto_ml_platform_with_timeseries_data_spark.operators import (
        forecast,
    )

    models = dict(forecast._combination_models())
    members = [models[1.0], models[2.0], models[3.0]]
    combo = models[4.0]
    for j, c in enumerate(combo):
        assert c == sum(m[j] for m in members) / 3.0


def test_combination_matches_python_reference(spark):
    """The engine's (sse_best, sse_combo, combo_wins) row equals a
    pure-Python walk-forward over the same quantized arithmetic on a
    planted mixed trend+season series."""
    import math

    from auto_ml_platform_with_timeseries_data_spark.operators import (
        forecast,
    )

    noise7 = [2, -3, 1, 3, -2, -1, 0]
    vals = [1000 + 3 * i + 40 * ((i % 8) - 4) + noise7[i % 7]
            for i in range(90)]
    W = forecast._BF_WINDOW

    def sse_fn(cs):
        tot = 0
        for t in range(W, len(vals)):
            f = sum(int(math.floor((c * vals[t - 1 - j]) * 1e2))
                    for j, c in enumerate(cs))
            e = vals[t] * 100 - f
            tot += e * e
        return tot / 1e4

    models = forecast._combination_models()
    sses = {code: sse_fn(cs) for code, cs in models}
    best_code = min((c for c in sses if c < 4.0), key=lambda c: sses[c])
    df = spark.createDataFrame(
        [("s", i, v) for i, v in enumerate(vals)],
        "g string, t long, v long")
    row = forecast.forecast_combination(
        df, "g", "t", F.col("v")).collect()[0]
    assert row["sse_best"] == sses[best_code]
    assert row["sse_combo"] == sses[4.0]
    assert row["combo_wins"] == (sses[4.0] < sses[best_code])
    assert row["family_best"] == {1.0: "ses", 2.0: "holt",
                                  3.0: "hw"}[best_code]
