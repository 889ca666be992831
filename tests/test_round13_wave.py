"""Planted-property tests for the round-13 additions: the seasonal
Holt–Winters forecast (q328) and the dedup-before-ANN fused pipeline.
Cross-engine value checks live in scripts/check_oracle.py; these pin
SEMANTICS — the companion-matrix unroll against the textbook HW
recursion, and a planted seasonal optimum the SES/Holt members must
lose to.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from auto_ml_platform_with_timeseries_data_spark.operators import forecast

# deterministic pseudo-noise (reviewable fixture, no RNG)
_NOISE = [3, -5, 2, 7, -4, -1, 6, -8, 5, 0, -3, 4, -6, 8, 1, -2]


def _seasonal_series(n: int, period: int = 8, amp: int = 50,
                     base: int = 1000) -> list[int]:
    return [base + amp * ((i % period) - period // 2)
            + _NOISE[i % len(_NOISE)] for i in range(n)]


def _frame(spark, vals):
    return spark.createDataFrame(
        [("s", i, int(v)) for i, v in enumerate(vals)],
        "g string, t long, v long")


def test_hw_unroll_matches_textbook_recursion():
    """The companion-matrix filter IS additive Holt–Winters: running
    the textbook (l, seasonal-ring) recursion from a zero state over
    300 observations agrees with the UNTRUNCATED unrolled filter to
    float round-off."""
    a, g, m = forecast._HW_ALPHA, forecast._HW_GAMMA, forecast._HW_PERIOD
    y = _seasonal_series(300)
    lvl = 0.0
    ring = [0.0] * m
    for t, yt in enumerate(y):
        sm = ring[t % m]
        lvl = (1 - a) * lvl + a * yt - a * sm
        ring[t % m] = g * (yt - lvl) + (1 - g) * sm
    fc_rec = lvl + ring[len(y) % m]
    # untruncated, unnormalized coefficients from the same machinery
    cs = holt_winters_raw = forecast.holt_winters_weights(
        a, g, m, window=len(y))
    # holt_winters_weights renormalizes; undo it for the comparison
    dim = m + 1
    mat = [[0.0] * dim for _ in range(dim)]
    mat[0][0] = 1 - a
    mat[0][m] = -a
    mat[1][0] = -g * (1 - a)
    mat[1][m] = g * a + 1 - g
    for k in range(2, dim):
        mat[k][k - 1] = 1.0
    v = [0.0] * dim
    v[0] = a
    v[1] = g * (1 - a)
    raw = []
    for _ in range(len(y)):
        raw.append(v[0] + v[m])
        v = [sum(mat[r][c] * v[c] for c in range(dim))
             for r in range(dim)]
    fc_unr = sum(c * yy for c, yy in zip(raw, reversed(y)))
    assert abs(fc_rec - fc_unr) < 1e-9 * max(1.0, abs(fc_rec))
    assert abs(sum(holt_winters_raw) - 1.0) < 1e-12  # unit-sum contract
    del cs


def test_hw_weights_unit_sum_and_seasonal_structure():
    w = forecast.holt_winters_weights()
    assert len(w) == forecast._HW_W
    assert abs(sum(w) - 1.0) < 1e-12
    # seasonal spikes: the lag-8 family (j = 8, 16, ...) must carry
    # more weight than its non-seasonal neighbors at j >= period
    m = forecast._HW_PERIOD
    for j in (m, 2 * m, 3 * m):
        assert w[j - 1] > w[j], (j, w[j - 1], w[j])


def test_hw_beats_ses_and_holt_on_planted_seasonal(spark):
    """A strongly period-8 series: the seasonal member's walk-forward
    SSE must beat every SES alpha AND Holt — the planted optimum that
    certifies q328 actually uses the season."""
    y = _seasonal_series(160)
    df = _frame(spark, y)
    hw = forecast.holt_winters_forecast(
        df, "g", "t", F.col("v")).collect()[0]
    ses = forecast.ses_best_forecast(
        df, "g", "t", F.col("v")).collect()[0]
    holt = forecast.holt_forecast(
        df, "g", "t", F.col("v")).collect()[0]
    assert hw["sse"] < ses["sse"] * 0.5
    assert hw["sse"] < holt["sse"] * 0.5
    # and the forecast lands near the true next value
    truth = _seasonal_series(161)[-1]
    assert abs(hw["forecast_next"] - truth) < 30


def test_hw_short_series_contract(spark):
    # series shorter than W+1 has no scored row -> no output row
    df = _frame(spark, _seasonal_series(forecast._HW_W))
    assert forecast.holt_winters_forecast(
        df, "g", "t", F.col("v")).count() == 0


# ---------------------------------------------------------------------------
# top-m cap on the perceptual delta screens


def test_hamming_delta_top_m_bounds_output_and_keeps_recall(spark):
    """Clone-heavy staging: 4 delta items, each with 20 identical
    corpus matches.  Uncapped emits the full 80-pair blowup (the 100x
    ladder's output-bound shape); top_m=3 emits exactly 3 per delta
    row, closest-first with deterministic min-id ties, and every delta
    row that HAS a match still reports one."""
    from auto_ml_platform_with_timeseries_data_spark.operators.dedup import (
        hamming_band_pairs_delta,
    )

    sig = 0x0123456789ABCDEF
    corpus = spark.createDataFrame(
        [(i, sig) for i in range(20)]
        + [(1000, sig ^ 0b11)],       # one 2-bit near-match
        "id long, fp long")
    delta = spark.createDataFrame(
        [(2000 + j, sig if j < 3 else sig ^ 0b1) for j in range(4)],
        "id long, fp long")
    uncapped = hamming_band_pairs_delta(
        delta, corpus, "id", [("fp", 64)], max_hamming=3)
    assert uncapped.count() == 4 * 21
    capped = hamming_band_pairs_delta(
        delta, corpus, "id", [("fp", 64)], max_hamming=3, top_m=3)
    rows = capped.collect()
    by_delta = {}
    for r in rows:
        by_delta.setdefault(r["delta_id"], []).append(r)
    assert set(by_delta) == {2000, 2001, 2002, 2003}  # recall kept
    for did, rs in by_delta.items():
        assert len(rs) == 3
        # closest-first, min-id tiebreak: exact matches (hamming 0 for
        # j<3) come from corpus ids 0,1,2
        got = sorted((r["hamming"], r["corpus_id"]) for r in rs)
        if did < 2003:
            assert got == [(0, 0), (0, 1), (0, 2)]
        else:
            assert got == [(1, 0), (1, 1), (1, 2)]


# ---------------------------------------------------------------------------
# q331 — Wilcoxon signed rank


def test_wilcoxon_matches_exact_replication(spark):
    """Tied, signed fixture replicated with exact doubled-rank
    integers in Python — engine w_plus and z must match exactly."""
    import math

    from auto_ml_platform_with_timeseries_data_spark.operators import (
        validation,
    )

    d = [5, -3, 3, 8, -5, 2, 11, -2, 2, 7, -7, 4, 9, -1, 6, 1]
    # replication: drop zeros (none), avg ranks on |d| (doubled)
    n = len(d)
    by_abs = sorted(range(n), key=lambda i: abs(d[i]))
    r2 = [0] * n
    i = 0
    rank = 1
    while i < n:
        j = i
        while j < n and abs(d[by_abs[j]]) == abs(d[by_abs[i]]):
            j += 1
        c = j - i
        for k in range(i, j):
            r2[by_abs[k]] = 2 * rank + c - 1
        rank += c
        i = j
    w2p = sum(r2[i] for i in range(n) if d[i] > 0)
    tcorr = 0
    vals = {}
    for x in d:
        vals[abs(x)] = vals.get(abs(x), 0) + 1
    tcorr = sum(c ** 3 - c for c in vals.values())
    var2 = (2 * n * (n + 1) * (2 * n + 1) - tcorr) / 12.0
    z = math.floor((w2p - n * (n + 1) / 2.0) / math.sqrt(var2)
                   * 1e6 + 0.5) / 1e6
    df = spark.createDataFrame(
        [("u", 100 + x, 100) for x in d], "g string, x long, y long")
    r = validation.wilcoxon_signed_rank(
        df, "g", F.col("x"), F.col("y")).collect()[0]
    assert r["n"] == n
    assert r["w_plus"] == w2p / 2.0
    assert r["z"] == z


def test_wilcoxon_drops_zero_differences_and_detects_shift(spark):
    from auto_ml_platform_with_timeseries_data_spark.operators import (
        validation,
    )

    # 12 positive shifts + 3 exact ties (dropped) -> n = 12, strong
    # positive z; a symmetric fixture must land near zero
    rows = [("s", 10 + i, 10) for i in range(1, 13)]
    rows += [("s", 10, 10)] * 3
    df = spark.createDataFrame(rows, "g string, x long, y long")
    r = validation.wilcoxon_signed_rank(
        df, "g", F.col("x"), F.col("y")).collect()[0]
    assert r["n"] == 12
    assert r["z"] is not None and r["z"] > 3.0
    sym = spark.createDataFrame(
        [("s", 10 + v, 10) for v in
         (1, -1, 2, -2, 3, -3, 4, -4, 5, -5, 6, -6)],
        "g string, x long, y long")
    r2 = validation.wilcoxon_signed_rank(
        sym, "g", F.col("x"), F.col("y")).collect()[0]
    assert abs(r2["z"]) < 0.1


# ---------------------------------------------------------------------------
# q332 — damped Holt


def test_damped_holt_phi1_is_classic_holt():
    w_plain = forecast.holt_weights(0.5, 0.3)
    w_phi1 = forecast.holt_weights(0.5, 0.3, phi=1.0)
    assert w_plain == w_phi1  # bit-identical, not approximately


def test_damping_wins_on_transient_trends(spark):
    """A series of short up-then-flat ramps (trend keeps dying):
    damped Holt's walk-forward SSE must beat classic Holt, which
    over-extrapolates every ramp."""
    vals = []
    lvl = 1000
    for block in range(20):
        for i in range(8):
            vals.append(lvl + i * 40)   # ramp
        lvl += 40                        # then the level sticks
        for _ in range(8):
            vals.append(lvl + 280)
    df = _frame(spark, vals)
    damped = forecast.damped_holt_forecast(
        df, "g", "t", F.col("v")).collect()[0]
    classic = forecast.holt_forecast(
        df, "g", "t", F.col("v")).collect()[0]
    assert damped["sse"] < classic["sse"]


# ---------------------------------------------------------------------------
# q333 — seasonal MASE


def test_seasonal_mase_uses_seasonal_naive_denominator(spark):
    """On a pure period-8 cycle the seasonal-naive denominator is the
    noise floor: mae_naive under the lag-8 convention must be far
    below the lag-1 convention's, and the reported mase must equal
    mae_model / mae_naive recomputed from the emitted columns."""
    y = _seasonal_series(160)
    df = _frame(spark, y)
    r8 = forecast.mase_backtest(
        df, "g", "t", F.col("v"),
        coeffs=forecast.holt_winters_weights(), naive_lag=8).collect()[0]
    r1 = forecast.mase_backtest(df, "g", "t", F.col("v")).collect()[0]
    assert r8["mae_naive"] < r1["mae_naive"] / 5
    # mase is pinned from the EXACT error sums, not from the pinned
    # mae columns, so recomputing from the emitted maes can differ by
    # a few 1e-6 pin units — the same contract as q312
    want = r8["mae_model"] / r8["mae_naive"]
    assert abs(r8["mase"] - want) < 2e-5


# ---------------------------------------------------------------------------
# q334 — conformal forecast interval


def test_conformal_pi_matches_exact_order_statistic(spark):
    """The interval half-width must be EXACTLY the ceil(0.9 n)-th
    smallest |walk-forward error| — replicated from the engine's own
    scored errors (pull them via the mase machinery's identical lag
    frame is overkill; recompute in Python with the same quantized
    filter)."""
    import math

    vals = _seasonal_series(120)
    w = forecast._FC_W
    cs = forecast.ses_weights(forecast._PI_ALPHA, w)
    errs = []
    for t in range(w, len(vals)):
        filt = sum(math.floor(c * vals[t - 1 - j] * 1e2)
                   for j, c in enumerate(cs))
        errs.append(abs(vals[t] * 100 - filt))
    errs.sort()
    n = len(errs)
    q90 = errs[math.floor((9.0 * n + 9) / 10.0) - 1]
    fc = sum(math.floor(c * vals[len(vals) - 1 - j] * 1e6)
             for j, c in enumerate(cs))
    pin = lambda x: math.floor(x * 1e6 + 0.5) / 1e6  # noqa: E731
    df = _frame(spark, vals)
    r = forecast.conformal_forecast_interval(
        df, "g", "t", F.col("v")).collect()[0]
    assert r["n_scored"] == n
    assert r["q90_abs_err"] == pin(q90 / 1e4)
    assert r["forecast_next"] == pin(fc / 1e6)
    assert r["pi_lo"] == pin(fc / 1e6 - q90 / 1e4)
    assert r["pi_hi"] == pin(fc / 1e6 + q90 / 1e4)
    # the interval actually brackets ~90% of one-step outcomes on the
    # calibration window itself (sanity, not the conformal guarantee)
    inside = sum(1 for e in errs if e <= q90)
    assert inside >= 0.9 * n


# ---------------------------------------------------------------------------
# q335 — detected-period seasonal naive


def test_snaive_detects_planted_period_and_forecasts_with_it(spark):
    """Strong period-4 cycle: detection must pick m=4 (or 8, its
    harmonic — the ACF argmax convention picks the HIGHEST acf, which
    for a pure cycle is the fundamental at lag 4), the backtest MAE
    must be near the noise floor, and the forecast must equal the
    value one detected-period back."""
    y = [1000 + 80 * ((i % 4) - 2) + _NOISE[i % len(_NOISE)]
         for i in range(120)]
    df = _frame(spark, y)
    r = forecast.seasonal_naive_detected(
        df, "g", "t", "v", F.col("v")).collect()[0]
    assert r["period"] in (4, 8)
    assert r["n"] == 120
    assert r["n_scored"] == 120 - r["period"]
    # forecast = v_{n+1-m} in value/100 units (the cents convention is
    # the caller's; here value IS the integer series)
    assert r["forecast_next"] == y[120 - r["period"]] / 100.0
    # seasonal-naive errors on a period-m cycle cancel the seasonal
    # term entirely: MAE is pure noise-difference scale
    assert r["mae_snaive"] < 0.2


def test_snaive_constant_series_emits_no_row(spark):
    df = _frame(spark, [7] * 60)
    assert forecast.seasonal_naive_detected(
        df, "g", "t", "v", F.col("v")).count() == 0


# ---------------------------------------------------------------------------
# q336 — RAG chunking


def test_chunking_covers_every_token_with_exact_overlap(spark):
    from auto_ml_platform_with_timeseries_data_spark.operators import text

    words = [f"w{i}" for i in range(150)]
    df = spark.createDataFrame([(1, " ".join(words))],
                               "doc_id long, text string")
    rows = sorted(text.chunk_documents_text(df, "doc_id", "text").collect(),
                  key=lambda r: r["chunk_idx"])
    # stride 48, chunk 64 over 150 tokens -> starts 0, 48, 96 and the
    # final short chunk at 144
    assert [r["start_tok"] for r in rows] == [0, 48, 96]
    assert [r["n_tok"] for r in rows] == [64, 64, 54]
    # consecutive chunks share exactly `overlap` tokens
    for a, b in zip(rows, rows[1:]):
        ta, tb = a["chunk_text"].split(" "), b["chunk_text"].split(" ")
        assert ta[-16:] == tb[:16]
    # every token appears in at least one chunk, in order
    seen = []
    for r in rows:
        toks = r["chunk_text"].split(" ")
        seen.extend(toks[16:] if seen else toks)
    assert seen == words
    # a short doc yields exactly one chunk, itself
    short = spark.createDataFrame([(2, "a b c")],
                                  "doc_id long, text string")
    r = text.chunk_documents_text(short, "doc_id", "text").collect()
    assert len(r) == 1 and r[0]["chunk_text"] == "a b c"


def test_chunking_rejects_bad_overlap(spark):
    import pytest as _pytest

    from auto_ml_platform_with_timeseries_data_spark.operators import text

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        text.chunk_documents_text(df, "doc_id", "text",
                                  chunk_tokens=8, overlap=8)


# ---------------------------------------------------------------------------
# q338 — HBOS


def test_hbos_scores_rare_combination_highest(spark):
    import math

    from auto_ml_platform_with_timeseries_data_spark.operators import (
        ts_features,
    )

    # 90 rows in the modal bins, 10 in a second bin pair, 1 planted
    # outlier alone in its bins: outlier score = ln(90/1)+ln(90/1)
    rows = [(i, 10, 10) for i in range(90)]
    rows += [(100 + i, 55, 55) for i in range(10)]
    rows.append((999, 99, 99))
    df = spark.createDataFrame(rows, "id long, a long, b long")
    out = {r["id"]: r for r in ts_features.hbos_scores(
        df, "id", {"a": F.col("a"), "b": F.col("b")}).collect()}
    pin = lambda x: math.floor(x * 1e6 + 0.5) / 1e6  # noqa: E731
    assert out[0]["hbos"] == 0.0                       # modal bins
    assert out[999]["hbos"] == pin(2 * math.log(90.0))  # the outlier
    assert out[100]["hbos"] == pin(2 * math.log(9.0))   # the 10-row bin
    # monotone: rarer combination scores strictly higher
    assert out[999]["hbos"] > out[100]["hbos"] > out[0]["hbos"]


def test_hbos_constant_feature_contributes_zero(spark):
    from auto_ml_platform_with_timeseries_data_spark.operators import (
        ts_features,
    )

    df = spark.createDataFrame([(i, 5, i) for i in range(20)],
                               "id long, c long, x long")
    out = ts_features.hbos_scores(df, "id",
                                  {"c": F.col("c"), "x": F.col("x")})
    rows = out.collect()
    # feature c has zero range -> bin 0 for all, term 0; x is uniform
    # over bins (2 per bin) -> every row scores exactly 0
    assert all(r["bin_c"] == 0 for r in rows)
    assert all(r["hbos"] == 0.0 for r in rows)


# ---------------------------------------------------------------------------
# q339 — robust scaler


def test_robust_scale_matches_exact_order_statistics(spark):
    from auto_ml_platform_with_timeseries_data_spark.operators import (
        scaling,
    )

    vals = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8]  # n = 12
    df = spark.createDataFrame(
        [("u", i, v) for i, v in enumerate(vals)],
        "g string, id long, v long")
    rows = {r["id"]: r for r in scaling.robust_scale(
        df, "g", "id", F.col("v")).collect()}
    s = sorted(vals)
    q1, med, q3 = s[3 - 1], s[6 - 1], s[9 - 1]  # ceil(p*12) ranks
    assert rows[0]["median"] == med
    assert rows[0]["iqr"] == q3 - q1
    import math
    for i, v in enumerate(vals):
        want = math.floor((v - med) / (q3 - q1) * 1e6 + 0.5) / 1e6
        assert rows[i]["scaled"] == want


def test_robust_scale_zero_iqr_contract(spark):
    from auto_ml_platform_with_timeseries_data_spark.operators import (
        scaling,
    )

    df = spark.createDataFrame(
        [("u", i, 7) for i in range(10)] + [("u", 99, 1000)],
        "g string, id long, v long")
    rows = scaling.robust_scale(df, "g", "id", F.col("v")).collect()
    assert len(rows) == 11
    assert all(r["scaled"] is None for r in rows)  # iqr = 0


# ---------------------------------------------------------------------------
# q340 — seasonal decomposition


def test_decomposition_recovers_planted_cycle(spark):
    from auto_ml_platform_with_timeseries_data_spark.operators import (
        ts_features,
    )

    # pure level + period-8 cycle, NO noise: on interior rows the 2x8
    # MA recovers the level exactly, phase means recover the cycle,
    # remainder is ~0
    amp = [40, -10, 25, -40, 10, -25, 35, -35]  # sums to 0
    y = [1000 + amp[i % 8] for i in range(80)]
    df = _frame(spark, y)
    rows = {r["i"]: r for r in ts_features.seasonal_decompose_ma(
        df, "g", "t", F.col("v")).collect()}
    assert len(rows) == 80
    for i in range(5, 77):
        r = rows[i]
        assert abs(r["trend"] - 1000.0) < 1e-6, (i, r)
        assert abs(r["seasonal"] - amp[(i - 1) % 8]) < 1e-3
        assert abs(r["remainder"]) < 1e-3
    # edges: no full window -> trend and remainder NULL, seasonal set
    assert rows[1]["trend"] is None and rows[1]["remainder"] is None
    assert rows[80]["trend"] is None


def test_decomposition_identity_on_noisy_series(spark):
    from auto_ml_platform_with_timeseries_data_spark.operators import (
        ts_features,
    )

    y = _seasonal_series(96)
    df = _frame(spark, y)
    for r in ts_features.seasonal_decompose_ma(
            df, "g", "t", F.col("v")).collect():
        if r["trend"] is not None and r["remainder"] is not None:
            # v = trend + seasonal + remainder to pin precision
            assert abs(r["cents"] - (r["trend"] + r["seasonal"]
                                     + r["remainder"])) < 2e-6
