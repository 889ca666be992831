"""Cochran-Armitage trend, Fleiss' kappa, quadratic-weighted kappa,
mixture-conformance audit, two-sample Anderson-Darling, the
turning-point randomness test, difference-in-differences, the covariate
balance table, PACF (Durbin-Levinson) and the STL trend/seasonal
strength pair: each kernel call is compared with its registered DuckDB
oracle, alongside property pins on planted fixtures."""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))

from check_oracle import compare  # noqa: E402

from auto_ml_platform_with_timeseries_data_spark import registry  # noqa: E402
from auto_ml_platform_with_timeseries_data_spark.operators import (  # noqa: E402
    curation,
    evaluation,
    ts_features,
    validation,
)

_TABLES = ("lineitem", "documents", "events")


def _duck(sf_dir: str, sql: str):
    con = duckdb.connect()
    for t in _TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con.sql(sql).df()


def test_cochran_armitage_oracle_draft(spark, sf_dir):
    from auto_ml_platform_with_timeseries_data_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    got = validation.cochran_armitage(
        li.filter(F.col("l_quantity").isNotNull()),
        F.expr("cast(floor(l_quantity) as bigint) div 10"),
        (F.col("l_returnflag") == "R").cast("long")).toPandas()
    want = _duck(sf_dir, registry.oracles()["q282_cochran_armitage"])
    ok, msg = compare(got, want)
    assert ok, msg


def test_fleiss_kappa_oracle_draft(spark, sf_dir):
    from auto_ml_platform_with_timeseries_data_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    src = li.filter(F.col("l_linenumber") <= 3).select(
        F.col("l_orderkey").alias("item"),
        F.col("l_returnflag").alias("rating"))
    got = evaluation.fleiss_kappa(
        src, "item", F.col("rating"), nraters=3).toPandas()
    want = _duck(sf_dir, registry.oracles()["q285_fleiss_kappa"])
    ok, msg = compare(got, want)
    assert ok, msg


def test_weighted_kappa_oracle_draft(spark, sf_dir):
    from auto_ml_platform_with_timeseries_data_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").isNotNull()
        & F.col("l_extendedprice").isNotNull())
    got = evaluation.weighted_kappa(
        li, F.floor(F.col("l_quantity") / 10).cast("long"),
        F.least(F.floor(F.col("l_extendedprice") / 20000),
                F.lit(5.0)).cast("long")).toPandas()
    want = _duck(sf_dir, registry.oracles()["q286_weighted_kappa"])
    ok, msg = compare(got, want)
    assert ok, msg


_MIX_SPEC = {f"src{i}": 50_000 for i in range(16)}
_MIX_SPEC["src16"] = 200_000


def test_mixture_conformance_oracle_draft(spark, sf_dir):
    from auto_ml_platform_with_timeseries_data_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    got = curation.mixture_conformance(
        docs, "source", _MIX_SPEC).toPandas()
    want = _duck(sf_dir, registry.oracles()["q287_mixture_conformance"])
    ok, msg = compare(got, want)
    assert ok, msg


def test_anderson_darling_oracle_draft(spark, sf_dir):
    from auto_ml_platform_with_timeseries_data_spark.operators.curation import (
        hash_split,
    )
    from auto_ml_platform_with_timeseries_data_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    split = hash_split(docs, "doc_id")
    got = curation.anderson_darling_2s(
        split, "n_chars", "split", "train", "test").toPandas()
    want = _duck(sf_dir, registry.oracles()["q288_anderson_darling"])
    ok, msg = compare(got, want)
    assert ok, msg


def test_turning_points_oracle_draft(spark, sf_dir):
    from auto_ml_platform_with_timeseries_data_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull())
    got = ts_features.turning_points(
        ev, "user_id", "ts", "value", tie_break="event_id").toPandas()
    want = _duck(sf_dir, registry.oracles()["q289_turning_points"])
    ok, msg = compare(got, want)
    assert ok, msg


# ---------------------------------------------------------------------------
# Property pins
# ---------------------------------------------------------------------------

pytest.importorskip("hypothesis")
from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

from auto_ml_platform_with_timeseries_data_spark.session import get_spark  # noqa: E402

_PIN = lambda x: math.floor(x * 1e6 + 0.5) / 1e6  # noqa: E731


@settings(max_examples=8, deadline=None)
@given(rows=st.lists(st.tuples(
    st.integers(min_value=0, max_value=3),      # score
    st.booleans()),                             # success
    min_size=4, max_size=30))
def test_cochran_armitage_matches_python_reference(rows):
    spark = get_spark("tests", cores=8, shuffle_partitions=8)
    df = spark.createDataFrame(
        [(int(w), 1 if y else 0) for w, y in rows], "w long, y long")
    row = validation.cochran_armitage(
        df, F.col("w"), F.col("y")).collect()[0]
    n, x = len(rows), sum(1 for _, y in rows if y)
    ws = sorted({w for w, _ in rows})
    k = len(ws)
    assert (row["k"], row["n"], row["x"]) == (k, n, x)
    xw = sum(w for w, y in rows if y)
    nw = sum(w for w, _ in rows)
    nww = sum(w * w for w, _ in rows)
    pbar = x / n
    t = xw - pbar * nw
    var = pbar * (1 - pbar) * (nww - nw * nw / n)
    if k > 1 and 0 < x < n and var > 0:
        assert row["z"] == pytest.approx(
            _PIN(t / math.sqrt(var)), abs=2e-6)
    else:
        assert row["z"] is None


def test_fleiss_kappa_endpoints(spark):
    """Perfect agreement → kappa 1; one lone disagreeing triple drops
    it below 1 but keeps it positive."""
    rows = [(i, "A") for i in range(30) for _ in range(3)]
    df = spark.createDataFrame(rows, "item long, rating string")
    r = evaluation.fleiss_kappa(df, "item", F.col("rating"), 3)
    # all one category → P_e = 1 → NULL by contract
    assert r.collect()[0]["kappa"] is None
    rows2 = ([(i, "A") for i in range(20) for _ in range(3)]
             + [(i + 100, "B") for i in range(20) for _ in range(3)]
             + [(999, "A"), (999, "A"), (999, "B")])
    df2 = spark.createDataFrame(rows2, "item long, rating string")
    row = evaluation.fleiss_kappa(df2, "item", F.col("rating"), 3)\
        .collect()[0]
    assert row["n_items"] == 41 and row["k_categories"] == 2
    assert 0.8 < row["kappa"] < 1.0
    # items without exactly 3 ratings are dropped
    rows3 = rows2 + [(777, "A")]
    df3 = spark.createDataFrame(rows3, "item long, rating string")
    assert (evaluation.fleiss_kappa(df3, "item", F.col("rating"), 3)
            .collect()[0]["n_items"] == 41)


def test_weighted_kappa_identity_and_shift(spark):
    """Identical raters → kappa_w = 1; a constant off-by-one shift on
    a wide scale stays high (quadratic weights forgive near-misses)."""
    rows = [(i % 7, i % 7) for i in range(70)]
    df = spark.createDataFrame(rows, "a long, b long")
    assert evaluation.weighted_kappa(
        df, F.col("a"), F.col("b")).collect()[0]["kappa_w"] == 1.0
    rows2 = [(i % 7, min(i % 7 + 1, 6)) for i in range(70)]
    df2 = spark.createDataFrame(rows2, "a long, b long")
    kw = evaluation.weighted_kappa(
        df2, F.col("a"), F.col("b")).collect()[0]["kappa_w"]
    assert 0.7 < kw < 1.0


def test_mixture_conformance_exact_counts(spark):
    docs = spark.createDataFrame(
        [(i, "s0" if i < 60 else ("s1" if i < 90 else "zz"))
         for i in range(100)], "doc_id long, src string")
    out = {r["category"]: r for r in curation.mixture_conformance(
        docs, "src", {"s0": 500_000, "s1": 400_000, "s2": 100_000})
        .collect()}
    assert out["s0"]["n"] == 60 and out["s0"]["observed_ppm"] == 600_000
    assert out["s0"]["deviation_ppm"] == 100_000
    assert out["s1"]["deviation_ppm"] == -100_000
    assert out["s2"]["n"] == 0 and out["s2"]["observed_ppm"] == 0
    assert out["__other__"]["n"] == 10
    assert out["__other__"]["expected_ppm"] == 0
    assert out["__other__"]["chi2_term"] is None
    # chi2 term exact: (60-50)^2/50 = 2.0
    assert out["s0"]["chi2_term"] == 2.0


def test_anderson_darling_orders_with_ks(spark):
    """Identical distributions → A² near 0; separated ones → large."""
    same = [(float(v % 10), g) for v in range(200) for g in ("a", "b")]
    df = spark.createDataFrame(same, "v double, g string")
    r = curation.anderson_darling_2s(df, "v", "g", "a", "b").collect()[0]
    assert r["a2"] < 0.05
    sep = ([(float(v % 10), "a") for v in range(200)]
           + [(float(v % 10 + 100), "b") for v in range(200)])
    df2 = spark.createDataFrame(sep, "v double, g string")
    r2 = curation.anderson_darling_2s(
        df2, "v", "g", "a", "b").collect()[0]
    assert r2["a2"] > 50  # fully separated samples blow up the tails


def test_turning_points_known_sequences(spark):
    """A strictly monotone series has 0 turns; a perfect zigzag has
    n−2; both z-score away from 0 in opposite directions."""
    mono = [(0, t, float(t)) for t in range(20)]
    zig = [(1, t, float(t % 2)) for t in range(20)]
    df = spark.createDataFrame(mono + zig, "g int, ts long, v double")
    out = {r["g"]: r for r in ts_features.turning_points(
        df, "g", "ts", "v").collect()}
    assert out[0]["n_turns"] == 0 and out[0]["z"] < -3
    assert out[1]["n_turns"] == 18 and out[1]["z"] > 3
    assert out[0]["expected"] == _PIN(2 * 18 / 3)


def test_diff_in_diff_oracle_draft(spark, sf_dir):
    from auto_ml_platform_with_timeseries_data_spark.tables import load_table

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{sf_dir}/orders.parquet'")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull())
    got = validation.diff_in_diff(
        o, F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)),
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
        F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))\
        .toPandas()
    want = con.sql(registry.oracles()["q283_diff_in_diff"]).df()
    ok, msg = compare(got, want)
    assert ok, msg


def test_covariate_balance_oracle_draft(spark, sf_dir):
    from auto_ml_platform_with_timeseries_data_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    feats = {
        "quantity": F.floor(F.col("l_quantity")),
        "price_cents": F.floor(F.col("l_extendedprice") * 100
                               + F.lit(0.5)),
        "discount_pct": F.floor(F.col("l_discount") * 100 + F.lit(0.5)),
        "tax_pct": F.floor(F.col("l_tax") * 100 + F.lit(0.5)),
    }
    got = validation.covariate_balance(
        li, (F.col("l_returnflag") == "R").cast("int"), feats).toPandas()
    want = _duck(sf_dir, registry.oracles()["q284_covariate_balance"])
    ok, msg = compare(got, want)
    assert ok, msg


def test_diff_in_diff_planted_effect(spark):
    """Control rises by 10 pre→post; treated rises by 10 PLUS a
    planted +50 effect — DID must recover exactly 50."""
    rows = []
    i = 0
    for t in (0, 1):
        for p in (0, 1):
            base = 100 + 10 * p + 7 * t + (50 if (t and p) else 0)
            for j in range(40):
                rows.append((t, p, base + (j % 5)))
                i += 1
    df = spark.createDataFrame(rows, "t int, p int, v long")
    r = validation.diff_in_diff(
        df, F.col("v"), F.col("t"), F.col("p")).collect()[0]
    assert r["did"] == 50.0
    assert r["z"] > 100  # tiny within-cell variance
    assert (r["n_t0"], r["n_t1"], r["n_c0"], r["n_c1"]) == (40,) * 4


def test_covariate_balance_detects_planted_imbalance(spark):
    """One balanced and one shifted feature: the balanced one's |SMD|
    sits near 0, the shifted one's far above the 0.1 rule."""
    rows = [(i % 2, 100 + (i % 7), 100 + (i % 7) + 40 * (i % 2))
            for i in range(400)]
    df = spark.createDataFrame(rows, "a int, bal long, shifted long")
    out = {r["feature"]: r for r in validation.covariate_balance(
        df, F.col("a"),
        {"bal": F.col("bal"), "shifted": F.col("shifted")}).collect()}
    assert abs(out["bal"]["smd"]) < 0.05
    assert abs(out["shifted"]["smd"]) > 5
    # 400 rows split odd/even against mod-7 values: variances match to
    # ~0.4% (not exactly — 400/7 is not integral)
    assert out["bal"]["var_ratio"] == pytest.approx(1.0, abs=0.01)


def test_pacf_oracle_draft(spark, sf_dir):
    from auto_ml_platform_with_timeseries_data_spark.operators.timeseries import (
        _pacf_oracle,
        pacf,
    )
    from auto_ml_platform_with_timeseries_data_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    got = pacf(ev, "user_id", "ts", "value",
               tie_break="event_id").toPandas()
    want = _duck(sf_dir, _pacf_oracle())
    ok, msg = compare(got, want)
    assert ok, msg


def test_pacf_matches_python_durbin_levinson(spark):
    """The operator's unrolled Durbin-Levinson against a direct
    recursive python implementation over the same pinned ACF values,
    on a series with real autocorrelation structure."""
    import math

    vals = [math.sin(t / 3.0) + 0.3 * math.sin(t / 1.1) + t * 0.01
            for t in range(60)]
    rows = [(0, t, v) for t, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "g int, ts long, v double")

    from auto_ml_platform_with_timeseries_data_spark.operators.timeseries import (
        acf,
        pacf,
    )

    r = {row["lag"]: row["acf"]
         for row in acf(df, "g", "ts", "v", 5).collect()}
    got = {row["lag"]: row["pacf"]
           for row in pacf(df, "g", "ts", "v").collect()}
    # recursive DL on the pinned r values
    phi = {1: {1: r[1]}}
    for k in range(2, 6):
        num = r[k] - sum(phi[k - 1][j] * r[k - j]
                         for j in range(1, k))
        den = 1 - sum(phi[k - 1][j] * r[j] for j in range(1, k))
        phi[k] = {k: num / den}
        for j in range(1, k):
            phi[k][j] = phi[k - 1][j] - phi[k][k] * phi[k - 1][k - j]
    for k in range(1, 6):
        assert got[k] == pytest.approx(_PIN(phi[k][k]), abs=2e-6), k
    # AR-identification sanity: a smooth sinusoid mix is strongly
    # lag-1 autocorrelated (measured 0.8977 on this fixture)
    assert abs(got[1]) > 0.85


def test_pacf_constant_series_null_by_contract(spark):
    rows = [(0, t, 5.0) for t in range(20)]
    df = spark.createDataFrame(rows, "g int, ts long, v double")
    from auto_ml_platform_with_timeseries_data_spark.operators.timeseries import (
        pacf,
    )

    out = pacf(df, "g", "ts", "v").collect()
    assert len(out) == 5 and all(r["pacf"] is None for r in out)


def test_trend_seasonal_strength_oracle_draft(spark, sf_dir):
    from auto_ml_platform_with_timeseries_data_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    got = ts_features.trend_seasonal_strength(
        ev, "user_id", "ts", "value", F.hour("ts").cast("int"),
        tie_break="event_id").toPandas()
    want = _duck(sf_dir, registry.oracles()["q290_trend_strength"])
    ok, msg = compare(got, want)
    assert ok, msg


def test_trend_seasonal_strength_planted_components(spark):
    """A pure-trend series scores trend_strength ~1; a pure
    2-period oscillation scores seasonal_strength ~1 with season key
    t % 2; white-ish structure scores both low-ish."""
    import math

    rows = []
    for t in range(120):
        rows.append((0, t, t % 2, 10.0 * t))              # pure trend
        rows.append((1, t, t % 2, 5.0 if t % 2 else -5.0))  # pure season
        rows.append((2, t, t % 2, math.sin(t * 2.17) * 3))  # mush
    df = spark.createDataFrame(rows, "g int, ts long, s int, v double")
    out = {r["g"]: r for r in ts_features.trend_seasonal_strength(
        df, "g", "ts", "v", F.col("s")).collect()}
    assert out[0]["trend_strength"] > 0.99
    assert out[1]["seasonal_strength"] > 0.99
    assert out[2]["trend_strength"] < 0.9
