"""The rank/location-test tier (q275-q281): each kernel call is compared
with its registered DuckDB oracle (Benjamini-Hochberg with its own
draft, which differs from the registered one), alongside hypothesis
property pins against pure-python textbook computations."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))

from check_oracle import compare  # noqa: E402

from auto_ml_platform_with_timeseries_data_spark import registry  # noqa: E402
from auto_ml_platform_with_timeseries_data_spark.operators import (  # noqa: E402
    curation,
    validation,
)

_TABLES = ("lineitem", "orders", "documents")


def _duck(sf_dir: str, sql: str):
    con = duckdb.connect()
    for t in _TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con.sql(sql).df()


def test_mann_whitney_oracle_draft(spark, sf_dir):
    from auto_ml_platform_with_timeseries_data_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    got = validation.mann_whitney_u(
        li, "l_quantity", "l_linestatus", "O", "F").toPandas()
    want = _duck(sf_dir, registry.oracles()["q275_mann_whitney_u"])
    ok, msg = compare(got, want)
    assert ok, msg


def test_kruskal_wallis_oracle_draft(spark, sf_dir):
    from auto_ml_platform_with_timeseries_data_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    got = validation.kruskal_wallis(
        li, "l_quantity", "l_returnflag").toPandas()
    want = _duck(sf_dir, registry.oracles()["q276_kruskal_wallis"])
    ok, msg = compare(got, want)
    assert ok, msg


def test_anova_oracle_draft(spark, sf_dir):
    from auto_ml_platform_with_timeseries_data_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    got = validation.anova_f(
        li, F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long"), "l_returnflag").toPandas()
    want = _duck(sf_dir, registry.oracles()["q277_anova_f"])
    ok, msg = compare(got, want)
    assert ok, msg


def test_cohens_d_oracle_draft(spark, sf_dir):
    from auto_ml_platform_with_timeseries_data_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    got = validation.cohens_d(
        li, F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long"), "l_linestatus", "O", "F").toPandas()
    want = _duck(sf_dir, registry.oracles()["q278_cohens_d"])
    ok, msg = compare(got, want)
    assert ok, msg


def test_cramer_von_mises_oracle_draft(spark, sf_dir):
    from auto_ml_platform_with_timeseries_data_spark.operators.curation import (
        hash_split,
    )
    from auto_ml_platform_with_timeseries_data_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    split = hash_split(docs, "doc_id")
    got = curation.cramer_von_mises(
        split, "n_chars", "split", "train", "test").toPandas()
    want = _duck(sf_dir, registry.oracles()["q279_cramer_von_mises"])
    ok, msg = compare(got, want)
    assert ok, msg


def test_relabeling_oracle_draft(spark, sf_dir):
    from auto_ml_platform_with_timeseries_data_spark.tables import load_table

    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isin("O", "F"))
    got = validation.relabeling_test_mean(
        o, "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)),
        (F.col("o_orderstatus") == "O").cast("int")).toPandas()
    want = _duck(sf_dir, registry.oracles()["q280_relabeling_test"])
    ok, msg = compare(got, want)
    assert ok, msg


# ---------------------------------------------------------------------------
# Property pins against pure-python textbook computations
# ---------------------------------------------------------------------------

pytest.importorskip("hypothesis")
from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

from auto_ml_platform_with_timeseries_data_spark.session import get_spark  # noqa: E402

_PIN = lambda x: math.floor(x * 1e6 + 0.5) / 1e6  # noqa: E731


@settings(max_examples=8, deadline=None)
@given(rows=st.lists(st.tuples(
    st.integers(min_value=0, max_value=6),       # value (ties likely)
    st.booleans()),                              # group a
    min_size=4, max_size=30))
def test_mann_whitney_matches_python_reference(rows):
    spark = get_spark("tests", cores=8, shuffle_partitions=8)
    df = spark.createDataFrame(
        [(float(v), "O" if a else "F") for v, a in rows],
        "q double, g string")
    row = validation.mann_whitney_u(df, "q", "g", "O", "F").collect()[0]
    na = sum(1 for _, a in rows if a)
    nb = len(rows) - na
    n = na + nb
    # average ranks over the sorted pool
    vals = sorted(v for v, _ in rows)
    avg_rank = {}
    i = 0
    while i < len(vals):
        j = i
        while j < len(vals) and vals[j] == vals[i]:
            j += 1
        avg_rank[vals[i]] = (i + 1 + j) / 2
        i = j
    ra = sum(avg_rank[v] for v, a in rows if a)
    u_a = ra - na * (na + 1) / 2
    ties = sum((j - i) ** 3 - (j - i)
               for i, j in _tie_runs(vals))
    assert (row["n_a"], row["n_b"]) == (na, nb)
    if na > 0 and nb > 0:
        assert row["u_a"] == u_a
        var = na * nb / 12 * ((n + 1) - ties / (n * (n - 1)))
        if n > 1 and var > 0:
            z = (u_a - na * nb / 2) / math.sqrt(var)
            assert row["z"] == _PIN(z)
        else:
            assert row["z"] is None


def _tie_runs(sorted_vals):
    i = 0
    while i < len(sorted_vals):
        j = i
        while j < len(sorted_vals) and sorted_vals[j] == sorted_vals[i]:
            j += 1
        yield i, j
        i = j


@settings(max_examples=8, deadline=None)
@given(rows=st.lists(st.tuples(
    st.integers(min_value=0, max_value=5),       # value
    st.integers(min_value=0, max_value=2)),      # group 0/1/2
    min_size=5, max_size=30))
def test_kruskal_wallis_matches_python_reference(rows):
    spark = get_spark("tests", cores=8, shuffle_partitions=8)
    df = spark.createDataFrame(
        [(float(v), f"g{g}") for v, g in rows], "q double, g string")
    row = validation.kruskal_wallis(df, "q", "g").collect()[0]
    n = len(rows)
    vals = sorted(v for v, _ in rows)
    avg_rank = {}
    i = 0
    while i < len(vals):
        j = i
        while j < len(vals) and vals[j] == vals[i]:
            j += 1
        avg_rank[vals[i]] = (i + 1 + j) / 2
        i = j
    groups = sorted({g for _, g in rows})
    k = len(groups)
    assert (row["k"], row["n"]) == (k, n)
    rr = 0.0
    for g in groups:
        rg = sum(avg_rank[v] for v, gg in rows if gg == g)
        ng = sum(1 for _, gg in rows if gg == g)
        rr += rg * rg / ng
    h = 12 / (n * (n + 1)) * rr - 3 * (n + 1)
    ties = sum((j - i) ** 3 - (j - i) for i, j in _tie_runs(vals))
    corr = 1 - ties / (n ** 3 - n)
    if k > 1 and n > 1:
        assert row["h"] == pytest.approx(_PIN(h), abs=2e-6)
        if corr > 0:
            assert row["h_tie_corrected"] == pytest.approx(
                _PIN(h / corr), abs=2e-6)
    else:
        assert row["h"] is None


@settings(max_examples=8, deadline=None)
@given(rows=st.lists(st.tuples(
    st.integers(min_value=0, max_value=100),
    st.integers(min_value=0, max_value=2)),
    min_size=5, max_size=30))
def test_anova_matches_python_reference(rows):
    spark = get_spark("tests", cores=8, shuffle_partitions=8)
    df = spark.createDataFrame(
        [(int(v), f"g{g}") for v, g in rows], "v long, g string")
    row = validation.anova_f(df, F.col("v"), "g").collect()[0]
    groups = sorted({g for _, g in rows})
    k, n = len(groups), len(rows)
    assert (row["k"], row["n"]) == (k, n)
    assert (row["df_between"], row["df_within"]) == (k - 1, n - k)
    s = sum(v for v, _ in rows)
    ss = sum(v * v for v, _ in rows)
    sgn = sum(
        (sum(v for v, gg in rows if gg == g)) ** 2
        / sum(1 for _, gg in rows if gg == g)
        for g in groups)
    ssb = sgn - s * s / n
    ssw = ss - sgn
    if k > 1 and n > k and ssw > 0:
        f = (ssb / (k - 1)) / (ssw / (n - k))
        assert row["f"] == pytest.approx(_PIN(f), abs=2e-6)
    else:
        assert row["f"] is None


def test_cohens_d_planted_effect(spark):
    """Two unit-variance-ish groups exactly 2 apart → d ≈ 2/σ."""
    rows = ([(i, 100 + (i % 3), "O") for i in range(60)]
            + [(i + 100, 102 + (i % 3), "F") for i in range(60)])
    df = spark.createDataFrame(rows, "i long, v long, g string")
    row = validation.cohens_d(df, F.col("v"), "g", "O", "F").collect()[0]
    assert row["mean_a"] == 101.0 and row["mean_b"] == 103.0
    # per-group squared deviations = 20·(1+0+1) = 40 around mean 101;
    # pooled (n−1) variance = (40+40)/118
    assert row["d"] == pytest.approx(-2 / math.sqrt(80 / 118), abs=1e-6)


def test_cvm_zero_on_identical_distributions(spark):
    rows = [(float(v), g) for v in range(10) for g in ("a", "b")]
    df = spark.createDataFrame(rows, "v double, g string")
    row = curation.cramer_von_mises(df, "v", "g", "a", "b").collect()[0]
    assert row["cvm"] == 0.0
    # and a fully separated pair is near the criterion's maximum
    rows2 = ([(float(v), "a") for v in range(10)]
             + [(float(v + 100), "b") for v in range(10)])
    df2 = spark.createDataFrame(rows2, "v double, g string")
    row2 = curation.cramer_von_mises(df2, "v", "g", "a", "b").collect()[0]
    # sum over pooled points of gap² at full separation: 10 points at
    # gap 1 (between the samples) + ascending/descending ramps
    assert row2["cvm"] > 0.15


def test_relabeling_detects_planted_shift(spark):
    """A huge planted group gap must be more extreme than every random
    relabeling (p = 1/(P+1)); a null dataset must not be."""
    rows = ([(i, 1000, "O") for i in range(200)]
            + [(i + 1000, 2000, "F") for i in range(200)])
    df = spark.createDataFrame(rows, "i long, v long, g string")
    row = validation.relabeling_test_mean(
        df, "i", F.col("v"), (F.col("g") == "O").cast("int")).collect()[0]
    assert row["n_extreme"] == 0
    assert row["p_value"] == _PIN(1 / (validation._RELABEL_P + 1))
    # null: identical values → every relabeled diff ties the observed 0
    null_rows = [(i, 500, "O" if i % 2 else "F") for i in range(100)]
    df0 = spark.createDataFrame(null_rows, "i long, v long, g string")
    r0 = validation.relabeling_test_mean(
        df0, "i", F.col("v"), (F.col("g") == "O").cast("int")).collect()[0]
    assert r0["p_value"] == 1.0


def _bh_oracle() -> str:
    from auto_ml_platform_with_timeseries_data_spark.operators.ts_features import (
        _mk_oracle,
    )

    sf = validation._normal_sf_sql("abs(z)")
    return f"""
    WITH mk AS ({_mk_oracle()}),
    pv AS (
      SELECT user_id AS k,
             CASE WHEN z IS NOT NULL THEN
               floor(2 * {sf} * 1e9 + 0.5) / 1e9 END AS p_value
      FROM mk
    ),
    f AS (SELECT k, p_value FROM pv WHERE p_value IS NOT NULL),
    r AS (
      SELECT k, p_value,
             row_number() OVER (ORDER BY p_value ASC, k ASC) AS rk,
             count(*) OVER () AS m
      FROM f
    ),
    c AS (
      SELECT *, max(CASE WHEN p_value <= rk * 0.1 / m THEN rk
                         ELSE 0 END) OVER () AS cut
      FROM r
    )
    SELECT k AS user_id, p_value, CAST(rk AS BIGINT) AS rk,
           CAST(m AS BIGINT) AS m,
           CAST(rk <= cut AS INT) AS rejected
    FROM c
    """


def test_bh_fdr_oracle_draft(spark, sf_dir):
    """The composition the registered query would run: per-series
    Mann-Kendall z (q228) -> two-sided p via the A&S normal tail ->
    Benjamini-Hochberg at FDR 0.1."""
    from auto_ml_platform_with_timeseries_data_spark.operators.ts_features import (
        mann_kendall,
    )
    from auto_ml_platform_with_timeseries_data_spark.tables import load_table

    _TABLES_EV = ("lineitem", "orders", "documents", "events")
    con = duckdb.connect()
    for t in _TABLES_EV:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull())
    mk = mann_kendall(ev, "user_id").withColumnRenamed("__g", "user_id")
    p = mk.select(
        "user_id",
        F.when(F.col("z").isNotNull(),
               F.floor(2 * validation._normal_sf(F.abs(F.col("z")))
                       * 1e9 + F.lit(0.5)) / 1e9).alias("p_value"))
    got = validation.bh_fdr(p, "user_id", "p_value",
                            alpha=0.1).toPandas()
    want = con.sql(_bh_oracle()).df()
    ok, msg = compare(got, want)
    assert ok, msg


def test_normal_sf_matches_erfc_reference():
    """A&S 26.2.17 must track the exact normal tail within its
    documented 7.5e-8 bound (we pin p-values at 1e-9 AFTER doubling,
    so cross-engine identity comes from expression identity, and
    ACCURACY comes from this bound)."""
    import numpy as np

    from auto_ml_platform_with_timeseries_data_spark.session import (
        get_spark,
    )

    spark = get_spark("tests", cores=8, shuffle_partitions=8)
    zs = [0.0, 0.1, 0.5, 1.0, 1.645, 1.96, 2.5, 3.0, 4.0, 6.0]
    df = spark.createDataFrame([(z,) for z in zs], "z double")
    got = {r["z"]: r["sf"] for r in df.select(
        "z", validation._normal_sf(F.col("z")).alias("sf")).collect()}
    for z in zs:
        exact = 0.5 * math.erfc(z / math.sqrt(2))
        assert abs(got[z] - exact) < 7.5e-8, (z, got[z], exact)
    # numpy cross-check of one interior point
    assert got[1.96] == pytest.approx(0.024998, abs=1e-5)
    del np


@settings(max_examples=10, deadline=None)
@given(ps=st.lists(st.floats(min_value=0.0, max_value=1.0,
                             allow_nan=False, width=32),
                   min_size=1, max_size=25))
def test_bh_fdr_matches_python_reference(ps):
    spark = get_spark("tests", cores=8, shuffle_partitions=8)
    df = spark.createDataFrame(
        [(i, float(p)) for i, p in enumerate(ps)], "k long, p double")
    got = {r["k"]: (r["rk"], r["m"], r["rejected"]) for r in
           validation.bh_fdr(df, "k", "p", alpha=0.1).collect()}
    m = len(ps)
    order = sorted(range(m), key=lambda i: (ps[i], i))
    cut = 0
    for pos, i in enumerate(order, start=1):
        if ps[i] <= pos * 0.1 / m:
            cut = max(cut, pos)
    for pos, i in enumerate(order, start=1):
        assert got[i] == (pos, m, 1 if pos <= cut else 0)
