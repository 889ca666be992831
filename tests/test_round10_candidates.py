"""Threshold sweep, two-proportion z, Gini, Cramér's V, Kaplan-Meier and
the dominant ACF lag: each kernel call is compared with its registered
DuckDB oracle (Gini and the dominant lag with their own drafts, their
modules being outside the registered-oracle gate), plus property pins
against pure-python references."""

from __future__ import annotations

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
    evaluation,
    profile,
    ts_features,
    validation,
)
from auto_ml_platform_with_timeseries_data_spark.operators.curation import (  # noqa: E402
    cramers_v,
)

_TABLES = ("lineitem", "events", "documents")


def _duck(sf_dir: str, sql: str):
    con = duckdb.connect()
    for t in _TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con.sql(sql).df()


def test_threshold_sweep_oracle_draft(spark, sf_dir):
    from auto_ml_platform_with_timeseries_data_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    got = evaluation.threshold_sweep(
        li, F.col("l_discount"),
        (F.col("l_returnflag") == "R").cast("long")).toPandas()
    want = _duck(sf_dir, registry.oracles()["q261_threshold_sweep"])
    ok, msg = compare(got, want)
    assert ok, msg


def test_two_proportion_z_oracle_draft(spark, sf_dir):
    from auto_ml_platform_with_timeseries_data_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    got = validation.two_proportion_z(
        li, "l_linestatus", "O", "F",
        (F.col("l_returnflag") == "R").cast("long")).toPandas()
    want = _duck(sf_dir, registry.oracles()["q262_two_proportion_z"])
    ok, msg = compare(got, want)
    assert ok, msg


_GINI_ORACLE = """
    WITH s AS (
      SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
      FROM lineitem WHERE l_extendedprice IS NOT NULL
    ),
    f AS (SELECT v FROM s WHERE v >= 0),
    vv AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM f GROUP BY v),
    sp AS (
      SELECT v, c,
             CAST(coalesce(sum(c) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS BIGINT) AS st
      FROM vv
    ),
    agg AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(v * c) AS BIGINT) AS total,
             sum(CAST(v AS HUGEINT)
                 * (CAST(c AS HUGEINT) * st + (c * (c + 1)) // 2))
               AS rs
      FROM sp
    )
    SELECT n, total,
           CASE WHEN total > 0 THEN
             floor((2.0 * rs - CAST(n + 1 AS DOUBLE) * total)
                   / (CAST(n AS DOUBLE) * total) * 1e6 + 0.5) / 1e6
           END AS gini
    FROM agg
"""


def test_gini_oracle_draft(spark, sf_dir):
    from auto_ml_platform_with_timeseries_data_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    got = profile.gini_coefficient(
        li, F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")).toPandas()
    want = _duck(sf_dir, _GINI_ORACLE)
    ok, msg = compare(got, want)
    assert ok, msg


def test_cramers_v_oracle_draft(spark, sf_dir):
    from auto_ml_platform_with_timeseries_data_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    got = cramers_v(docs, "lang", "source").toPandas()
    want = _duck(sf_dir, registry.oracles()["q264_cramers_v"])
    ok, msg = compare(got, want)
    assert ok, msg


def test_kaplan_meier_oracle_draft(spark, sf_dir):
    from auto_ml_platform_with_timeseries_data_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()).select(
        (F.col("user_id") % 3).alias("cohort"), "value", "event_id")
    got = ts_features.kaplan_meier(
        ev, "cohort", F.floor(F.abs(F.col("value"))),
        (F.col("event_id") % 4 != 0).cast("int")).toPandas()
    want = _duck(sf_dir, registry.oracles()["q265_kaplan_meier"])
    ok, msg = compare(got, want)
    assert ok, msg


# ---------------------------------------------------------------------------
# Property pins: each candidate against a direct pure-python
# computation of its textbook definition (the test_round9_properties
# pattern — the oracle drafts above certify engine-vs-engine, these
# certify the math).
# ---------------------------------------------------------------------------

import math  # noqa: E402

pytest.importorskip("hypothesis")
from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

from auto_ml_platform_with_timeseries_data_spark.session import get_spark  # noqa: E402

_PIN = lambda x: math.floor(x * 1e6 + 0.5) / 1e6  # noqa: E731


@settings(max_examples=8, deadline=None)
@given(vals=st.lists(st.integers(min_value=0, max_value=10_000),
                     min_size=2, max_size=30))
def test_gini_matches_python_reference(vals):
    spark = get_spark("tests", cores=8, shuffle_partitions=8)
    df = spark.createDataFrame([(int(v),) for v in vals], "x long")
    row = profile.gini_coefficient(df, F.col("x")).collect()[0]
    n, total = len(vals), sum(vals)
    xs = sorted(vals)
    rs = sum((i + 1) * x for i, x in enumerate(xs))
    want = (_PIN((2.0 * rs - float(n + 1) * total) / (float(n) * total))
            if total > 0 else None)
    assert (row["n"], row["total"], row["gini"]) == (n, total, want)


@settings(max_examples=8, deadline=None)
@given(rows=st.lists(st.tuples(
    st.integers(min_value=1, max_value=8),      # duration
    st.booleans()),                             # event (vs censored)
    min_size=2, max_size=25))
def test_kaplan_meier_matches_python_reference(rows):
    spark = get_spark("tests", cores=8, shuffle_partitions=8)
    df = spark.createDataFrame(
        [(0, int(t), 1 if e else 0) for t, e in rows],
        "cohort int, t long, e int")
    got = {r["t"]: (r["n_risk"], r["d"], r["c"], r["survival"])
           for r in ts_features.kaplan_meier(
               df, "cohort", F.col("t"), F.col("e")).collect()}
    times = sorted({t for t, _ in rows})
    remaining = len(rows)
    log_q = 0
    dead = False
    for t in times:
        d = sum(1 for tt, e in rows if tt == t and e)
        c = sum(1 for tt, e in rows if tt == t and not e)
        n_risk = remaining
        if d < n_risk:
            log_q += math.floor(math.log(1.0 - d / n_risk) * 1e12)
        else:
            dead = True
        want = 0.0 if dead else _PIN(math.exp(log_q / 1e12))
        assert got[t] == (n_risk, d, c, want)
        remaining -= d + c


@settings(max_examples=8, deadline=None)
@given(rows=st.lists(st.tuples(
    st.integers(min_value=0, max_value=5),      # score (ties likely)
    st.booleans()),                             # label
    min_size=2, max_size=30))
def test_threshold_sweep_matches_python_reference(rows):
    spark = get_spark("tests", cores=8, shuffle_partitions=8)
    df = spark.createDataFrame(
        [(float(v), 1 if y else 0) for v, y in rows],
        "v double, y long")
    got = {r["threshold"]: (r["tp"], r["fp"], r["fn"], r["tn"],
                            r["f1"], r["youden_j"])
           for r in evaluation.threshold_sweep(
               df, F.col("v"), F.col("y")).collect()}
    p = sum(1 for _, y in rows if y)
    nn = len(rows) - p
    for th in sorted({v for v, _ in rows}):
        tp = sum(1 for v, y in rows if y and v >= th)
        fp = sum(1 for v, y in rows if not y and v >= th)
        fn, tn = p - tp, nn - fp
        f1 = _PIN(2 * tp / (2 * tp + fp + fn)) if 2 * tp + fp + fn else None
        j = _PIN(tp / p - fp / nn) if p and nn else None
        assert got[float(th)] == (tp, fp, fn, tn, f1, j)


def _dominant_lag_oracle(max_lag: int = 10) -> str:
    from auto_ml_platform_with_timeseries_data_spark.operators.timeseries import (
        _acf_oracle,
    )

    return f"""
    WITH acf_rows AS ({_acf_oracle()}),
    ranked AS (
      SELECT user_id, lag, acf,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY acf DESC NULLS LAST,
                                         lag ASC) AS rk
      FROM acf_rows WHERE lag >= 1
    )
    SELECT user_id,
           CAST(CASE WHEN acf IS NOT NULL THEN lag END AS INT)
             AS best_lag,
           acf AS best_acf
    FROM ranked WHERE rk = 1
    """


def test_dominant_acf_lag_oracle_draft(spark, sf_dir):
    from auto_ml_platform_with_timeseries_data_spark.operators.timeseries import (
        _ACF_LAGS,
        dominant_acf_lag,
    )
    from auto_ml_platform_with_timeseries_data_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    got = dominant_acf_lag(ev, "user_id", "ts", "value", _ACF_LAGS,
                           tie_break="event_id").toPandas()
    want = _duck(sf_dir, _dominant_lag_oracle(_ACF_LAGS))
    ok, msg = compare(got, want)
    assert ok, msg
