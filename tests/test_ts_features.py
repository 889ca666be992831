"""Per-series statistics of operators/ts_features.py: NULL handling,
the zero-row contract of an all-censored log-rank test, and the
disjoint pairs of the Cox-Stuart trend test."""

from __future__ import annotations

from pyspark.sql import functions as F

from auto_ml_platform_with_timeseries_data_spark.operators import ts_features


def test_turning_points_ignores_nulls(spark):
    """A NULL row neither inflates n nor breaks neighbor adjacency:
    [1,3,2] with a NULL spliced in the middle must report the same
    (n, n_turns) as the clean series."""
    clean = spark.createDataFrame(
        [("g", 0, 1.0), ("g", 1, 3.0), ("g", 2, 2.0)],
        "g string, t int, v double")
    holed = spark.createDataFrame(
        [("g", 0, 1.0), ("g", 1, 3.0), ("g", 2, None), ("g", 3, 2.0)],
        "g string, t int, v double")
    a = ts_features.turning_points(clean, "g", "t", "v").collect()[0]
    b = ts_features.turning_points(holed, "g", "t", "v").collect()[0]
    assert (a["n"], a["n_turns"]) == (3, 1)
    assert (b["n"], b["n_turns"]) == (3, 1)
    assert a["z"] == b["z"]


def test_logrank_all_censored_zero_rows(spark):
    """All-censored input: the filtered cell table is empty, so the
    operator reports ZERO rows (the documented contract), not a NULL-z
    row."""
    df = spark.createDataFrame(
        [(1, 0, 1), (2, 0, 0), (3, 0, 1), (4, 0, 0)],
        "t int, e int, a int")
    out = ts_features.logrank_test(
        df, F.col("t"), F.col("e"), F.col("a"))
    assert out.count() == 0


def test_cox_stuart_odd_n_drops_middle_element(spark):
    # n = 7, h = ceil(7/2) = 4 -> exactly floor(7/2) = 3 disjoint
    # pairs (1,5)(2,6)(3,7); the overlapping-pair variant would emit 4
    df = spark.createDataFrame(
        [("s", i, v) for i, v in enumerate([3, 1, 4, 1, 5, 9, 2])],
        "g string, t long, v long")
    r = ts_features.cox_stuart(df, "g", "t", F.col("v")).collect()[0]
    assert r["n"] == 7
    # pairs: (3,5)+, (1,9)+, (4,2)- -> m = 3, pos = 2
    assert r["m_pairs"] == 3 and r["n_pos"] == 2
