"""Metric semantics pinned to the reference (binarize `<`, binary F1)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from auto_ml_platform_with_timeseries_data_spark.operators import evaluation as ev
from auto_ml_platform_with_timeseries_data_spark.operators import scaling as sc


def test_binarize_is_strictly_less_than(spark):
    # data_analysis.py:200-201 — value < threshold → 1 (NOT <=, NOT >)
    df = spark.createDataFrame([(99.0,), (100.0,), (101.0,)], "v double")
    got = [r["b"] for r in
           df.select(ev.binarize("v", 100.0).alias("b")).orderBy("v").collect()]
    assert got == [1, 0, 0]


def test_rmse_matches_numpy(spark):
    import numpy as np

    t = np.array([1.0, 2.0, 3.0, 4.0])
    p = np.array([1.5, 1.5, 3.5, 3.0])
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(t, p)], "t double, p double")
    got = ev.rmse(df, "t", "p").collect()[0]["rmse"]
    assert math.isclose(got, float(np.sqrt(((t - p) ** 2).mean())), abs_tol=1e-6)


def test_confusion_and_f1(spark):
    #                 truth, pred
    rows = [(1, 1)] * 6 + [(0, 1)] * 2 + [(1, 0)] * 3 + [(0, 0)] * 9
    df = spark.createDataFrame(rows, "t int, p int")
    got = ev.confusion_and_f1(df, "t", "p").collect()[0]
    assert (got["tp"], got["fp"], got["fn"], got["tn"]) == (6, 2, 3, 9)
    assert math.isclose(got["f1"], 2 * 6 / (2 * 6 + 2 + 3), abs_tol=1e-6)


def test_confusion_matrix_pivot_marginals(spark):
    rows = [(1, 1)] * 6 + [(0, 1)] * 2 + [(1, 0)] * 3 + [(0, 0)] * 9
    df = spark.createDataFrame(rows, "t int, p int")
    got = {r["truth"]: r for r in
           ev.confusion_matrix_pivot(df, "t", "p").collect()}
    assert got[1]["pred_1"] == 6 and got[1]["pred_0"] == 3
    assert got[0]["pred_1"] == 2 and got[0]["pred_0"] == 9


def test_standard_scale_fit_on_train_applied_to_test(spark):
    # data_analysis.py:159-160 — TRAIN-fitted params reused on test
    train = spark.createDataFrame([(0.0,), (10.0,)], "x double")
    test = spark.createDataFrame([(5.0,), (15.0,)], "x double")
    out = sorted(
        r["x_scaled"]
        for r in sc.standard_scale(train, test, ["x"], ddof=0).collect()
    )
    # train: mu=5, sigma_pop=5 → test 5→0, 15→2
    assert math.isclose(out[0], 0.0, abs_tol=1e-9)
    assert math.isclose(out[1], 2.0, abs_tol=1e-9)


def test_min_max_scale(spark):
    train = spark.createDataFrame([(0.0,), (10.0,)], "x double")
    test = spark.createDataFrame([(2.5,), (20.0,)], "x double")
    out = sorted(
        r["x_scaled"] for r in sc.min_max_scale(train, test, ["x"]).collect()
    )
    assert math.isclose(out[0], 0.25, abs_tol=1e-9)
    assert math.isclose(out[1], 2.0, abs_tol=1e-9)  # out-of-range extrapolates


def test_scale_params_pop_vs_samp(spark):
    import numpy as np

    x = np.array([1.0, 2.0, 3.0, 4.0, 5.0])
    df = spark.createDataFrame([(float(v),) for v in x], "x double")
    got = sc.scale_params(df, ["x"]).collect()[0]
    assert math.isclose(got["std_pop"], float(x.std(ddof=0)), abs_tol=1e-6)
    assert math.isclose(got["std_samp"], float(x.std(ddof=1)), abs_tol=1e-6)


def test_roc_auc_perfect_ties_and_degenerate(spark):
    """Perfectly separating scores give AUC 1; a constant score gives
    exactly 0.5 through the average-rank tie handling; a single-class
    label reports NULL-by-contract."""
    from auto_ml_platform_with_timeseries_data_spark.operators.evaluation import (
        roc_auc,
    )

    df = spark.createDataFrame(
        [(1.0, 0), (2.0, 0), (3.0, 1), (4.0, 1)], "s double, y int")
    assert roc_auc(df, F.col("s"), F.col("y")).first()["auc"] == 1.0

    tied = spark.createDataFrame(
        [(5.0, 0), (5.0, 0), (5.0, 1), (5.0, 1)], "s double, y int")
    assert roc_auc(tied, F.col("s"), F.col("y")).first()["auc"] == 0.5

    onecls = spark.createDataFrame(
        [(1.0, 1), (2.0, 1)], "s double, y int")
    assert roc_auc(onecls, F.col("s"), F.col("y")).first()["auc"] is None


def test_cohens_kappa_perfect_and_chance(spark):
    """Identical raters give kappa 1; a rater that ignores the other
    (one constant, one varying) gives kappa 0 (p_o == p_e exactly);
    both-constant-and-equal is the NULL-by-contract degenerate."""
    from auto_ml_platform_with_timeseries_data_spark.operators.evaluation import (
        cohens_kappa,
    )

    same = spark.createDataFrame(
        [("x", "x"), ("y", "y"), ("x", "x"), ("z", "z")],
        "a string, b string")
    assert cohens_kappa(same, F.col("a"), F.col("b")).first()["kappa"] == 1.0

    const = spark.createDataFrame(
        [("x", "x"), ("y", "x"), ("x", "x"), ("y", "x")],
        "a string, b string")
    assert cohens_kappa(const, F.col("a"),
                        F.col("b")).first()["kappa"] == 0.0

    degen = spark.createDataFrame(
        [("x", "x"), ("x", "x")], "a string, b string")
    assert cohens_kappa(degen, F.col("a"),
                        F.col("b")).first()["kappa"] is None


def test_conformal_quantile_is_exact_order_statistic(spark):
    """q̂ is the ⌈(n+1)(1−α)⌉-th smallest score exactly (no
    interpolation — coverage needs the ceil), and an α too small for
    the sample reports NULL-by-contract."""
    import math

    from auto_ml_platform_with_timeseries_data_spark.operators.evaluation import (
        conformal_quantile,
    )

    scores = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0]  # n=9
    df = spark.createDataFrame([(s,) for s in scores], "s double")
    r = conformal_quantile(df, F.col("s"), alpha=0.2).first()
    k = math.ceil((9 + 1) * 0.8)                  # = 8
    assert (r["n"], r["k"]) == (9, k)
    assert r["qhat"] == sorted(scores)[k - 1]     # 8th smallest = 8.0

    tiny = conformal_quantile(df, F.col("s"), alpha=0.01).first()
    assert tiny["k"] == 10 and tiny["qhat"] is None


def test_brier_decomposition_identity_and_calibrated_case(spark):
    """Terms reconcile (brier == rel − res + unc within pin), a
    perfectly calibrated-by-bin forecast has reliability 0, and a
    constant base-rate forecast has resolution 0."""
    from auto_ml_platform_with_timeseries_data_spark.operators.evaluation import (
        brier_decomposition,
    )

    # bin-calibrated: in bin [0.2,0.3) prob .25 with 1-in-4 positives
    rows = [(0.25, 1)] + [(0.25, 0)] * 3 + [(0.75, 1)] * 3 + [(0.75, 0)]
    df = spark.createDataFrame(rows, "p double, y int")
    r = brier_decomposition(df, F.col("p"), F.col("y"), bins=4).first()
    assert r["reliability"] == 0.0
    assert abs(r["brier"] - (r["reliability"] - r["resolution"]
                             + r["uncertainty"])) <= 2e-6

    const = spark.createDataFrame(
        [(0.5, 1), (0.5, 0), (0.5, 1), (0.5, 0)], "p double, y int")
    rc = brier_decomposition(const, F.col("p"), F.col("y"),
                             bins=4).first()
    assert rc["resolution"] == 0.0
    assert rc["uncertainty"] == 0.25


def test_roc_auc_by_group_matches_global_per_group(spark):
    """Each group's AUC equals the single-group roc_auc on that
    group's rows (ties and degenerates included)."""
    from auto_ml_platform_with_timeseries_data_spark.operators.evaluation import (
        roc_auc,
        roc_auc_by_group,
    )

    rows = []
    rows += [(1, float(i), 1 if i >= 3 else 0) for i in range(6)]
    rows += [(2, 5.0, y) for y in (0, 1, 0, 1)]         # all tied
    rows += [(3, float(i), 1) for i in range(4)]        # single-class
    df = spark.createDataFrame(rows, "g long, s double, y int")
    got = {r["g"]: r for r in
           roc_auc_by_group(df, "g", F.col("s"), F.col("y")).collect()}
    for g in (1, 2, 3):
        want = roc_auc(df.filter(F.col("g") == g), F.col("s"),
                       F.col("y")).first()
        assert (got[g]["n"], got[g]["n_pos"], got[g]["auc"]) == \
            (want["n"], want["n_pos"], want["auc"]), g
    assert got[1]["auc"] == 1.0 and got[2]["auc"] == 0.5
    assert got[3]["auc"] is None


def test_cronbach_alpha_k1_returns_null_contract(spark):
    df = spark.createDataFrame([(1,), (2,), (3,)], "a long")
    row = ev.cronbach_alpha(df, {"a": F.col("a")}).collect()[0]
    assert row["k"] == 1 and row["alpha"] is None
    with pytest.raises(ValueError):
        ev.cronbach_alpha(df, {})
