"""Semantics unit tests pinned to reference quirks (SURVEY.md §5 item 2)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from auto_ml_platform_with_timeseries_data_spark.operators import profile as prof


def _df(spark):
    rows = [
        (1, 1.0, None, "x"),
        (2, 2.0, None, "y"),
        (3, None, None, "z"),
        (4, 4.0, None, None),
    ]
    return spark.createDataFrame(rows, "id int, a double, allnull double, s string")


def test_all_nan_columns_detects_only_fully_null(spark):
    # data_analysis.py:23-28 — only columns that are ENTIRELY null drop
    assert prof.all_nan_columns(_df(spark)) == ["allnull"]


def test_drop_all_nan_columns_rebinds(spark):
    df2, removed = prof.drop_all_nan_columns(_df(spark))
    assert removed == ["allnull"]
    assert "allnull" not in df2.columns
    assert df2.count() == 4  # rows untouched


def test_null_profile_counts(spark):
    got = {r["column_name"]: r for r in prof.null_profile(_df(spark)).collect()}
    assert got["a"]["n_nulls"] == 1 and got["a"]["is_all_null"] == 0
    assert got["allnull"]["n_nulls"] == 4 and got["allnull"]["is_all_null"] == 1
    assert got["s"]["n_non_null"] == 3


def test_remove_features_ignores_missing(spark):
    # data_analysis.py:30-40 — silently tolerant of absent names
    df2 = prof.remove_features(_df(spark), ["a", "not_a_column"])
    assert df2.columns == ["id", "allnull", "s"]


def test_column_stats_one_row_of_counts_and_numeric_bounds(spark):
    non_null, bounds = prof.column_stats(_df(spark))
    assert non_null == {"id": 4, "a": 3, "allnull": 0, "s": 3}
    # strings have no bounds; an all-null column's are None
    assert bounds == {"id": (1, 4), "a": (1.0, 4.0), "allnull": (None, None)}


def test_histogram_bin_edges_and_counts(spark):
    df = spark.createDataFrame([(float(i),) for i in range(100)], "v double")
    _, bounds = prof.column_stats(df)
    assert bounds == {"v": (0.0, 99.0)}
    got = {r["bin"]: r for r in prof.histogram(df, "v", 10, *bounds["v"]).collect()}
    assert len(got) == 10
    assert got[0]["cnt"] == 10
    # max value lands in the LAST bin (the least() clamp)
    assert got[9]["cnt"] == 10
    assert math.isclose(got[0]["bin_lo"], 0.0)
    assert math.isclose(got[9]["bin_hi"], 99.0)


def test_corr_with_label_matches_numpy(spark):
    import numpy as np

    rng = np.random.default_rng(0)
    x = rng.normal(size=200)
    y = 2 * x + rng.normal(size=200)
    z = rng.normal(size=200)
    rows = [(float(a), float(b), float(c), 7.0, 0.0)
            for a, b, c in zip(x, y, z)]
    df = spark.createDataFrame(
        rows, "x double, label double, z double, k double, k0 double")
    got = {r["feature"]: r["corr"]
           for r in prof.corr_with_label(
               df, ["x", "z", "k", "k0"], "label").collect()}
    assert math.isclose(got["x"], float(np.corrcoef(x, y)[0, 1]), abs_tol=1e-6)
    assert math.isclose(got["z"], float(np.corrcoef(z, y)[0, 1]), abs_tol=1e-6)
    # constant features have no correlation (pandas corrwith: NaN) —
    # whether the merged variance is exactly zero (k0) or not (k)
    assert got["k"] is None and got["k0"] is None


def test_corr_non_numeric_yields_null(spark):
    # pandas corrwith yields NaN for non-numeric columns; Spark corr on a
    # string col is an analysis error, so the operator contract is
    # numeric-only input — verify the catalog filters non-numerics.
    df = _df(spark)
    numeric = [c for c, t in df.dtypes if t in ("int", "bigint", "double")]
    assert "s" not in numeric


def test_min_max(spark):
    row = prof.min_max(_df(spark), "a").collect()[0]
    assert row["min_value"] == 1.0 and row["max_value"] == 4.0


def test_quantile_sketch_gate_matches_numpy(spark):
    import numpy as np

    from auto_ml_platform_with_timeseries_data_spark.operators.profile import (
        quantile_sketch_gate,
    )

    vals = [float(v) for v in range(1, 202)]  # 1..201 → exact deciles known
    df = spark.createDataFrame([("g", v) for v in vals],
                               "grp string, x double")
    got = {r["decile"]: r for r in
           quantile_sketch_gate(df, "grp", "x").collect()}
    for d in range(1, 10):
        want = float(np.percentile(vals, d * 10))  # linear interpolation
        assert abs(got[d]["exact_val"] - want) < 1e-9
        assert got[d]["approx_ok"], d


def test_corr_matrix_matches_known_values(spark):
    """y = 2x exactly -> corr 1; z anti-correlated with x -> corr -1;
    all pairs emitted once."""
    from auto_ml_platform_with_timeseries_data_spark.operators.profile import (
        corr_matrix,
    )

    rows = [(float(i), float(2 * i), float(-i)) for i in range(1, 21)]
    df = spark.createDataFrame(rows, "x double, y double, z double")
    got = {(r["col_a"], r["col_b"]): r["corr"]
           for r in corr_matrix(df, ["x", "y", "z"]).collect()}
    assert set(got) == {("x", "y"), ("x", "z"), ("y", "z")}
    assert got[("x", "y")] == 1.0
    assert got[("x", "z")] == -1.0


def test_spearman_matches_pandas_rank_corr(spark):
    """spearman_matrix == Pearson over pandas average ranks (the
    textbook tie-correct definition), at the 1e-6 pin."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(11)
    n = 400
    pdf = pd.DataFrame({
        "a": rng.integers(0, 8, n).astype(float),     # heavy ties
        "b": rng.normal(size=n),
        "c": rng.integers(0, 3, n).astype(float),     # heavier ties
    })
    pdf["d"] = pdf["b"] ** 3 + rng.normal(scale=0.1, size=n)
    df = spark.createDataFrame(pdf)
    got = {(r["col_a"], r["col_b"]): r["corr"]
           for r in prof.spearman_matrix(df, ["a", "b", "c", "d"])
           .collect()}
    ranks = pdf.rank(method="average")
    want = ranks.corr(method="pearson")
    assert len(got) == 6
    for (x, y), v in got.items():
        assert abs(v - want.loc[x, y]) < 2e-6, (x, y, v, want.loc[x, y])
    # monotone transform association: rho(b, b^3+noise) must be high
    assert got[("b", "d")] > 0.9


def test_spearman_constant_column_null_by_contract(spark):
    """A constant column has zero rank variance — its correlations are
    NULL by contract (q207's den>0 guard), not an ANSI crash."""
    rows = [(float(i % 5), 1.0) for i in range(40)]
    df = spark.createDataFrame(rows, "x double, k double")
    got = {(r["col_a"], r["col_b"]): r["corr"]
           for r in prof.spearman_matrix(df, ["x", "k"]).collect()}
    assert got[("x", "k")] is None


def test_mutual_information_constant_label_is_zero(spark):
    """A constant label carries no information: MI must be exactly 0
    for every feature (all log terms are ln(1)), not an ANSI error."""
    rows = [(float(i % 7), "x") for i in range(100)]
    df = spark.createDataFrame(rows, "f double, y string")
    got = prof.mutual_information(
        df, {"f": F.col("f").cast("long")}, F.col("y")).collect()
    assert len(got) == 1
    assert got[0]["mi_nats"] == 0.0


def test_quantile_normalize_textbook_with_ties(spark):
    """Hand-checked two-column example with a tie block: profiles
    [1,2,2] and [3,4,5] (dollars) give the reference profile
    [2.0, 3.0, 3.5]; the tied value 2 in column A averages ordinals
    2 and 3 -> 3.25. All values exact micro-integers."""
    from auto_ml_platform_with_timeseries_data_spark.operators.scaling import (
        quantile_normalize_map,
    )

    df = spark.createDataFrame(
        [(1.0, 3.0), (2.0, 4.0), (2.0, 5.0)], "a double, b double")
    got = {(r["feature"], r["value_cents"]): (r["n"], r["norm_micro"])
           for r in quantile_normalize_map(df, ["a", "b"]).collect()}
    assert got == {
        ("a", 100): (1, 2_000_000),
        ("a", 200): (2, 3_250_000),
        ("b", 300): (1, 2_000_000),
        ("b", 400): (1, 3_000_000),
        ("b", 500): (1, 3_500_000),
    }


def test_robust_quantiles_interpolates_and_matches_numpy(spark):
    """Planted 5-value column: quartile positions land between
    ordinals, so the linear interpolation actually fires; values match
    numpy's percentile(..., method='linear') exactly. A tied column
    exercises span blocks wider than one."""
    import numpy as np

    from auto_ml_platform_with_timeseries_data_spark.operators.scaling import (
        robust_quantile_params,
    )

    a = [10.0, 20.0, 40.0, 80.0, 160.0]
    b = [5.0, 5.0, 5.0, 7.0, 9.0]
    df = spark.createDataFrame(list(zip(a, b)), "a double, b double")
    got = {r["feature"]: r for r in
           robust_quantile_params(df, ["a", "b"]).collect()}
    for name, vals in (("a", a), ("b", b)):
        for col, q in (("p25", 25), ("p50", 50), ("p75", 75)):
            want = float(np.percentile(vals, q))
            assert abs(got[name][col] - want) < 1e-6, (name, col)
        assert abs(got[name]["iqr"]
                   - (got[name]["p75"] - got[name]["p25"])) < 1e-12


def test_benford_audit_flags_constant_feed(spark):
    """A genuinely log-uniform sample tracks Benford (small |dev|);
    a constant-digit feed concentrates everything on one digit."""
    import numpy as np

    from auto_ml_platform_with_timeseries_data_spark.operators.validation import (
        benford_audit,
    )

    rng = np.random.default_rng(5)
    vals = 10.0 ** rng.uniform(0, 4, size=4000)
    good = spark.createDataFrame([(float(v),) for v in vals], "x double")
    rows = {r["digit"]: r for r in benford_audit(good, "x").collect()}
    assert sum(r["n"] for r in rows.values()) == 4000
    assert abs(rows[1]["dev_ppm"]) < 40_000        # ~ sampling noise
    assert rows[1]["observed_ppm"] > rows[9]["observed_ppm"]

    flat = spark.createDataFrame([(7.77,)] * 100, "x double")
    frows = {r["digit"]: r for r in benford_audit(flat, "x").collect()}
    assert frows[7]["observed_ppm"] == 1_000_000
    assert frows[1]["n"] == 0 and frows[1]["observed_ppm"] == 0
