"""E2E golden run through the Task API (SURVEY.md §5 item 5): a
C-MAPSS-shaped fixture through ingest → profile → train → evaluate,
mirroring the reference's endpoint sequence (§2.12)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from auto_ml_platform_with_timeseries_data_spark.catalog import Task


def _cmapss_df(spark, engines=6, cycles=40, seed=5):
    rng = np.random.default_rng(seed)
    rows = []
    for e in range(engines):
        life = cycles + int(rng.integers(0, 10))
        for t in range(life):
            rul = float(life - t)
            s1 = 0.5 * rul + rng.normal(scale=0.5)       # informative
            s2 = rng.normal()                             # noise
            rows.append((e, t, float(s1), float(s2), None, rul))
    return spark.createDataFrame(
        rows, "engine_no int, time_in_cycles int, sensor_1 double, "
              "sensor_2 double, sensor_22 double, RUL double")


def test_task_end_to_end(spark):
    df = _cmapss_df(spark)
    task = Task(spark, "t_e2e")
    task.ingest(df)

    assert len(task.preview()) == 5

    removed = task.pre_analyze()
    assert removed == ["sensor_22"]  # the all-null column, Q2

    task.set_supervised_options(
        label="RUL", excluded_features=["time_in_cycles", "not_there"])
    assert "time_in_cycles" not in task.df.columns
    assert task.effective_excluded == ["not_there", "sensor_22", "time_in_cycles"]

    corr = {r["feature"]: r["corr"] for r in task.correlation().collect()}
    assert corr["sensor_1"] > 0.9          # planted signal
    assert abs(corr["sensor_2"]) < 0.3     # noise

    res = task.train(mode="regression", fast=True)
    assert res.best.cv_metric < 5.0

    task.ingest_test(df)
    out = task.evaluate(threshold=20.0)
    rmse = out["rmse"].collect()[0]["rmse"]
    assert rmse < 5.0
    f1row = out["f1_confusion"].collect()[0]
    assert f1row["f1"] > 0.8
    assert f1row["tp"] + f1row["fp"] + f1row["fn"] + f1row["tn"] == df.count()
    imp = out["importances"]
    assert imp[0][0] == "sensor_1"


def test_task_requires_ingest(spark):
    with pytest.raises(ValueError):
        Task(spark, "t_empty").preview()
