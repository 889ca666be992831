"""Task catalog — the engine's stateful API surface (SURVEY.md §2.12).

The reference drives everything through 10 Flask endpoints mutating ONE
global DataAnalysis object (app.py:17) with a global model cache
(auto_machine_learning.py:12) — concurrent tasks clobber each other.
Here every endpoint becomes a method on an immutable-by-rebind `Task`
keyed by task name; config is an explicit dataclass (the reference's
Flask session dict, app.py:85-88); models persist under the task's own
directory.

Endpoint → method map:
  POST /upload                  → Task.ingest
  GET  /display-data            → Task.preview
  GET  /pre-analyze             → Task.pre_analyze
  POST /set-supervised-options  → Task.set_supervised_options
  GET  /generate_histogram      → Task.histogram / Task.ts_lines
  GET  /generate_scatter        → Task.scatter_data / Task.acf
  GET  /generate_correlation    → Task.correlation
  POST /start_ml + /confirm_training → Task.train
  POST /upload-test-data        → Task.ingest_test
  POST /evaluate                → Task.evaluate

Ingest profile. The reference loads the upload into one pandas frame
and answers the requests that follow from it (data_analysis.py:18).
``Task.ingest`` does the same work once, on Spark:
- it keeps the upload (``tables.keep``), so every later request reads
  the materialized frame instead of parsing the file again;
- one ``profile.column_stats`` aggregate records each column's non-null
  count and each numeric column's min and max;
- it records the first ``PREVIEW_ROWS`` rows.

Invariant: ingest fixes the task's rows. Until the next ingest,
``pre_analyze`` and ``set_supervised_options`` only drop columns, so the
profile stays valid and the task projects it onto its current columns:
the preview and the all-NaN check start no Spark job, and a histogram
runs only its bucket aggregate.

Lifetime: the task owns its kept upload. A re-ingest releases the
previous one and ``Task.release`` (``ApiServer.stop`` calls it for
every task) frees the current one, whichever thread kept it.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession

from auto_ml_platform_with_timeseries_data_spark import tables
from auto_ml_platform_with_timeseries_data_spark.operators import evaluation as ev
from auto_ml_platform_with_timeseries_data_spark.operators import profile as prof
from auto_ml_platform_with_timeseries_data_spark.operators import timeseries as ts

if TYPE_CHECKING:
    import pandas as pd


@dataclass
class TaskConfig:
    """The reference's session config (app.py:29,47,67,85-88,146)."""
    taskname: str
    label: str | None = None
    excluded_features: list[str] = field(default_factory=list)
    nan_columns: list[str] = field(default_factory=list)
    is_time_series: bool = False
    group_by: str | None = None
    order_by: str | None = None  # explicit — pandas used implicit file order
    mode: str = "regression"


PREVIEW_ROWS = 5  # the reference's head() (data_analysis.py:58)


class Task:
    def __init__(self, spark: SparkSession, taskname: str,
                 storage_dir: str = "task_storage"):
        self.spark = spark
        self.config = TaskConfig(taskname=taskname)
        self.storage_dir = os.path.join(storage_dir, taskname)
        self.df: DataFrame | None = None
        self.test_df: DataFrame | None = None
        self.model = None
        self.automl_result = None
        # the ingest profile (module docstring)
        self._upload: DataFrame | None = None
        self._non_null: dict[str, int] = {}
        self._bounds: dict[str, tuple] = {}
        self._head: pd.DataFrame | None = None

    # -- ingest ------------------------------------------------------------
    def ingest(self, df_or_path) -> "Task":
        from auto_ml_platform_with_timeseries_data_spark.sources.readers import read_any

        df = (df_or_path if isinstance(df_or_path, DataFrame)
              else read_any(self.spark, df_or_path))
        self.release()
        self.df = self._upload = tables.keep(df)
        self._non_null, self._bounds = prof.column_stats(self.df)
        self._head = prof.head(self.df, PREVIEW_ROWS).toPandas()
        return self

    def release(self) -> None:
        """Free the kept upload; the task's frame stays readable from
        its source."""
        if self._upload is not None:
            tables.release(self._upload)

    def ingest_test(self, df_or_path) -> "Task":
        from auto_ml_platform_with_timeseries_data_spark.sources.readers import read_any

        self.test_df = (df_or_path if isinstance(df_or_path, DataFrame)
                        else read_any(self.spark, df_or_path))
        return self

    # -- profiling ---------------------------------------------------------
    def preview(self) -> pd.DataFrame:
        """The first PREVIEW_ROWS rows of the current columns, from the
        ingest record."""
        return self._head[self._req().columns]

    def pre_analyze(self) -> list[str]:
        """Drop all-NaN columns; record + return their names
        (data_analysis.py:23-28 + app.py:62-70), from the recorded
        non-null counts."""
        removed = [c for c in self._req().columns if self._non_null[c] == 0]
        self.df = self.df.drop(*removed)
        self.config.nan_columns = removed
        return removed

    def set_supervised_options(self, label: str,
                               excluded_features: list[str] | None = None,
                               is_time_series: bool = False,
                               group_by: str | None = None,
                               order_by: str | None = None) -> "Task":
        """app.py:72-94: set config, drop excluded columns. The effective
        excluded set reported downstream is user-excluded ∪ nan-dropped
        (app.py:148)."""
        self.config.label = label
        self.config.excluded_features = list(excluded_features or [])
        self.config.is_time_series = is_time_series
        self.config.group_by = group_by
        self.config.order_by = order_by
        if excluded_features:
            self.df = prof.remove_features(self._req(), excluded_features)
        return self

    @property
    def effective_excluded(self) -> list[str]:
        return sorted(set(self.config.excluded_features) | set(self.config.nan_columns))

    def feature_columns(self) -> list[str]:
        """Column-list predicate P5: everything except label/group/order."""
        skip = {self.config.label, self.config.group_by, self.config.order_by}
        return [c for c in self._req().columns if c not in skip]

    def histogram(self, column: str, nbins: int = 10) -> DataFrame:
        if column not in self._req().columns or column not in self._bounds:
            raise ValueError(f"no numeric column {column!r}")
        return prof.histogram(self.df, column, nbins, *self._bounds[column])

    def correlation(self) -> DataFrame:
        numeric = [c for c, t in self._req().dtypes
                   if c in self.feature_columns()
                   and t in ("int", "bigint", "double", "float", "smallint")]
        return prof.corr_with_label(self._req(), numeric, self.config.label)

    def acf(self, feature: str, max_lag: int = 10) -> DataFrame:
        cfg = self.config
        return ts.acf(self._req(), cfg.group_by, cfg.order_by, feature, max_lag)

    def ts_lines(self, features: list[str]) -> DataFrame:
        """W4 per-group ordered series (the numbers behind the line plots)."""
        cfg = self.config
        return self._req().select(cfg.group_by, cfg.order_by, *features) \
            .orderBy(cfg.group_by, cfg.order_by)

    # -- training / evaluation --------------------------------------------
    def train(self, mode: str = "regression", fast: bool = True,
              persist: bool = False):
        from auto_ml_platform_with_timeseries_data_spark.ml import automl as ml

        self.config.mode = mode
        if self.config.is_time_series:
            from auto_ml_platform_with_timeseries_data_spark.ml.ts_automl import (
                ts_automl_global,
            )

            cfg = self.config
            self.automl_result = ts_automl_global(
                self._req(), cfg.group_by, cfg.order_by, cfg.label
            )
            self.model = self.automl_result.model
        else:
            numeric = [c for c, t in self._req().dtypes
                       if c in self.feature_columns()
                       and t in ("int", "bigint", "double", "float")]
            self.automl_result = ml.automl(
                self._req(), numeric, self.config.label, mode=mode, fast=fast
            )
            self.model = self.automl_result.best.model
            if persist:
                ml.save_model(self.model, self.storage_dir)
        return self.automl_result

    def evaluate(self, threshold: float | None = None) -> dict:
        """data_analysis.py:156-214: predict on test with the TRAIN-fitted
        pipeline; RMSE (+ optional threshold-binarized F1/confusion)."""
        from auto_ml_platform_with_timeseries_data_spark.ml.automl import (
            feature_importances,
        )

        if self.test_df is None or self.model is None:
            raise ValueError("need ingest_test() and train() first")
        label = self.config.label
        pred = self.model.transform(self.test_df)
        out = {"rmse": ev.rmse(pred, label, "prediction")}
        numeric = [c for c, t in self.test_df.dtypes
                   if c in self.feature_columns() and t in ("int", "bigint", "double", "float")]
        try:
            out["importances"] = feature_importances(self.model, numeric)
        except ValueError:
            pass
        if threshold is not None:
            threshold = float(threshold)  # app.py:197-201 scalar cast
            binned = pred.select(
                ev.binarize(label, threshold).alias("truth_bin"),
                ev.binarize("prediction", threshold).alias("pred_bin"),
            )
            out["f1_confusion"] = ev.confusion_and_f1(binned, "truth_bin", "pred_bin")
            out["confusion_matrix"] = ev.confusion_matrix_pivot(
                binned, "truth_bin", "pred_bin"
            )
        return out

    def _req(self) -> DataFrame:
        if self.df is None:
            raise ValueError("no data ingested")
        return self.df
