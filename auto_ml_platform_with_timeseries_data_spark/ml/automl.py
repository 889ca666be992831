"""AutoML search driver (SURVEY.md §2.9 M1-M4, M7-M9).

Reference semantics (citations into /root/reference):

- AUTOML driver               auto_machine_learning.py:11-57 — per
  candidate family: 5-fold CV over a param grid, keep the family's best
  (estimator, CV score); argmax across families; refit winner on the
  full train set; report train-side metric.
- XGBoost grid                auto_machine_learning.py:77-84 —
  n_estimators {10,50,100} → maxIter, max_depth {3,5,10} → maxDepth,
  learning_rate {0.1,0.01} → stepSize (GBT is the MLlib stand-in; the
  xgboost.spark estimator drops in when the package is present).
- Commented-out zoo           auto_machine_learning.py:63-76 —
  RandomForest{Regressor,Classifier} (numTrees {10,50,100},
  maxDepth {10,20,30}); SVC → LinearSVC (no MLlib SVR/rbf — documented
  substitution, SURVEY §7 hard parts #4).
- Model cache                 auto_machine_learning.py:12,22-24 — the
  reference caches ONE global model across tasks (a bug); here models
  persist under a per-task path.

Scale notes: each fold×grid-point fit is a distributed MLlib job;
`parallelism=N` runs grid points concurrently. The scaler + assembler
live INSIDE the CV pipeline so fold statistics never leak across folds.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import (
    GBTClassifier,
    LinearSVC,
    RandomForestClassifier,
)
from pyspark.ml.evaluation import RegressionEvaluator
from pyspark.ml.evaluation import Evaluator
from pyspark.ml.feature import StandardScaler, VectorAssembler
from pyspark.ml.regression import (
    GBTRegressor,
    LinearRegression,
    RandomForestRegressor,
)
from pyspark.ml.tuning import CrossValidator, ParamGridBuilder
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from auto_ml_platform_with_timeseries_data_spark.tables import keep, release

SEED = 42


@dataclass
class FamilyResult:
    family: str
    best_params: dict
    cv_metric: float
    model: PipelineModel


@dataclass
class AutoMLResult:
    best: FamilyResult
    all_results: list[FamilyResult] = field(default_factory=list)

    def metrics_df(self, spark) -> DataFrame:
        rows = [
            (r.family, str(r.best_params), float(r.cv_metric))
            for r in self.all_results
        ]
        return spark.createDataFrame(rows, "family string, params string, cv_metric double")


class BinaryF1Evaluator(Evaluator):
    """Binary F1 (positive class = 1), the metric GridSearchCV(scoring=
    'f1') uses in the reference (auto_machine_learning.py:30-33).

    MulticlassClassificationEvaluator(metricName='f1') is WEIGHTED F1 —
    on imbalanced data it rewards all-negative predictors and can flip
    which family/grid point wins the CV search (SURVEY.md A10 flags the
    same trap for evaluation; operators/evaluation.py:51 already derives
    binary F1 from confusion counts — this is that formula as a
    CrossValidator-pluggable evaluator). One distributed pass:
    F1 = 2·TP / (2·TP + FP + FN), defined as 0.0 when the denominator
    is 0 (sklearn's zero_division=0 behavior)."""

    def __init__(self, labelCol: str = "__label",
                 predictionCol: str = "prediction") -> None:
        super().__init__()
        self.labelCol = labelCol
        self.predictionCol = predictionCol

    def _evaluate(self, dataset: DataFrame) -> float:
        y = F.col(self.labelCol).cast("int")
        p = F.col(self.predictionCol).cast("int")
        row = dataset.agg(
            # coalesce: F.sum over ZERO rows is NULL, not 0 (an empty CV
            # validation split must score 0.0, not raise)
            F.coalesce(F.sum(((y == 1) & (p == 1)).cast("long")), F.lit(0))
            .alias("tp"),
            F.coalesce(F.sum(((y == 0) & (p == 1)).cast("long")), F.lit(0))
            .alias("fp"),
            F.coalesce(F.sum(((y == 1) & (p == 0)).cast("long")), F.lit(0))
            .alias("fn"),
        ).first()
        denom = 2 * row.tp + row.fp + row.fn
        return 2.0 * row.tp / denom if denom else 0.0

    def isLargerBetter(self) -> bool:
        return True


def _pipeline(est, features: list[str]) -> Pipeline:
    assembler = VectorAssembler(inputCols=features, outputCol="__features_raw")
    scaler = StandardScaler(inputCol="__features_raw", outputCol="features",
                            withMean=True, withStd=True)
    return Pipeline(stages=[assembler, scaler, est])


def default_families(mode: str, fast: bool = False) -> dict:
    """(estimator, param grid) per family, mirroring the reference grids.
    `fast=True` shrinks grids for smoke/CI runs."""
    if mode == "regression":
        gbt = GBTRegressor(featuresCol="features", labelCol="__label", seed=SEED)
        rf = RandomForestRegressor(featuresCol="features", labelCol="__label", seed=SEED)
        lr = LinearRegression(featuresCol="features", labelCol="__label")
        if fast:
            return {
                "gbt": (gbt, ParamGridBuilder()
                        .addGrid(gbt.maxIter, [10])
                        .addGrid(gbt.maxDepth, [3, 5]).build()),
                "linear": (lr, ParamGridBuilder()
                           .addGrid(lr.regParam, [0.0, 0.1]).build()),
            }
        return {
            "gbt": (gbt, ParamGridBuilder()
                    .addGrid(gbt.maxIter, [10, 50, 100])
                    .addGrid(gbt.maxDepth, [3, 5, 10])
                    .addGrid(gbt.stepSize, [0.1, 0.01]).build()),
            "random_forest": (rf, ParamGridBuilder()
                              .addGrid(rf.numTrees, [10, 50, 100])
                              .addGrid(rf.maxDepth, [10, 20, 30]).build()),
            "linear": (lr, ParamGridBuilder()
                       .addGrid(lr.regParam, [0.0, 0.01, 0.1]).build()),
        }
    gbt_c = GBTClassifier(featuresCol="features", labelCol="__label", seed=SEED)
    rf_c = RandomForestClassifier(featuresCol="features", labelCol="__label", seed=SEED)
    svc = LinearSVC(featuresCol="features", labelCol="__label")
    if fast:
        return {
            "gbt": (gbt_c, ParamGridBuilder()
                    .addGrid(gbt_c.maxIter, [10])
                    .addGrid(gbt_c.maxDepth, [3, 5]).build()),
        }
    return {
        "gbt": (gbt_c, ParamGridBuilder()
                .addGrid(gbt_c.maxIter, [10, 50, 100])
                .addGrid(gbt_c.maxDepth, [3, 5, 10])
                .addGrid(gbt_c.stepSize, [0.1, 0.01]).build()),
        "random_forest": (rf_c, ParamGridBuilder()
                          .addGrid(rf_c.numTrees, [10, 50, 100])
                          .addGrid(rf_c.maxDepth, [10, 20, 30]).build()),
        "linear_svc": (svc, ParamGridBuilder()
                       .addGrid(svc.regParam, [0.1, 1.0, 10.0]).build()),
    }


def automl(train: DataFrame, features: list[str], label: str,
           mode: str = "regression", families: dict | None = None,
           num_folds: int = 5, parallelism: int = 4,
           fast: bool = False) -> AutoMLResult:
    """Cross-validated model search. Returns the refit best model per the
    reference's argmax-then-refit contract (CrossValidator's bestModel
    IS the full-train refit of the winning grid point).

    parallelism=4 was MEASURED against 8 and 16 on the automl_e2e
    workload (round 10, sf0.1 lineitem, 32-core local, fast grids —
    2 families × 10 fold-grid fits each): warm walls 46.9-49.1 s for
    BOTH 4 and 16, i.e. equal within host noise, because the two
    family threads × parallelism 4 already keep 8 distributed fits
    in flight and the 32 cores saturated. Raising the dial buys
    nothing here; revisit only if the family count or grid shrinks."""
    families = families or default_families(mode, fast=fast)
    # cache: every family's CrossValidator re-reads the train set per
    # fold split and refit (k folds × grid points × families scans) —
    # materialize the projected frame once for all of them
    train = train.select(*features, F.col(label).cast("double").alias("__label"))
    # Right-size the cached frame for iterative ML (r15, guide §1.2/
    # §2.2): every tree level / LBFGS step is a distributed job over
    # the cached partitions, so a train frame that inherits a narrow
    # scan split (sf0.1 lineitem = 3 parquet splits) runs hundreds of
    # per-fit jobs at 3-task width on a 32-core box. Scale UP only —
    # never coalesce a wide input (at cluster scale the scan's own
    # partitioning is already right). Width rule: family threads × CV
    # parallelism keep ~8 fits in flight, so npart = cores//4 puts
    # ~2·cores tasks in flight — saturated but not flooded. r15's
    # sweep picked cores//2 (3→70.1 s, 8→41.1, 16→38.2 on that box);
    # re-swept r16 under the session-conf changes with paired
    # alternating rounds: npart8 29.8/34.2 s vs npart16 34.4/38.4 vs
    # npart4 32.0/38.5 — cores//4 won both rounds. CV selection is
    # partition-robust by q166's planted-optimum contract.
    npart = max(1, train.sparkSession.sparkContext.defaultParallelism // 4)
    if train.rdd.getNumPartitions() < npart:
        train = train.repartition(npart)
    train = keep(train)
    if mode == "regression":
        evaluator = RegressionEvaluator(labelCol="__label", metricName="rmse")
        better = min
    else:
        # binary F1, not weighted — reference parity (see BinaryF1Evaluator)
        evaluator = BinaryF1Evaluator(labelCol="__label")
        better = max

    def _run_family(item) -> FamilyResult:
        name, (est, grid) = item
        cv = CrossValidator(
            estimator=_pipeline(est, features),
            estimatorParamMaps=grid,
            evaluator=evaluator,
            numFolds=num_folds,
            parallelism=parallelism,
            seed=SEED,
        )
        fitted = cv.fit(train)
        idx = fitted.avgMetrics.index(better(fitted.avgMetrics))
        params = {p.name: v for p, v in grid[idx].items()}
        return FamilyResult(name, params, float(better(fitted.avgMetrics)),
                            fitted.bestModel)

    # Families run concurrently from driver threads — each fold/grid fit
    # is a cluster job either way, and the scheduler interleaves them;
    # sequential families would leave the cluster idle between jobs.
    # Results keep dict order, so selection stays deterministic.
    from concurrent.futures import ThreadPoolExecutor

    try:
        with ThreadPoolExecutor(max_workers=max(1, len(families))) as pool:
            results = list(pool.map(_run_family, families.items()))
    finally:
        release(train)
    best = better(results, key=lambda r: r.cv_metric)
    return AutoMLResult(best=best, all_results=results)


def feature_importances(model: PipelineModel, features: list[str]) -> list[tuple[str, float]]:
    """(feature, importance) desc — data_analysis.py:183-187. Tree models
    expose featureImportances; linear models use |coefficient|."""
    est = model.stages[-1]
    if hasattr(est, "featureImportances"):
        imp = est.featureImportances.toArray()
    elif hasattr(est, "coefficients"):
        imp = [abs(c) for c in est.coefficients]
    else:
        raise ValueError(f"no importances on {type(est).__name__}")
    ranked = sorted(zip(features, map(float, imp)), key=lambda t: (-t[1], t[0]))
    return ranked


def save_model(model: PipelineModel, task_dir: str) -> None:
    """Per-task persistence (fixes the reference's global model.pkl)."""
    model.write().overwrite().save(f"{task_dir}/model")


def load_model(task_dir: str) -> PipelineModel:
    return PipelineModel.load(f"{task_dir}/model")
