"""Registered ML queries (rows-only checks — CV model selection is not
ANSI-SQL-expressible; the driver records the weaker rows-only result,
and tests/test_ml.py pins determinism instead; SURVEY.md §2.13 Q15)."""

from __future__ import annotations

from pyspark.ml.regression import DecisionTreeRegressor, LinearRegression
from pyspark.ml.tuning import ParamGridBuilder
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from auto_ml_platform_with_timeseries_data_spark.ml.automl import SEED, automl
from auto_ml_platform_with_timeseries_data_spark.registry import query
from auto_ml_platform_with_timeseries_data_spark.tables import keep, load_table

_FEATURES = ["l_quantity", "l_discount", "l_tax"]
_LABEL = "l_extendedprice"


@query("q15_cv_select")  # rows-only: CV search isn't SQL-expressible
def q15_cv_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best (family, params) by k-fold CV RMSE on a capped sample of
    lineitem (deterministic seed; capped so the driver-side check stays
    fast — the full-grid path is exercised in tests/bench)."""
    # Deterministic 1-in-3 hash sample, NOT limit(): a global limit
    # collapses to one partition, serializing every fold×grid fit; the
    # filter keeps scan parallelism. keep() because CrossValidator
    # re-reads the train set for every fold split + refit — without it
    # each of the ~14 fits re-scans parquet.
    li = keep(
        load_table(spark, sf_dir, "lineitem")
        .select(*_FEATURES, _LABEL)
        .filter(F.abs(F.xxhash64(*_FEATURES, _LABEL)) % 10 == 0)
    )
    li.count()
    lr = LinearRegression(featuresCol="features", labelCol="__label")
    dt = DecisionTreeRegressor(featuresCol="features", labelCol="__label",
                               seed=SEED)
    families = {
        "linear": (lr, ParamGridBuilder().addGrid(lr.regParam, [0.0, 0.1]).build()),
        "decision_tree": (dt, ParamGridBuilder().addGrid(dt.maxDepth, [3, 5]).build()),
    }
    result = automl(li, _FEATURES, _LABEL, mode="regression",
                    families=families, num_folds=3, parallelism=8)
    rows = [
        (r.family, str(sorted(r.best_params.items())), round(r.cv_metric, 4),
         1 if r.family == result.best.family else 0)
        for r in result.all_results
    ]
    return spark.createDataFrame(
        rows, "family string, best_params string, cv_rmse double, is_best int"
    )


@query("q47_ts_automl_per_group")  # rows-only: closed-form ridge per group
def q47_ts_automl_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed per-group TS model training — the operator the
    reference's dead TS branch intended (auto_machine_learning.py:100-107
    builds windows then trains nothing): lag-window features → per-group
    ordered split → one ridge fit per group inside Arrow applyInPandas.
    Coefficients are rounded so the rows-only hash is stable."""
    from auto_ml_platform_with_timeseries_data_spark.ml.ts_automl import (
        ts_automl_per_group,
    )

    ev = load_table(spark, sf_dir, "events")
    out = ts_automl_per_group(ev, "user_id", "ts", "value", look_back=3,
                              alpha=1.0, tie_break="event_id")
    return out.select(
        "group_key", "n_train", "n_test",
        F.round("test_rmse", 6).alias("test_rmse"),
        F.round("intercept", 6).alias("intercept"),
        *[F.round(F.col("coef")[i], 6).alias(f"coef_{i}") for i in range(3)],
    )


@query("q133_ts_lstm_per_group")  # rows-only: iterative Adam training
def q133_ts_lstm_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's actual TS model — LSTM(1→30)→Linear, MSE/Adam
    (model/models.py:4-31) — trained per group in pure numpy inside the
    same Arrow applyInPandas harness as q47 (no torch in this image;
    ml/ts_automl._lstm_kernel implements BPTT directly). Run on a
    deterministic subset of users (hash % 20) so the driver-side check
    stays fast: LSTM cost is epochs × groups, and the subset exercises
    the identical plan shape. Seeded per group key → reproducible
    across partitionings; rmse rounded COARSELY (3 decimals): 50 Adam
    epochs of BLAS matmuls amplify ulp-level differences between BLAS
    builds/thread counts, so a 6-decimal hash was host-stable only —
    3 decimals survives cross-host BLAS divergence."""
    from auto_ml_platform_with_timeseries_data_spark.ml.ts_automl import (
        ts_automl_per_group,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") % 20 == 0)
    out = ts_automl_per_group(ev, "user_id", "ts", "value", look_back=3,
                              tie_break="event_id", kernel="lstm",
                              lstm_epochs=50)
    return out.select(
        "group_key", "n_train", "n_test",
        F.round("test_rmse", 3).alias("test_rmse"),
    )


# ---------------------------------------------------------------------------
# q164 — portable EXACT twin of the per-group ridge kernel (M5)
# ---------------------------------------------------------------------------
#
# q47 runs the production applyInPandas ridge kernel (numpy
# normal-equations solve) and is rows-only. This twin applies the
# q141-q144 pattern to the ML tier: the same query shape — per-group
# (ts, event_id)-ordered lag windows, floor(n·0.8) ordered split,
# alpha=1.0 ridge with unpenalized intercept, held-out-tail RMSE — for
# look_back=1, where the normal equations collapse to closed form:
#
#   b = (n·Sxy − Sx·Sy) / (n·(Sxx+α) − Sx²),   c = (Sy − Sx·b) / n
#
# Exactness contract (the reason this is oracle-checkable while q47 is
# not): values are quantized to integers up front (floor(value·1e4) —
# one deterministic double op), so every aggregate the coefficients
# are built from (Sx, Sy, Sxx, Sxy, and the test sum of quantized
# squared residuals) is an exact BIGINT sum with NO accumulation-order
# sensitivity; b, c, rmse are then ONE fixed double expression over
# those exact integers, written token-identically in Spark and DuckDB.
# Overflow audit: |v|≤5.6e6 scaled ⇒ v² ≤ 3.2e13; 1e5 rows/group keeps
# every sum under 3.2e18 < 2^63−1 (DuckDB would raise, Spark non-ANSI
# would wrap — neither happens).

_RS = "10000.0"          # value scale (1e4)
_RS2 = "100000000.0"     # squared scale (1e8)

_RIDGE_TWIN_ORACLE = f"""
    WITH base AS (
      SELECT user_id, ts, event_id,
             CAST(floor(value * {_RS}) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL
    ),
    samp AS (
      SELECT user_id,
             row_number() OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             v,
             lead(v, 1) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS yv
      FROM base
    ),
    s2 AS (
      SELECT user_id, rn, v, yv,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM samp WHERE yv IS NOT NULL
    ),
    sp AS (
      SELECT user_id, rn, v, yv,
             CAST(floor(n * 0.8) AS BIGINT) AS sp_at
      FROM s2
    ),
    tr AS (
      SELECT user_id, count(*) AS n_train,
             CAST(sum(v) AS BIGINT) AS sx,
             CAST(sum(yv) AS BIGINT) AS sy,
             CAST(sum(v * v) AS BIGINT) AS sxx,
             CAST(sum(v * yv) AS BIGINT) AS sxy
      FROM sp WHERE rn <= sp_at GROUP BY user_id
    ),
    cf AS (
      SELECT user_id, n_train, sx, sy,
             (n_train * (sxy / {_RS2}) - (sx / {_RS}) * (sy / {_RS}))
             / (n_train * (sxx / {_RS2} + 1.0)
                - (sx / {_RS}) * (sx / {_RS})) AS b
      FROM tr
    ),
    cf2 AS (
      SELECT user_id, n_train, b,
             ((sy / {_RS}) - (sx / {_RS}) * b) / n_train AS c0
      FROM cf
    ),
    te AS (
      SELECT s.user_id, c.n_train, c.b, c.c0, count(*) AS n_test,
             CAST(sum(CAST(floor(
               (c.b * (s.v / {_RS}) + c.c0 - (s.yv / {_RS}))
               * (c.b * (s.v / {_RS}) + c.c0 - (s.yv / {_RS}))
               * 1000000.0) AS BIGINT)) AS BIGINT) AS sr
      FROM sp s JOIN cf2 c ON s.user_id = c.user_id
      WHERE s.rn > s.sp_at
      GROUP BY s.user_id, c.n_train, c.b, c.c0
    )
    SELECT user_id AS group_key, n_train, n_test,
           sqrt(sr / 1000000.0 / n_test) AS test_rmse,
           b AS coef_0, c0 AS intercept
    FROM te
"""


@query("q164_ridge_exact_twin", oracle=_RIDGE_TWIN_ORACLE)
def q164_ridge_exact_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked twin of the per-group TS ridge (M5; the intended
    semantics of the reference's dead TS branch,
    auto_machine_learning.py:100-107): look_back=1 closed-form ridge,
    built ENTIRELY from JVM expressions — quantize, one window pass for
    (rn, lead), exact-integer train aggregates, broadcast-join the
    per-group coefficients back onto the held-out tail. The plan is
    the 100 TB shape: one shuffle on the group key feeds the window,
    the split filter, and the final aggregate; coefficient state is
    one row per group."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wp = Window.partitionBy("user_id")
    samp = (
        ev.select("user_id", "ts", "event_id",
                  F.floor(F.col("value") * F.lit(10000.0)).cast("long")
                  .alias("v"))
        .withColumn("rn", F.row_number().over(w))
        .withColumn("yv", F.lead("v", 1).over(w))
        .filter(F.col("yv").isNotNull())
    )
    sp = samp.withColumn(
        "sp_at",
        F.floor(F.count(F.lit(1)).over(wp) * F.lit(0.8)).cast("long"))
    tr = (
        sp.filter(F.col("rn") <= F.col("sp_at"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_train"),
             F.sum("v").alias("sx"), F.sum("yv").alias("sy"),
             F.sum(F.col("v") * F.col("v")).alias("sxx"),
             F.sum(F.col("v") * F.col("yv")).alias("sxy"))
    )
    rs, rs2 = F.lit(10000.0), F.lit(100000000.0)
    b = (
        (F.col("n_train") * (F.col("sxy") / rs2)
         - (F.col("sx") / rs) * (F.col("sy") / rs))
        / (F.col("n_train") * (F.col("sxx") / rs2 + F.lit(1.0))
           - (F.col("sx") / rs) * (F.col("sx") / rs))
    )
    cf = tr.select("user_id", "n_train", "sx", "sy", b.alias("b"))
    c0 = ((F.col("sy") / rs) - (F.col("sx") / rs) * F.col("b")) \
        / F.col("n_train")
    cf2 = cf.select("user_id", "n_train", "b", c0.alias("c0"))
    resid = (F.col("b") * (F.col("v") / rs) + F.col("c0")
             - (F.col("yv") / rs))
    te = (
        sp.filter(F.col("rn") > F.col("sp_at"))
        .join(F.broadcast(cf2), "user_id")
        .groupBy("user_id", "n_train", "b", "c0")
        .agg(F.count(F.lit(1)).alias("n_test"),
             F.sum(F.floor(resid * resid * F.lit(1000000.0)).cast("long"))
             .alias("sr"))
    )
    return te.select(
        F.col("user_id").alias("group_key"), "n_train", "n_test",
        F.sqrt(F.col("sr") / F.lit(1000000.0) / F.col("n_test"))
        .alias("test_rmse"),
        F.col("b").alias("coef_0"), F.col("c0").alias("intercept"),
    )


# ---------------------------------------------------------------------------
# q166 — CV model selection witnessed on a planted optimum (M1/A12)
# ---------------------------------------------------------------------------


@query(
    "q166_cv_planted_optimum",
    oracle="""
    SELECT 'linear' AS family, 'regParam=0.0' AS best_params,
           CAST(0.0 AS DOUBLE) AS cv_rmse
    """,
)
def q166_cv_planted_optimum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable witness for the reference's core AutoML "query"
    — argmax over a CV grid (auto_machine_learning.py:29-36, M1/A12):
    a noiseless linear fixture y = 2·x1 − 3·x2 + 1 plants the optimum
    at (linear, regParam=0.0). That grid point attains CV RMSE ≈ 1e-13
    on EVERY fold split, regParam=0.5 shrinks coefficients on noiseless
    data (RMSE ≫ 0), and a depth-capped tree cannot memorize 100
    distinct (x1, x2) cells with 32 leaves — so the full CrossValidator
    machinery (fold assignment, per-grid-point fits, argmax, refit)
    must land on the planted point no matter the host, partitioning, or
    fold seed, and the emitted (family, params, 4-decimal metric) row
    is a CONSTANT the oracle states outright. Full-scale CV internals
    stay rows-only in q15 by design; this pins their selection
    semantics under the driver's value hash."""
    rows = [
        (float(i % 10), float((i // 10) % 10),
         2.0 * (i % 10) - 3.0 * ((i // 10) % 10) + 1.0)
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "x1 double, x2 double, y double")
    lr = LinearRegression(featuresCol="features", labelCol="__label")
    dt = DecisionTreeRegressor(featuresCol="features", labelCol="__label",
                               seed=SEED)
    families = {
        "linear": (lr, ParamGridBuilder()
                   .addGrid(lr.regParam, [0.0, 0.5]).build()),
        "decision_tree": (dt, ParamGridBuilder()
                          .addGrid(dt.maxDepth, [5]).build()),
    }
    result = automl(df, ["x1", "x2"], "y", mode="regression",
                    families=families, num_folds=3, parallelism=4)
    best = result.best
    params = ",".join(f"{k}={v}" for k, v in sorted(best.best_params.items()))
    return spark.createDataFrame(
        [(best.family, params, round(best.cv_metric, 4))],
        "family string, best_params string, cv_rmse double",
    )


# ---------------------------------------------------------------------------
# q181 — look-back sweep witnessed on a planted optimum (W3)
# ---------------------------------------------------------------------------


@query(
    "q181_ts_lookback_planted",
    oracle="""
    SELECT CAST(4 AS INT) AS look_back, 'linear' AS family,
           CAST(0.0 AS DOUBLE) AS test_rmse
    """,
)
def q181_ts_lookback_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver witness for the look-back sweep (W3 — the loop the
    reference's dead TS branch iterates, auto_machine_learning.py:
    100-107): a fixture where each group follows y_t = y_{t-4} + 1
    (four interleaved arithmetic tracks) plants the optimum at
    look_back=4 — windows of 2 or 3 lags literally do not contain the
    predictive lag, so their held-out RMSE is O(track spacing), while
    (4, linear) recovers y = lag_3 + 1 exactly on every split and
    every host; GBT approximates the same line in steps and cannot tie
    a 1e-13 RMSE. The swept argmax (q166's planted-optimum pattern
    applied to ts_automl_global) is therefore a CONSTANT the oracle
    states."""
    from auto_ml_platform_with_timeseries_data_spark.ml.ts_automl import (
        ts_automl_global,
    )

    rows = []
    for g in range(4):
        base = 100.0 * (g + 1)
        series = [base + 17.0 * (i % 4) for i in range(4)]
        for t in range(4, 80):
            series.append(series[t - 4] + 1.0)
        rows.extend((g, t, float(v)) for t, v in enumerate(series))
    df = spark.createDataFrame(rows, "g long, t long, y double")
    best = ts_automl_global(df, "g", "t", "y", look_backs=(2, 3, 4))
    return spark.createDataFrame(
        [(best.look_back, best.family, round(best.test_rmse, 4))],
        "look_back int, family string, test_rmse double",
    )


# ---------------------------------------------------------------------------
# q208 — expanding-window walk-forward backtest (the honest TS model
# evaluation: K folds, each training on all history before its test
# segment — q84's split generator actually RUN through the q164
# closed-form ridge, per (group, fold))
# ---------------------------------------------------------------------------

_BACKTEST_FOLDS = 3


_BACKTEST_ORACLE = f"""
    WITH base AS (
      SELECT user_id, ts, event_id,
             CAST(floor(value * {_RS}) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL
    ),
    samp AS (
      SELECT user_id,
             row_number() OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             v,
             lead(v, 1) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS yv
      FROM base
    ),
    s2 AS (
      SELECT user_id, rn, v, yv,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM samp WHERE yv IS NOT NULL
    ),
    folds AS (SELECT unnest([1, 2, 3]) AS k),
    sf AS (
      SELECT s.user_id, s.rn, s.v, s.yv, f.k,
             CAST(floor(s.n * f.k / 4.0) AS BIGINT) AS bound,
             CAST(floor(s.n * (f.k + 1) / 4.0) AS BIGINT) AS bound_next
      FROM s2 s CROSS JOIN folds f
    ),
    tr AS (
      SELECT user_id, k, count(*) AS n_train,
             CAST(sum(v) AS BIGINT) AS sx,
             CAST(sum(yv) AS BIGINT) AS sy,
             CAST(sum(v * v) AS BIGINT) AS sxx,
             CAST(sum(v * yv) AS BIGINT) AS sxy
      FROM sf WHERE rn <= bound GROUP BY user_id, k
      HAVING count(*) >= 2
    ),
    cf AS (
      SELECT user_id, k, n_train, sx, sy,
             (n_train * (sxy / {_RS2}) - (sx / {_RS}) * (sy / {_RS}))
             / (n_train * (sxx / {_RS2} + 1.0)
                - (sx / {_RS}) * (sx / {_RS})) AS b
      FROM tr
    ),
    cf2 AS (
      SELECT user_id, k, n_train, b,
             ((sy / {_RS}) - (sx / {_RS}) * b) / n_train AS c0
      FROM cf
    ),
    te AS (
      SELECT s.user_id, s.k, c.n_train, c.b, c.c0, count(*) AS n_test,
             CAST(sum(CAST(floor(
               (c.b * (s.v / {_RS}) + c.c0 - (s.yv / {_RS}))
               * (c.b * (s.v / {_RS}) + c.c0 - (s.yv / {_RS}))
               * 1000000.0) AS BIGINT)) AS BIGINT) AS sr
      FROM sf s JOIN cf2 c ON s.user_id = c.user_id AND s.k = c.k
      WHERE s.rn > s.bound AND s.rn <= s.bound_next
      GROUP BY s.user_id, s.k, c.n_train, c.b, c.c0
    )
    SELECT user_id AS group_key, CAST(k AS INT) AS fold,
           n_train, n_test,
           sqrt(sr / 1000000.0 / n_test) AS test_rmse,
           b AS coef_0, c0 AS intercept
    FROM te
"""


@query("q208_ts_backtest", oracle=_BACKTEST_ORACLE)
def q208_ts_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-forward backtest of the per-group ridge over 3 expanding
    folds: fold k trains on the first ⌊n·k/4⌋ ordered samples and
    tests on the next quarter — the evaluation protocol that respects
    time (no future leakage into any fold's training window; the
    q180/q183 leak-free discipline applied on the TIME axis). Exact-
    integer aggregates per (group, fold); coefficients broadcast back;
    per-fold RMSE one pinned double expression (the q164 contract).

    Scale: the fold dimension is a 3-row broadcast crossJoin — the
    events shuffle happens ONCE on the group key; every fold's train
    filter and test join reuse that partitioning. State is one
    coefficient row per (group, fold)."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wp = Window.partitionBy("user_id")
    rs, rs2 = F.lit(10000.0), F.lit(100000000.0)
    samp = (
        ev.select("user_id", "ts", "event_id",
                  F.floor(F.col("value") * rs).cast("long").alias("v"))
        .withColumn("rn", F.row_number().over(w))
        .withColumn("yv", F.lead("v", 1).over(w))
        .filter(F.col("yv").isNotNull())
        .withColumn("n", F.count(F.lit(1)).over(wp))
    )
    folds = spark.range(1, _BACKTEST_FOLDS + 1).select(
        F.col("id").cast("long").alias("k"))
    sf = (samp.crossJoin(F.broadcast(folds))
          .withColumn("bound",
                      F.floor(F.col("n") * F.col("k") / F.lit(4.0))
                      .cast("long"))
          .withColumn("bound_next",
                      F.floor(F.col("n") * (F.col("k") + 1) / F.lit(4.0))
                      .cast("long")))
    tr = (
        sf.filter(F.col("rn") <= F.col("bound"))
        .groupBy("user_id", "k")
        .agg(F.count(F.lit(1)).alias("n_train"),
             F.sum("v").alias("sx"), F.sum("yv").alias("sy"),
             F.sum(F.col("v") * F.col("v")).alias("sxx"),
             F.sum(F.col("v") * F.col("yv")).alias("sxy"))
        .filter(F.col("n_train") >= 2)
    )
    b = (
        (F.col("n_train") * (F.col("sxy") / rs2)
         - (F.col("sx") / rs) * (F.col("sy") / rs))
        / (F.col("n_train") * (F.col("sxx") / rs2 + F.lit(1.0))
           - (F.col("sx") / rs) * (F.col("sx") / rs))
    )
    cf = tr.select("user_id", "k", "n_train", "sx", "sy", b.alias("b"))
    c0 = ((F.col("sy") / rs) - (F.col("sx") / rs) * F.col("b")) \
        / F.col("n_train")
    cf2 = cf.select("user_id", "k", "n_train", "b", c0.alias("c0"))
    resid = (F.col("b") * (F.col("v") / rs) + F.col("c0")
             - (F.col("yv") / rs))
    te = (
        sf.filter((F.col("rn") > F.col("bound")) &
                  (F.col("rn") <= F.col("bound_next")))
        .join(F.broadcast(cf2), ["user_id", "k"])
        .groupBy("user_id", "k", "n_train", "b", "c0")
        .agg(F.count(F.lit(1)).alias("n_test"),
             F.sum(F.floor(resid * resid * F.lit(1000000.0)).cast("long"))
             .alias("sr"))
    )
    return te.select(
        F.col("user_id").alias("group_key"),
        F.col("k").cast("int").alias("fold"),
        "n_train", "n_test",
        F.sqrt(F.col("sr") / F.lit(1000000.0) / F.col("n_test"))
        .alias("test_rmse"),
        F.col("b").alias("coef_0"), F.col("c0").alias("intercept"),
    )


def automl_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ACTUAL end-to-end workload as one benchmarkable
    unit (VERDICT r8 #3): Task.ingest → pre_analyze →
    set_supervised_options → train(fast CV over the M2 grid) →
    evaluate-on-test, over lineitem's numeric features predicting
    l_extendedprice with a deterministic 80/20 hash split. NOT
    registered as a correctness query — CV internals are pinned by
    q166's planted optimum; this exists so bench.py's 2× wall gate
    covers the M1-M9 surface, not just the per-operator queries.
    Returns the one-row test RMSE frame (training already ran eagerly
    inside train())."""
    from auto_ml_platform_with_timeseries_data_spark.catalog import Task

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_discount", "l_tax", "l_extendedprice",
        (F.crc32(F.concat_ws("|", "l_orderkey", "l_linenumber")) % 5)
        .alias("__fold"))
    train = li.filter(F.col("__fold") != 0).drop("__fold")
    test = li.filter(F.col("__fold") == 0).drop("__fold")
    from auto_ml_platform_with_timeseries_data_spark.staging import staging_dir

    # per-process staging (not a fixed /tmp path): two concurrent bench
    # processes on one host must not share a Task storage root
    task = Task(spark, "bench_automl_e2e",
                storage_dir=staging_dir("bench_automl"))
    task.ingest(train).ingest_test(test)
    task.pre_analyze()
    task.set_supervised_options(label="l_extendedprice")
    task.train(mode="regression", fast=True)
    return task.evaluate()["rmse"]
