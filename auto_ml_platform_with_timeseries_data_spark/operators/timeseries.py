"""Grouped time-series operators (SURVEY.md §2.5 — W1-W3, A4; Q6-Q8).

Reference semantics (citations into /root/reference):

- ACF lags 0..k per group        data_analysis.py:105-118 (statsmodels.acf)
- per-group ordered 80/20 split  auto_machine_learning.py:117-119
  (test slice starts `look_back` rows BEFORE the split point so test
  windows are warm — the overlap is part of the contract)
- sliding-window sample builder  auto_machine_learning.py:121-131
  (stride 1; features = rows [i, i+L), label = row i+L's label value)
- look-back sweep                auto_machine_learning.py:104-106

pandas relied on implicit file order; the distributed contract is an
explicit (order_col, tie_break) sort key per group.

Scale notes: every operator is ONE window pass per group partition —
all k lags come out of a single ``Window.partitionBy(g).orderBy(ts)``
(one shuffle on the group key, then sorted within partitions; Spark
evaluates the k lag expressions in the same window frame traversal).
The per-group mean table is k×smaller than the input and broadcast.
Skewed group sizes are handled by AQE; for 100 TB, pre-bucketing the
table by group key removes the shuffle entirely.
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window, WindowSpec

from auto_ml_platform_with_timeseries_data_spark.registry import query
from auto_ml_platform_with_timeseries_data_spark.tables import load_table

# ---------------------------------------------------------------------------
# Shared per-series prelude (the forecast and ts_features kernels)
# ---------------------------------------------------------------------------


def ordered_series(df: DataFrame, group_col: str, order: str,
                   value: Column, tie_break: str | None = None,
                   name: str = "__v") -> tuple[DataFrame, WindowSpec]:
    """(src, w): the integer series projected as (__g, order,
    [tie_break], <name> BIGINT) with NULL values dropped, and its
    per-series window ``partitionBy(__g).orderBy(order, tie_break)``."""
    ob = [F.asc(order)] + ([F.asc(tie_break)] if tie_break else [])
    src = df.select(F.col(group_col).alias("__g"),
                    F.col(order).alias(order),
                    *([F.col(tie_break).alias(tie_break)]
                      if tie_break else []),
                    value.cast("long").alias(name)).filter(
        F.col(name).isNotNull())
    return src, Window.partitionBy("__g").orderBy(*ob)


# ---------------------------------------------------------------------------
# Exact-statistics vocabulary: the readout pin, exact integer sums and
# moments, and money in cents — each in Spark and, for the oracles, in
# DuckDB SQL
# ---------------------------------------------------------------------------


def pin(c: Column) -> Column:
    """Round half-up at 1e-6 — the cross-engine readout pin. Not
    round(): the two engines' round() implementations disagree at the
    6th-decimal boundary even on bit-identical doubles."""
    return F.floor(c * 1e6 + F.lit(0.5)) / 1e6


def pin_sql(x: str) -> str:
    """`pin` in DuckDB SQL: the oracles' side of the same readout."""
    return f"floor(({x}) * 1e6 + 0.5) / 1e6"


def pin_float(x: float) -> float:
    """`pin` on a driver-side Python float (the same IEEE double)."""
    return math.floor(x * 1e6 + 0.5) / 1e6


def dec(c: Column) -> Column:
    """The exact integer accumulator: decimal(38,0), Spark's match for
    DuckDB's HUGEINT sum of BIGINT terms, so a wide sum neither
    overflows nor rounds on either engine."""
    return c.cast("decimal(38,0)")


def dec_sq(c: Column) -> Column:
    """c² at decimal(38,0): the exact Σv² term of a moment sum."""
    return dec(c) * dec(c)


def cents(c: Column | str) -> Column:
    """c × 100 rounded half-up: a money column in integer cents (or a
    rate in integer percent), the exact measure the statistics kernels
    read."""
    c = F.col(c) if isinstance(c, str) else c
    return F.floor(c * 100 + F.lit(0.5))


def cents_sql(x: str) -> str:
    """`cents` in DuckDB SQL, as a BIGINT."""
    return f"CAST(floor({x} * 100 + 0.5) AS BIGINT)"


def group_values(df: DataFrame, group_col: str, value: Column) -> DataFrame:
    """(__g, __v BIGINT): a grouped integer measure with the rows whose
    group or value is NULL dropped."""
    return df.select(F.col(group_col).alias("__g"),
                     value.cast("long").alias("__v")).filter(
        F.col("__g").isNotNull() & F.col("__v").isNotNull())


def exact_moments(src: DataFrame, value: str = "__v",
                  weight: str | None = None) -> DataFrame:
    """(__g, __ng, __sg, __ssg): each group's exact count n, Σv and Σv²
    at decimal(38,0). A `weight` column makes each row stand for that
    many copies of its value (a cell count): n = Σw, Σw·v, Σw·v²."""
    v = F.col(value)
    if weight is None:
        n, s, ss = F.count(F.lit(1)), F.sum(dec(v)), F.sum(dec_sq(v))
    else:
        w = F.col(weight)
        n, s, ss = (F.sum(w), F.sum(dec(v) * dec(w)),
                    F.sum(dec_sq(v) * dec(w)))
    return src.groupBy("__g").agg(n.cast("long").alias("__ng"),
                                  s.alias("__sg"), ss.alias("__ssg"))


def moments_sql(src: str, value: str = "v",
                weight: str | None = None) -> str:
    """`exact_moments` in DuckDB SQL: (g, ng, sg, ssg) per group g of
    the relation `src`, with HUGEINT sums."""
    w = f" * {weight}" if weight else ""
    n = f"sum({weight})" if weight else "count(*)"
    return (f"SELECT g, CAST({n} AS BIGINT) AS ng,"
            f" sum(CAST({value} AS HUGEINT){w}) AS sg,"
            f" sum(CAST({value} AS HUGEINT) * {value}{w}) AS ssg"
            f" FROM {src} GROUP BY g")


def event_cents_query(spark: SparkSession, sf_dir: str,
                      kernel: Callable[..., DataFrame],
                      **kwargs) -> DataFrame:
    """Run a per-series kernel over each user's non-NULL events value
    series in integer cents, ordered by (ts, event_id)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull())
    return kernel(ev, "user_id", "ts", cents("value"),
                  tie_break="event_id", **kwargs)


# The oracles' counterpart of event_cents_query: the same series as a
# DuckDB CTE, shared by oracles only (never generated from the Spark
# side, so each oracle stays an independent reference).
EVENT_CENTS_SRC_SQL = f"""src AS (
      SELECT user_id AS g, ts, event_id, {cents_sql("value")} AS v
      FROM events WHERE value IS NOT NULL
    )"""


# ---------------------------------------------------------------------------
# Reusable operators
# ---------------------------------------------------------------------------


def acf(df: DataFrame, group: str, order: str, value: str,
        max_lag: int = 10, tie_break: str | None = None,
        round_to: int = 6) -> DataFrame:
    """Autocorrelation function per group for lags 0..max_lag.

    acf(k) = Σₜ(xₜ−x̄)(xₜ₋ₖ−x̄) / Σₜ(xₜ−x̄)²  with x̄ the full-series mean
    (the statsmodels.acf definition the reference calls at
    data_analysis.py:111). Nulls in `value` are dropped first
    (data_analysis.py:110). Output: (group, lag, acf).
    """
    df = df.na.drop(subset=[value])
    order_cols = [order] + ([tie_break] if tie_break else [])
    w = Window.partitionBy(group).orderBy(*order_cols)
    lagged = df.select(
        group, value,
        *[F.lag(value, k).over(w).alias(f"__lag{k}") for k in range(1, max_lag + 1)],
    )
    means = df.groupBy(group).agg(F.avg(value).alias("__mean"))
    x, m = F.col(value), F.col("__mean")
    aggs = [F.sum((x - m) * (x - m)).alias("__num0")]
    aggs += [
        F.sum((x - m) * (F.col(f"__lag{k}") - m)).alias(f"__num{k}")
        for k in range(1, max_lag + 1)
    ]
    per_group = lagged.join(F.broadcast(means), group).groupBy(group).agg(*aggs)
    pairs = ", ".join(f"{k}, __num{k}" for k in range(max_lag + 1))
    return per_group.selectExpr(
        group, "__num0", f"stack({max_lag + 1}, {pairs}) as (lag, __num)"
    ).select(
        group,
        F.col("lag").cast("int").alias("lag"),
        # a constant series has zero variance: its autocorrelation is
        # undefined (statsmodels returns NaN) — NULL here, never an
        # ANSI divide error
        F.round(F.when(F.col("__num0") > 0,
                       F.col("__num") / F.col("__num0")),
                round_to).alias("acf"),
    )


def train_test_split_ordered(df: DataFrame, group: str, order: str,
                             train_frac: float = 0.8, look_back: int = 3,
                             tie_break: str | None = None) -> DataFrame:
    """Per-group ordered split with warm-up overlap (W1,
    auto_machine_learning.py:117-119): train = first floor(n·frac) rows,
    test = rows with rn > floor(n·frac) − look_back (so the first test
    window has `look_back` rows of history). Adds (rn, is_train, is_test).
    """
    order_cols = [order] + ([tie_break] if tie_break else [])
    w = Window.partitionBy(group).orderBy(*order_cols)
    part = Window.partitionBy(group)
    split = F.floor(F.count(F.lit(1)).over(part) * F.lit(train_frac))
    return (
        df.withColumn("rn", F.row_number().over(w))
        .withColumn("__split", split)
        .withColumn("is_train", F.when(F.col("rn") <= F.col("__split"), 1).otherwise(0))
        .withColumn(
            "is_test",
            F.when(F.col("rn") > F.col("__split") - look_back, 1).otherwise(0),
        )
        .drop("__split")
    )


def sliding_windows(df: DataFrame, group: str, order: str,
                    feature_cols: list[str], label: str, look_back: int,
                    tie_break: str | None = None) -> DataFrame:
    """W2 sample builder (auto_machine_learning.py:121-131), stride 1.

    Emits one row per window: `features` = array of `look_back` rows
    (each an array of feature values, oldest first), `label` = the label
    value of the row immediately AFTER the window. Windows whose label
    row doesn't exist (group tail) are dropped, matching the reference's
    range bound `len(group) - look_back`.
    """
    order_cols = [order] + ([tie_break] if tie_break else [])
    w = Window.partitionBy(group).orderBy(*order_cols)
    frame = w.rowsBetween(-(look_back - 1), 0)
    return (
        df.withColumn("rn", F.row_number().over(w))
        .withColumn("features", F.collect_list(F.array(*feature_cols)).over(frame))
        .withColumn("label", F.lead(label, 1).over(w))
        .filter((F.col("rn") >= look_back) & F.col("label").isNotNull())
    )


def sliding_windows_sweep(df: DataFrame, group: str, order: str,
                          feature_cols: list[str], label: str,
                          look_backs: list[int],
                          tie_break: str | None = None) -> dict[int, DataFrame]:
    """W3 look-back sweep (auto_machine_learning.py:104-106): build the
    max-look-back window ONCE, then F.slice the tail per candidate —
    one window pass instead of len(look_backs) passes."""
    lb_max = max(look_backs)
    base = sliding_windows(df, group, order, feature_cols, label, lb_max,
                           tie_break=tie_break)
    out: dict[int, DataFrame] = {}
    for lb in look_backs:
        if lb == lb_max:
            out[lb] = base
        else:
            # keep windows valid for this smaller look-back (rn >= lb),
            # which base (rn >= lb_max) already guarantees; take the last
            # `lb` rows of the max window.
            out[lb] = base.withColumn(
                "features", F.slice(F.col("features"), lb_max - lb + 1, lb)
            )
    return out


# ---------------------------------------------------------------------------
# Registered queries + oracles (events: group=user_id, order=ts/event_id)
# ---------------------------------------------------------------------------

_ACF_LAGS = 10
_LOOK_BACK = 3


def _acf_oracle() -> str:
    lag_cols = ", ".join(
        f"lag(value, {k}) OVER w AS lag{k}" for k in range(1, _ACF_LAGS + 1)
    )
    num_aggs = ", ".join(
        f"sum((value - mean) * (lag{k} - mean)) AS num{k}"
        for k in range(1, _ACF_LAGS + 1)
    )
    unions = " UNION ALL ".join(
        f"SELECT user_id, {k} AS lag, ROUND(CASE WHEN num0 > 0 THEN"
        f" num{k} / num0 END, 6) AS acf FROM a"
        for k in range(1, _ACF_LAGS + 1)
    )
    return f"""
    WITH m AS (SELECT user_id, avg(value) AS mean FROM events GROUP BY user_id),
    l AS (SELECT user_id, value, {lag_cols}
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    a AS (SELECT l.user_id,
                 sum((value - mean) * (value - mean)) AS num0,
                 {num_aggs}
          FROM l JOIN m USING (user_id) GROUP BY l.user_id)
    SELECT user_id, 0 AS lag,
           ROUND(CASE WHEN num0 > 0 THEN num0 / num0 END, 6) AS acf FROM a
    UNION ALL {unions}
    """


@query("q06_acf", oracle=_acf_oracle())
def q06_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return acf(ev, "user_id", "ts", "value", _ACF_LAGS, tie_break="event_id")


@query(
    "q07_ts_split",
    oracle=f"""
    SELECT user_id, event_id, CAST(rn AS INT) AS rn,
           CASE WHEN rn <= split THEN 1 ELSE 0 END AS is_train,
           CASE WHEN rn > split - {_LOOK_BACK} THEN 1 ELSE 0 END AS is_test
    FROM (SELECT user_id, event_id,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
                 FLOOR(count(*) OVER (PARTITION BY user_id) * 0.8) AS split
          FROM events)
    """,
)
def q07_ts_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return train_test_split_ordered(
        ev, "user_id", "ts", 0.8, _LOOK_BACK, tie_break="event_id"
    ).select("user_id", "event_id", "rn", "is_train", "is_test")


@query(
    "q08_ts_windows",
    oracle=f"""
    SELECT user_id, event_id, f1, f2, f3, label
    FROM (SELECT user_id, event_id,
                 row_number() OVER w AS rn,
                 lag(value, 2)  OVER w AS f1,
                 lag(value, 1)  OVER w AS f2,
                 value          AS f3,
                 lead(value, 1) OVER w AS label
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    WHERE rn >= {_LOOK_BACK} AND label IS NOT NULL
    """,
)
def q08_ts_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    win = sliding_windows(ev, "user_id", "ts", ["value"], "value", _LOOK_BACK,
                          tie_break="event_id")
    # flattened form (f1..fL scalar columns) so the oracle can mirror it
    return win.select(
        "user_id", "event_id",
        F.col("features")[0][0].alias("f1"),
        F.col("features")[1][0].alias("f2"),
        F.col("features")[2][0].alias("f3"),
        "label",
    )


def dominant_acf_lag(df: DataFrame, group: str, order: str, value: str,
                     max_lag: int = 10,
                     tie_break: str | None = None) -> DataFrame:
    """(group, best_lag, best_acf): the lag in 1..max_lag with the
    highest autocorrelation per series — the data-driven prior for the
    reference's look-back sweep (W3, ml/ts_automl.py): instead of
    grid-searching look_back blindly, seed the sweep at each series'
    dominant lag. Ranks the ALREADY-1e-6-ROUNDED acf values (q06's
    operator), so the argmax is deterministic cross-engine, with the
    smallest lag breaking ties. Constant series (every acf NULL)
    report NULL-by-contract. One extra numerous-small-groups rank
    window over q06's (group × max_lag)-sized output."""
    a = acf(df, group, order, value, max_lag, tie_break=tie_break)
    w = Window.partitionBy(group).orderBy(
        F.desc_nulls_last("acf"), F.asc("lag"))
    return (a.filter(F.col("lag") >= 1)
            .withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
            .select(group,
                    F.when(F.col("acf").isNotNull(), F.col("lag"))
                    .cast("int").alias("best_lag"),
                    F.col("acf").alias("best_acf")))


def _dominant_lag_oracle() -> str:
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


@query("q266_dominant_acf_lag", oracle=_dominant_lag_oracle())
def q266_dominant_acf_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series dominant autocorrelation lag — the argmax over
    q06's rounded ACF table, the data-driven seed for the reference's
    look-back sweep (W3). One hash-checked row per user_id."""
    ev = load_table(spark, sf_dir, "events")
    return dominant_acf_lag(ev, "user_id", "ts", "value", _ACF_LAGS,
                            tie_break="event_id")


_PACF_LAGS = 5


def _dl_steps(max_lag: int) -> list[tuple[str, str]]:
    """Durbin–Levinson unrolled to `max_lag` as (column, expression)
    pairs over the PINNED ACF columns r1..r{max_lag}. The SAME strings
    feed Spark's F.expr and the DuckDB oracle's CTE chain, so the two
    engines evaluate literally identical arithmetic on identical
    doubles — the strongest form of the token-identity discipline. A
    zero reflection denominator (degenerate/near-deterministic series)
    propagates NULL via nullif."""
    steps = [("phi_1_1", "r1")]
    for k in range(2, max_lag + 1):
        num = " - ".join(
            [f"r{k}"] + [f"phi_{k - 1}_{j} * r{k - j}"
                         for j in range(1, k)])
        den = " - ".join(
            ["1"] + [f"phi_{k - 1}_{j} * r{j}" for j in range(1, k)])
        steps.append((f"phi_{k}_{k}",
                      f"({num}) / nullif({den}, 0.0)"))
        for j in range(1, k):
            steps.append((f"phi_{k}_{j}",
                          f"phi_{k - 1}_{j} - phi_{k}_{k}"
                          f" * phi_{k - 1}_{k - j}"))
    return steps


def pacf(df: DataFrame, group: str, order: str, value: str,
         max_lag: int = _PACF_LAGS,
         tie_break: str | None = None) -> DataFrame:
    """(group, lag, pacf): the partial autocorrelation function per
    series for lags 1..max_lag — ACF's standard partner (ACF tails off
    for AR processes; PACF CUTS OFF at the AR order, which is exactly
    the look-back the reference's W3 sweep hunts for, so this is the
    model-identification read behind q266's dominant-lag prior).
    Durbin–Levinson over the ALREADY-PINNED per-series ACF values
    (q06's operator), unrolled to fixed expressions shared verbatim
    with the oracle. Round-11 registration candidate.

    Scale shape: q06's lag-window pass, then a (group × max_lag)
    pivot and a fixed chain of scalar expressions per group — nothing
    beyond the ACF's own cost. Constant series (ACF NULL) and zero
    reflection denominators report NULL-by-contract."""
    a = acf(df, group, order, value, max_lag, tie_break=tie_break)
    wide = a.groupBy(group).agg(
        *[F.max(F.when(F.col("lag") == k, F.col("acf"))).alias(f"r{k}")
          for k in range(1, max_lag + 1)])
    cur = wide
    for name, expr in _dl_steps(max_lag):
        cur = cur.withColumn(name, F.expr(expr))
    pairs = ", ".join(f"{k}, phi_{k}_{k}"
                      for k in range(1, max_lag + 1))
    out = cur.selectExpr(group,
                         f"stack({max_lag}, {pairs}) as (lag, __p)")
    return out.select(
        group, F.col("lag").cast("int").alias("lag"),
        pin(F.col("__p")).alias("pacf"))


def _pacf_oracle(max_lag: int = _PACF_LAGS) -> str:
    rs = ",\n             ".join(
        f"max(CASE WHEN lag = {k} THEN acf END) AS r{k}"
        for k in range(1, max_lag + 1))
    ctes = []
    prev = "wide"
    for i, (name, expr) in enumerate(_dl_steps(max_lag)):
        ctes.append(f"s{i} AS (SELECT *, {expr} AS {name} FROM {prev})")
        prev = f"s{i}"
    unions = "\n    UNION ALL ".join(
        f"SELECT user_id, {k} AS lag,"
        f" {pin_sql(f'phi_{k}_{k}')} AS pacf FROM {prev}"
        for k in range(1, max_lag + 1))
    return f"""
    WITH acf_rows AS ({_acf_oracle()}),
    wide AS (
      SELECT user_id,
             {rs}
      FROM acf_rows GROUP BY user_id
    ),
    {", ".join(ctes)}
    {unions}
    """


@query("q291_pacf", oracle=_pacf_oracle())
def q291_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PACF lags 1..5 per user series — Durbin-Levinson unrolled over
    q06's pinned ACF with the SAME generated expression strings
    feeding F.expr and the oracle CTEs (literal token identity), so
    every (user, lag, pacf) row hash-checks."""
    ev = load_table(spark, sf_dir, "events")
    return pacf(ev, "user_id", "ts", "value", tie_break="event_id")
