"""Per-series one-step forecasting with a built-in walk-forward
backtest: truncated simple-exponential-smoothing (SES) over an alpha
grid with best-alpha selection, and Holt's linear-trend method, both
expressed as FIXED finite linear filters.

The reference's whole purpose is predicting a future value from a
per-unit time series (remaining-useful-life, /root/reference/README.md
:40-47; the grouped-TS AutoML path auto_machine_learning.py:100-107)
— this module adds the named forecast operator that story was missing:
q208 backtests an externally supplied prediction column, q69's EWMA
smooths history; this PRODUCES the forecast, scores it walk-forward,
and picks the smoothing constant per series.

Design (the q291/q295 unroll pattern): the exponential-smoothing
recurrences are linear in the observations, so the one-step-ahead
forecast is a weighted sum of past values.  Truncating at a fixed
window W and renormalizing to unit DC gain turns both SES and Holt
into FINITE filters

    yhat_{t+1|t} = sum_{j=1..W} c_j * y_{t+1-j}

whose coefficients are computed ONCE in Python and embedded as float
literals in BOTH engines (Spark expression and DuckDB oracle), exactly
like q295's trig grid — identical bit patterns by construction, no
per-row recurrence, no UDF.  Truncation error decays geometrically
((1-alpha)^W for SES, |eig|^W for Holt's companion matrix); W = 16
puts it below the 1e-6 pin for alpha >= 0.3 and the TRUNCATED filter
itself is the documented contract (same stance as q69's lookback).

Scale shape: ONE shuffle — the per-series window partition (row_number
+ W lags in a single pass); the alpha grid is a CONSTANT fan-out 9
explode; the per-(series, alpha) aggregate map-side combines; best-
alpha is a rank window over 9 rows per series.  Exactness: every
coefficient*lag product quantizes to floor(c*l*1e6) BIGINT before any
sum, so filter outputs, residuals, and squared-residual sums are exact
integers (DECIMAL(38,0)/HUGEINT for the squares) — a bare multi-term
double dot-product diverges cross-engine by one FMA contraction, a
failure observed, not theorized.  Would hold at 1000 executors: series
are user-keyed
(numerous small partitions), no skew, no driver loop, no collect.

Shared structure.  Every lag-window kernel starts from ONE prelude,
``_lagged`` (timeseries.ordered_series's projected series plus the row
index, the W lags and the last-row flag); the fixed-filter kernels
score each model through ``_score_cols`` and the model-pooling kernels
(q343/q348) aggregate through ``_pooled``.  The filter itself is
``_filt_q_col`` on the Spark side and ``_filt_sql`` in the oracles.
The oracles share ``_lagged_sql`` and three builders of their own —
``_fanned_oracle`` (any set of fixed filters, q309/q343/q348, and
through ``_filter_oracle`` the single filters q310/q328/q332) and
``_mase_oracle`` (q312/q333) — and never SQL generated from the Spark
side, so each stays an independent reference.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from auto_ml_platform_with_timeseries_data_spark.operators.timeseries import (
    EVENT_CENTS_SRC_SQL,
    _dominant_lag_oracle,
    dominant_acf_lag,
    event_cents_query,
    ordered_series,
    pin,
)
from auto_ml_platform_with_timeseries_data_spark.registry import query
from auto_ml_platform_with_timeseries_data_spark.tables import load_table

_FC_W = 16
_FC_ALPHAS = (0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)
_HOLT_ALPHA, _HOLT_BETA = 0.5, 0.3


def ses_weights(alpha: float, window: int = _FC_W) -> list[float]:
    """Truncated-normalized SES filter: w_j = a(1-a)^(j-1) / norm,
    j = 1..W, norm = 1 - (1-a)^W (the exact real-arithmetic sum, so
    the weights sum to 1 and a constant series forecasts itself).
    Plain Python doubles — deterministic, literal-embeddable."""
    decay = 1.0 - alpha
    norm = 1.0 - decay ** window
    return [alpha * decay ** (j - 1) / norm for j in range(1, window + 1)]


def holt_weights(alpha: float = _HOLT_ALPHA, beta: float = _HOLT_BETA,
                 window: int = _FC_W, phi: float = 1.0) -> list[float]:
    """Holt's linear method as a finite filter, with optional trend
    DAMPING (Gardner–McKenzie phi; phi = 1 is classic Holt and
    reproduces the original weights bit-for-bit).  State (l_t, b_t)
    evolves as s_t = M s_{t-1} + y_t u with

        M = [[1-a, (1-a)φ], [-ab, φ(1-ab)]],   u = (a, ab)

    (substitute the level update l_t = a y_t + (1-a)(l+φb) into the
    trend update b_t = b(l_t-l_{t-1}) + (1-b)φ b_{t-1} to see the
    second row), and the one-step forecast l_t + φ b_t = sum_j c_j
    y_{t-j} with c_j = (1,φ) . M^j u.  Truncated at W and renormalized
    to unit sum (level-unbiased); the negative tail weights are what
    carry the trend response.  Plain Python doubles."""
    m11, m12 = 1.0 - alpha, (1.0 - alpha) * phi
    m21, m22 = -alpha * beta, phi * (1.0 - alpha * beta)
    vx, vy = alpha, alpha * beta
    cs = []
    for _ in range(window):
        cs.append(vx + phi * vy)
        vx, vy = m11 * vx + m12 * vy, m21 * vx + m22 * vy
    s = sum(cs)
    return [c / s for c in cs]


def _lagged(df: DataFrame, group_col: str, order: str, value: Column,
            tie_break: str | None, nlags: int) -> DataFrame:
    """The shared prelude of the lag-window kernels: per row of the
    ordered integer series, __l0 = v_t, __i = its 1-based index,
    __v1 = the series' first value, __l1..__l{nlags} = its lags and
    __last = "is the series' final row".  ONE window pass; a kernel
    that never reads __v1 or __last loses it to column pruning."""
    src, w = ordered_series(df, group_col, order, value, tie_break)
    lagged = src.select(
        "__g", F.col("__v").alias("__l0"),
        F.row_number().over(w).alias("__i"),
        F.first("__v").over(w.rowsBetween(
            Window.unboundedPreceding, 0)).alias("__v1"),
        *[F.lag("__v", j).over(w).alias(f"__l{j}")
          for j in range(1, nlags + 1)])
    return lagged.withColumn(
        "__last",
        F.col("__i") == F.max("__i").over(Window.partitionBy("__g")))


def _filt_q_col(cs: list[float], off: int, quantum: float,
                prefix: str = "__l") -> Column:
    """The exact-integer linear filter Σⱼ floor(cⱼ·colⱼ·Q) over the
    columns ``{prefix}{j + off}`` as ONE parsed SQL expression.

    Each coefficient*lag product quantizes to floor(c*l*Q) BEFORE the
    sum, so the filter output is an exact INTEGER in both engines — a
    16-term double dot-product would be one FMA-contraction away from
    a cross-engine ulp (the q295 per-product discipline, learned here
    the hard way).  One expression per model (guide §1.2 "per-task
    work" applied to the DRIVER: building this sum term-by-term
    through the Column API cost q343 ~12 s of py4j round trips per
    build — 62k socket messages + PySpark's per-call call-site capture
    — while one F.expr per model is a single round trip and a sub-ms
    JVM parse).

    The parsed tree is node-identical to the Column build it replaced:
    `{c!r}D` lexes through Double.parseDouble (correctly-rounded
    strtod, same bits as F.lit(c)), products stay left-associated,
    each term keeps its CAST(FLOOR(..) AS BIGINT), and `+` parses
    left-assoc exactly like the incremental `expr + term` loop. Same
    analyzed plan ⇒ bit-identical results."""
    return F.expr(" + ".join(
        f"CAST(FLOOR({float(c)!r}D * {prefix}{j + off}"
        f" * {float(quantum)!r}D) AS BIGINT)"
        for j, c in enumerate(cs)))


def _score_cols(models: list[tuple[float, list[float]]],
                window: int) -> list[Column]:
    """Per model m over a ``_lagged`` frame: __e2_m = the squared
    walk-forward one-step error (rows with a full W-lag history) and
    __fn_m = the next-step forecast (the last row only).

    Backtest quantum 1e2 (not 1e6): the exact-integer SSE must stay
    under 2^53 so its double readout is EXACT in both engines — a
    DECIMAL(38,0)->double (Spark) vs HUGEINT->double (DuckDB) cast of
    the SAME >2^53 integer can land one ulp apart (observed at sf0.1
    with quantum 1e6).  Contract: sum of (e*1e2)^2 per series under
    9.0e11 value^2 units, i.e. under 2^53.  r15: the squares
    accumulate as BIGINT, not DECIMAL(38,0) — the per-row BigDecimal
    multiply was the kernel's measured allocation wall, and under the
    SAME 2^53 contract the double readout already needs, the long
    arithmetic is value-identical (sums below 2^53 are exact in
    either type)."""
    cols = []
    for m, (_, cs) in enumerate(models):
        eq = F.col("__l0") * F.lit(100) - _filt_q_col(cs, 1, 1e2)
        cols.append(F.when(F.col("__i") > window, eq * eq)
                    .alias(f"__e2_{m}"))
        cols.append(F.when(F.col("__last"), _filt_q_col(cs, 0, 1e6))
                    .alias(f"__fn_{m}"))
    return cols


def _pooled(df: DataFrame, group_col: str, order: str, value: Column,
            tie_break: str | None,
            models: list[tuple[float, list[float]]]) -> DataFrame:
    """(__g, n_scored, __s_m, __f_m per model): every model scores in
    its OWN aggregate columns over ONE grouped pass (the q343/q348
    no-explode shape, see best_family_forecast); all models share one
    window, so one count serves them all."""
    window = len(models[0][1])
    lagged = _lagged(df, group_col, order, value, tie_break, window)
    return lagged.select("__g", *_score_cols(models, window)).groupBy(
        "__g").agg(
        F.count("__e2_0").cast("long").alias("n_scored"),
        *[a for m in range(len(models)) for a in (
            F.sum(f"__e2_{m}").alias(f"__s_{m}"),
            F.max(f"__fn_{m}").alias(f"__f_{m}"))])


def linear_filter_forecast(df: DataFrame, group_col: str, order: str,
                           value: Column,
                           models: list[tuple[float, list[float]]],
                           tie_break: str | None = None) -> DataFrame:
    """(group, alpha, n_scored, sse, forecast_next) per (series,
    model): walk-forward one-step backtest of each fixed linear filter
    plus the next-step forecast from the series tail.

    Per row t with a full W-lag history, the backtest forecast is
    sum_j floor(c_j * y_{t-j} * 1e6) (lags 1..W, an exact integer) and
    e_t = y_t*1e6 - f_t; sse sums the exact integer squares (reported
    in value^2 units, /1e12, pinned).  `forecast_next` evaluates the same
    filter over lags 0..W-1 at the LAST row (NULL when the series is
    shorter than W — by contract).  Series with no scored row (n <= W)
    emit no output row (documented; the walk-forward score is
    undefined there).  All models share the one window pass and the
    constant-fan-out explode."""
    if not models:
        raise ValueError("linear_filter_forecast needs at least one model")
    window = len(models[0][1])
    if any(len(cs) != window for _, cs in models):
        raise ValueError("all models must share one window length")
    lagged = _lagged(df, group_col, order, value, tie_break, window)
    # r15 plan shape (the q343 no-explode lesson applied back to this
    # kernel): every model scores in its OWN aggregate column pair over
    # ONE grouped pass, and the (group, alpha) row fan-out happens
    # AFTER aggregation — |models| struct rows per GROUP, not per
    # source row.  The old per-row explode pushed |models|·N rows
    # through the hash aggregate and its 9-model struct array was one
    # CreateArray expression (the shape that measurably falls off
    # whole-stage codegen at q343's width).  Per-(g, alpha) aggregates
    # are unchanged: same e2/fn expressions, same sums over the same
    # rows, regrouped by construction.
    scored = lagged.select("__g", *_score_cols(models, window))
    per = scored.groupBy("__g").agg(
        *[a for m in range(len(models)) for a in (
            F.count(f"__e2_{m}").cast("long").alias(f"__n_{m}"),
            F.sum(f"__e2_{m}").alias(f"__s_{m}"),
            F.max(f"__fn_{m}").alias(f"__f_{m}"))])
    rows = per.select("__g", F.explode(F.array(*[
        F.struct(
            F.lit(alpha).alias("alpha"),
            F.col(f"__n_{m}").alias("n_scored"),
            (F.col(f"__s_{m}").cast("double") / F.lit(1e4))
            .alias("sse"),
            (F.col(f"__f_{m}").cast("double") / F.lit(1e6))
            .alias("forecast_next"))
        for m, (alpha, _) in enumerate(models)])).alias("__m"))
    return (rows.select("__g", "__m.*")
            .filter(F.col("n_scored") > 0)
            .select(F.col("__g").alias(group_col), "alpha", "n_scored",
                    "sse", "forecast_next"))


def ses_best_forecast(df: DataFrame, group_col: str, order: str,
                      value: Column,
                      alphas: tuple[float, ...] = _FC_ALPHAS,
                      tie_break: str | None = None) -> DataFrame:
    """(group, best_alpha, n_scored, sse, forecast_next): sweep the
    truncated-SES filter over the alpha grid, score each walk-forward,
    keep the per-series argmin (ties to the SMALLEST alpha — the
    smoother model wins a draw).  The grid is one constant fan-out;
    selection is a rank window over |grid| rows per series on the
    PINNED sse, so the pick is deterministic cross-engine."""
    models = [(a, ses_weights(a)) for a in alphas]
    per = linear_filter_forecast(df, group_col, order, value, models,
                                 tie_break=tie_break)
    wr = Window.partitionBy(group_col).orderBy(F.asc("sse"),
                                               F.asc("alpha"))
    return (per.withColumn("__r", F.row_number().over(wr))
            .filter(F.col("__r") == 1)
            .select(group_col, F.col("alpha").alias("best_alpha"),
                    "n_scored", "sse", "forecast_next"))


def holt_forecast(df: DataFrame, group_col: str, order: str,
                  value: Column, alpha: float = _HOLT_ALPHA,
                  beta: float = _HOLT_BETA,
                  tie_break: str | None = None) -> DataFrame:
    """(group, n_scored, sse, forecast_next): Holt's linear-trend
    one-step forecast at fixed (alpha, beta) as a finite filter, with
    the same walk-forward SSE contract as the SES sweep — run both and
    compare sse to learn whether a series carries a trend worth the
    extra parameter."""
    per = linear_filter_forecast(
        df, group_col, order, value,
        [(alpha, holt_weights(alpha, beta))], tie_break=tie_break)
    return per.select(group_col, "n_scored", "sse", "forecast_next")


def _filt_sql(cs: list[float], off: int, quantum: str,
              prefix: str = "l") -> str:
    # CAST('<repr>' AS DOUBLE) — the STRING cast — is LOAD-BEARING,
    # and a bare numeric cast is NOT enough.  DuckDB parses a 17-digit
    # float repr as DECIMAL; both the exact-decimal product path AND
    # the CAST(decimal AS DOUBLE) path DOUBLE-ROUND (the decimal's
    # 17-digit integer mantissa exceeds 2^53, so int->double then
    # *10^-scale rounds twice), landing 1 ulp off Spark's
    # correctly-rounded double literal.  With renormalization-free
    # weights (window-40 SES: s = 1 - 4e-16 rounds c back to its
    # "nice" 2-digit value) that ulp sits ON a floor boundary —
    # measured: 14 diverging users at sf0.1 on q343 as decimal
    # (0.24*4414*1e2 -> 105935.99999999999 vs Spark 105936.00000000001)
    # and still 1 user under the numeric cast (0.21000000000000002
    # -> 0.21...0001 after the double-rounding).  strtod on the quoted
    # repr is correctly rounded, so the oracle computes the engine's
    # exact doubles by construction.
    return " + ".join(
        f"CAST(floor(CAST('{c!r}' AS DOUBLE) * {prefix}{j + off}"
        f" * {quantum}) AS BIGINT)"
        for j, c in enumerate(cs))


def _lagged_sql(nlags: int) -> str:
    """Oracle prelude: the events cents series per user with row index
    i, the last-row flag is_last and lags l1..l{nlags}."""
    lags = ",\n             ".join(
        f"lag(v, {j}) OVER w AS l{j}" for j in range(1, nlags + 1))
    return f"""
    WITH {EVENT_CENTS_SRC_SQL},
    lagged AS (
      SELECT g, v AS l0,
             row_number() OVER w AS i,
             row_number() OVER w = count(*) OVER (PARTITION BY g)
               AS is_last,
             {lags}
      FROM src
      WINDOW w AS (PARTITION BY g ORDER BY ts, event_id)
    )"""


def _fanned_oracle(models: list[tuple[float, list[float]]]) -> str:
    """CTEs through ``pinned`` (g, code, n_scored, sse, forecast_next):
    each fixed filter's walk-forward SSE and next-step forecast per
    series, one UNION branch per model; series with no scored row are
    dropped."""
    window = len(models[0][1])
    branches = []
    for code, cs in models:
        fb, fn = _filt_sql(cs, 1, "1e2"), _filt_sql(cs, 0, "1e6")
        branches.append(f"""
      SELECT g, CAST({code!r} AS DOUBLE) AS code,
             CASE WHEN i > {window} THEN
               CAST(l0 * 100 - ({fb}) AS HUGEINT)
               * (l0 * 100 - ({fb}))
             END AS e2,
             CASE WHEN is_last THEN {fn} END AS fn
      FROM lagged""")
    union = "\n      UNION ALL".join(branches)
    return f"""{_lagged_sql(window)},
    fanned AS ({union}
    ),
    per AS (
      SELECT g, code, CAST(count(e2) AS BIGINT) AS n_scored,
             sum(e2) AS sse_q, max(fn) AS fnext
      FROM fanned GROUP BY g, code
    ),
    pinned AS (
      SELECT g, code, n_scored,
             CAST(sse_q AS DOUBLE) / 1e4 AS sse,
             CAST(fnext AS DOUBLE) / 1e6 AS forecast_next
      FROM per WHERE n_scored > 0
    )"""


def _filter_oracle(cs: list[float]) -> str:
    """One fixed filter's (user, n_scored, sse, forecast_next)."""
    return _fanned_oracle([(0.0, cs)]) + """
    SELECT g AS user_id, n_scored, sse, forecast_next FROM pinned
    """


def _ses_oracle(alphas: tuple[float, ...] = _FC_ALPHAS,
                window: int = _FC_W) -> str:
    models = [(a, ses_weights(a, window)) for a in alphas]
    return _fanned_oracle(models) + """
    SELECT g AS user_id, code AS best_alpha, n_scored, sse,
           forecast_next
    FROM (SELECT *, row_number() OVER (PARTITION BY g
            ORDER BY sse ASC, code ASC) AS r FROM pinned)
    WHERE r = 1
    """


@query("q309_ses_forecast", oracle=_ses_oracle())
def q309_ses_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user best-alpha truncated-SES one-step forecast with the
    walk-forward SSE that chose it — the named forecasting read the
    reference's RUL story implies (/root/reference/README.md:40-47),
    every (user, best_alpha, n_scored, sse, forecast_next) row
    hash-checked against the same python-generated filter weights."""
    return event_cents_query(spark, sf_dir, ses_best_forecast)


@query("q310_holt_forecast", oracle=_filter_oracle(holt_weights()))
def q310_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Holt linear-trend one-step forecast at (0.5, 0.3) with
    its walk-forward SSE — read next to q309: where Holt's sse beats
    every SES alpha the series carries a trend worth modeling."""
    return event_cents_query(spark, sf_dir, holt_forecast)


# ---------------------------------------------------------------------------
# Holt–Winters additive (level + season, no trend) — the SEASONAL
# member of the q309/q310 filter family.  The reference's domain is
# CYCLIC sensor data (/root/reference/README.md:40-47), and the tier
# had trend (q310) and seasonality DETECTION (q316) but nothing that
# forecasts WITH the season; this closes that hole.
#
# Same LTI-unroll trick as holt_weights, one dimension up: the state
# x_t = (l_t, s_t, s_{t-1}, ..., s_{t-m+1}) is a level plus an m-slot
# seasonal SHIFT REGISTER, and the HW updates
#
#     l_t = (1-a) l_{t-1} + a y_t - a s_{t-m}
#     s_t = g(1-a) y_t - g(1-a) l_{t-1} + (ga + 1 - g) s_{t-m}
#
# are one CONSTANT companion matrix A (the registers shift down), so
# yhat_{t+1|t} = l_t + s_{t+1-m} = (e_0+e_m)' x_t unrolls to a FIXED
# finite filter c_j = (e_0+e_m)' A^{j-1} u, truncated at W and
# renormalized to unit sum (level-unbiased).  W = 5 seasons puts the
# truncated seasonal tail at (1-g)^5 ≈ 3% before renormalization; the
# truncated filter itself is the documented contract (q309 stance).
# Scale shape identical to q310: ONE window pass, W lags, exact
# per-product quantization, no UDF, no recurrence.
# ---------------------------------------------------------------------------

_HW_ALPHA, _HW_GAMMA = 0.3, 0.5
_HW_PERIOD = 8
_HW_W = 5 * _HW_PERIOD


def holt_winters_weights(alpha: float = _HW_ALPHA,
                         gamma: float = _HW_GAMMA,
                         period: int = _HW_PERIOD,
                         window: int = _HW_W) -> list[float]:
    """Additive Holt–Winters one-step forecast as a finite filter:
    iterate v <- A v from v = u, reading c_j = v[0] + v[m] each step
    (level + the season slot that predicts t+1), then renormalize to
    unit sum.  Plain Python doubles — deterministic and
    literal-embeddable in both engines."""
    m = period
    dim = m + 1
    a = [[0.0] * dim for _ in range(dim)]
    a[0][0] = 1.0 - alpha
    a[0][m] = -alpha
    a[1][0] = -gamma * (1.0 - alpha)
    a[1][m] = gamma * alpha + 1.0 - gamma
    for k in range(2, dim):
        a[k][k - 1] = 1.0
    v = [0.0] * dim
    v[0] = alpha
    v[1] = gamma * (1.0 - alpha)
    cs = []
    for _ in range(window):
        cs.append(v[0] + v[m])
        v = [sum(a[r][c] * v[c] for c in range(dim)) for r in range(dim)]
    s = sum(cs)
    return [c / s for c in cs]


def holt_winters_forecast(df: DataFrame, group_col: str, order: str,
                          value: Column, alpha: float = _HW_ALPHA,
                          gamma: float = _HW_GAMMA,
                          period: int = _HW_PERIOD,
                          window: int = _HW_W,
                          tie_break: str | None = None) -> DataFrame:
    """(group, n_scored, sse, forecast_next): additive Holt–Winters
    one-step forecast at fixed (alpha, gamma, period) with the same
    walk-forward SSE contract as q309/q310 — read the three together:
    the smallest sse among {SES, Holt, HW} says whether the series is
    flat, trended, or seasonal."""
    per = linear_filter_forecast(
        df, group_col, order, value,
        [(alpha, holt_winters_weights(alpha, gamma, period, window))],
        tie_break=tie_break)
    return per.select(group_col, "n_scored", "sse", "forecast_next")


@query("q328_holt_winters", oracle=_filter_oracle(holt_winters_weights()))
def q328_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user additive Holt–Winters one-step forecast at
    (alpha=0.3, gamma=0.5, period=8) with its walk-forward SSE — the
    seasonal completion of the q309/q310 family; every (user,
    n_scored, sse, forecast_next) row hash-checked against the same
    python-generated companion-matrix filter weights."""
    return event_cents_query(spark, sf_dir, holt_winters_forecast)


# ---------------------------------------------------------------------------
# q332 — DAMPED-trend Holt (Gardner–McKenzie 1985): the robustness
# member of the family.  Classic Holt extrapolates the local trend
# forever — the documented failure mode on mean-reverting sensor
# series — while phi < 1 geometrically flattens it (h-step forecast
# l + (φ+..+φ^h) b), which M3/M4-competition evidence made the
# production default for automatic trend forecasting.  Same finite-
# filter unroll as q310 (holt_weights with phi), same walk-forward
# SSE contract, so q310 vs q332 sse per series answers "is this trend
# persistent or transient" the way q309 vs q310 answers "is there a
# trend at all".
# ---------------------------------------------------------------------------

_DHOLT_PHI = 0.85


def damped_holt_forecast(df: DataFrame, group_col: str, order: str,
                         value: Column, alpha: float = _HOLT_ALPHA,
                         beta: float = _HOLT_BETA,
                         phi: float = _DHOLT_PHI,
                         tie_break: str | None = None) -> DataFrame:
    """(group, n_scored, sse, forecast_next): phi-damped Holt one-step
    forecast at fixed (alpha, beta, phi) — q310's contract with the
    trend response geometrically damped."""
    per = linear_filter_forecast(
        df, group_col, order, value,
        [(alpha, holt_weights(alpha, beta, phi=phi))],
        tie_break=tie_break)
    return per.select(group_col, "n_scored", "sse", "forecast_next")


@query("q332_damped_holt",
       oracle=_filter_oracle(holt_weights(phi=_DHOLT_PHI)))
def q332_damped_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user phi-damped Holt one-step forecast at (0.5, 0.3,
    phi=0.85) with its walk-forward SSE — read against q310: a series
    where damping LOWERS the sse carries a transient trend the
    undamped filter over-extrapolates.  Every (user, n_scored, sse,
    forecast_next) row hash-checked."""
    return event_cents_query(spark, sf_dir, damped_holt_forecast)


# ---------------------------------------------------------------------------
# AR(2) one-step forecast — conditional least squares on the CENTERED
# series.  The reference's RUL story is "predict the next value from
# recent history" (/root/reference/README.md:40-47); q309/q310 answer
# it with fixed smoothing filters, this answers it with a FITTED
# autoregression: the per-series coefficients themselves are the
# readout (b1/b2 near (2,-1) = near-unit-root trend; near 0 = noise).
#
# Design: demean (the hac_variance mean-join shape), then each of the
# five normal-equation sums quantizes PER PRODUCT to floor(x*1e4)
# BIGINT before one map-side-combined group-by — the 2x2 system
#     [sxx sxz][b1]   [sxy]
#     [sxz szz][b2] = [szy]
# solves by Cramer's rule with the determinant and numerators as exact
# DECIMAL(38,0)/HUGEINT integer products (~1e28 at sf0.1 — in range),
# so b1/b2 are single double ratios of identical integers in both
# engines, pinned once.  ONE window pass + ONE aggregate; no UDF, no
# driver math.  Would hold at 1000 executors: series-keyed shuffle,
# constant per-row cost.
_AR2_Q = 1e4


def ar2_forecast(df: DataFrame, group_col: str, order: str,
                 value: Column,
                 tie_break: str | None = None) -> DataFrame:
    """(group, n, nobs, b1, b2, forecast_next): per-series AR(2) by
    conditional least squares on centered values; forecast_next =
    mean + b1*(v_n - mean) + b2*(v_{n-1} - mean) evaluated from the
    PINNED coefficients (the documented contract — readers reproduce
    the forecast from the emitted b1/b2).  nobs counts the regression
    rows (t >= 3); nobs < 5 or a singular/degenerate system reports
    b1/b2/forecast NULL-by-contract (one row per series either way)."""
    src, w = ordered_series(df, group_col, order, value, tie_break)
    means = src.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.sum("__v").cast("double")
         / F.count(F.lit(1))).alias("__m"))
    lagged = src.select(
        "__g", "__v",
        F.row_number().over(w).alias("__i"),
        F.lag("__v", 1).over(w).alias("__x"),
        F.lag("__v", 2).over(w).alias("__z"))
    last = Window.partitionBy("__g")
    lagged = lagged.withColumn(
        "__last", F.col("__i") == F.max("__i").over(last))
    j = lagged.join(means, "__g")
    cy = F.col("__v") - F.col("__m")
    cx = F.col("__x") - F.col("__m")
    cz = F.col("__z") - F.col("__m")
    # Each quantized term is cast to decimal(38,0) BEFORE the sum so
    # accumulation matches the oracle's per-row HUGEINT headroom: a
    # long accumulator overflows at ~9.2e18 (≈1e14-magnitude terms ×
    # ~1e5 rows/series), which larger SFs can reach; decimal(38,0)
    # cannot.
    q = lambda c: (F.floor(c * F.lit(_AR2_Q))  # noqa: E731
                   .cast("decimal(38,0)"))
    reg = F.col("__z").isNotNull()
    s = lambda c: F.sum(F.when(reg, c))  # noqa: E731
    per = j.groupBy("__g").agg(
        F.max("n").alias("n"),
        F.max("__m").alias("__m"),
        F.sum(F.when(reg, F.lit(1)).otherwise(F.lit(0)))
        .cast("long").alias("nobs"),
        s(q(cx * cx)).cast("decimal(38,0)").alias("__sxx"),
        s(q(cz * cz)).cast("decimal(38,0)").alias("__szz"),
        s(q(cx * cz)).cast("decimal(38,0)").alias("__sxz"),
        s(q(cx * cy)).cast("decimal(38,0)").alias("__sxy"),
        s(q(cz * cy)).cast("decimal(38,0)").alias("__szy"),
        F.max(F.when(F.col("__last"), F.col("__v"))).alias("__vn"),
        F.max(F.when(F.col("__last"), F.col("__x"))).alias("__vn1"))
    det = (F.col("__sxx") * F.col("__szz")
           - F.col("__sxz") * F.col("__sxz"))
    num1 = (F.col("__szz") * F.col("__sxy")
            - F.col("__sxz") * F.col("__szy"))
    num2 = (F.col("__sxx") * F.col("__szy")
            - F.col("__sxz") * F.col("__sxy"))
    ok = (F.col("nobs") >= 5) & (det.cast("double") > 0) \
        & F.col("__vn1").isNotNull()
    b1 = pin(num1.cast("double") / det.cast("double"))
    b2 = pin(num2.cast("double") / det.cast("double"))
    fc = (F.col("__m")
          + b1 * (F.col("__vn") - F.col("__m"))
          + b2 * (F.col("__vn1") - F.col("__m")))
    return per.select(
        F.col("__g").alias(group_col), "n", "nobs",
        F.when(ok, b1).alias("b1"),
        F.when(ok, b2).alias("b2"),
        F.when(ok, pin(fc / F.lit(100.0))).alias("forecast_next"))


_AR2_ORACLE = f"""
    WITH {EVENT_CENTS_SRC_SQL},
    means AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(v) AS DOUBLE) / count(*) AS m
      FROM src GROUP BY g
    ),
    lagged AS (
      SELECT g, v,
             row_number() OVER w AS i,
             row_number() OVER w = count(*) OVER (PARTITION BY g)
               AS is_last,
             lag(v, 1) OVER w AS x,
             lag(v, 2) OVER w AS z
      FROM src
      WINDOW w AS (PARTITION BY g ORDER BY ts, event_id)
    ),
    per AS (
      SELECT l.g, max(n) AS n, max(m) AS m,
             CAST(count(z) AS BIGINT) AS nobs,
             sum(CASE WHEN z IS NOT NULL THEN CAST(floor(
               (x - m) * (x - m) * 1e4) AS HUGEINT) END) AS sxx,
             sum(CASE WHEN z IS NOT NULL THEN CAST(floor(
               (z - m) * (z - m) * 1e4) AS HUGEINT) END) AS szz,
             sum(CASE WHEN z IS NOT NULL THEN CAST(floor(
               (x - m) * (z - m) * 1e4) AS HUGEINT) END) AS sxz,
             sum(CASE WHEN z IS NOT NULL THEN CAST(floor(
               (x - m) * (v - m) * 1e4) AS HUGEINT) END) AS sxy,
             sum(CASE WHEN z IS NOT NULL THEN CAST(floor(
               (z - m) * (v - m) * 1e4) AS HUGEINT) END) AS szy,
             max(CASE WHEN is_last THEN v END) AS vn,
             max(CASE WHEN is_last THEN x END) AS vn1
      FROM lagged l JOIN means USING (g) GROUP BY l.g
    ),
    solved AS (
      SELECT g, n, nobs, m, vn, vn1,
             sxx * szz - sxz * sxz AS det,
             szz * sxy - sxz * szy AS num1,
             sxx * szy - sxz * sxy AS num2
      FROM per
    ),
    pinned AS (
      SELECT g, n, nobs, m, vn, vn1, det,
             floor(CAST(num1 AS DOUBLE) / CAST(det AS DOUBLE)
                   * 1e6 + 0.5) / 1e6 AS b1,
             floor(CAST(num2 AS DOUBLE) / CAST(det AS DOUBLE)
                   * 1e6 + 0.5) / 1e6 AS b2
      FROM solved
    )
    SELECT g AS user_id, n, nobs,
           CASE WHEN nobs >= 5 AND CAST(det AS DOUBLE) > 0
                AND vn1 IS NOT NULL THEN b1 END AS b1,
           CASE WHEN nobs >= 5 AND CAST(det AS DOUBLE) > 0
                AND vn1 IS NOT NULL THEN b2 END AS b2,
           CASE WHEN nobs >= 5 AND CAST(det AS DOUBLE) > 0
                AND vn1 IS NOT NULL THEN
             floor((m + b1 * (vn - m) + b2 * (vn1 - m)) / 100.0
                   * 1e6 + 0.5) / 1e6
           END AS forecast_next
    FROM pinned
    """


@query("q311_ar2_forecast", oracle=_AR2_ORACLE)
def q311_ar2_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user AR(2) conditional-least-squares fit and one-step
    forecast — the FITTED autoregression beside q309/q310's fixed
    filters; every (user, n, nobs, b1, b2, forecast_next) row
    hash-checked with the 2x2 normal equations solved in exact
    integer arithmetic."""
    return event_cents_query(spark, sf_dir, ar2_forecast)


# ---------------------------------------------------------------------------
# MASE — mean absolute SCALED error (Hyndman & Koehler 2006), the
# scale-free accuracy readout that completes the forecast tier: q309
# picks alpha by squared error, this scores the fixed alpha=0.5 SES
# filter against the one-step NAIVE forecast (yhat_t = y_{t-1}), the
# denominator that makes accuracy comparable ACROSS series of
# different magnitudes.  MASE < 1 = the model beats naive persistence.
#
# Same one-window-pass shape as linear_filter_forecast; both absolute
# error sums are exact integers (model errors in the 1e2 backtest
# quantum, naive errors in raw cents), so the two MAEs and their ratio
# are single double reads over identical integers, pinned once.
_MASE_ALPHA = 0.5


def mase_backtest(df: DataFrame, group_col: str, order: str,
                  value: Column, alpha: float = _MASE_ALPHA,
                  window: int = _FC_W,
                  tie_break: str | None = None,
                  coeffs: list[float] | None = None,
                  naive_lag: int = 1) -> DataFrame:
    """(group, n_model, n_naive, mae_model, mae_naive, mase): walk-
    forward one-step MAE of a fixed linear filter (rows with a full
    W-lag history) over the MAE of the naive lag-``naive_lag``
    forecast, per series.  Defaults reproduce q312 exactly: the
    truncated-SES(alpha) filter against the lag-1 naive.  ``coeffs``
    substitutes any filter from this module (window = len(coeffs));
    ``naive_lag`` = the season length gives the SEASONAL-naive
    denominator — the Hyndman (2006) form a seasonal series must be
    scored against, since lag-1 naive is artificially terrible on a
    strong cycle and flatters any model.  The two counts differ by
    contract (the filter needs W rows of history, naive needs
    naive_lag) — MASE uses each mean over its own support, the
    standard out-of-sample form.  Series with no scored model row or
    zero naive MAE report mase NULL-by-contract; series with no naive
    row emit nothing."""
    cs = coeffs if coeffs is not None else ses_weights(alpha, window)
    window = len(cs)
    lagged = _lagged(df, group_col, order, value, tie_break,
                     max(window, naive_lag))
    filt = _filt_q_col(cs, 1, 1e2)
    e_model = F.when(F.col("__i") > window,
                     F.abs(F.col("__l0") * F.lit(100) - filt))
    e_naive = F.when(F.col("__i") > naive_lag,
                     F.abs(F.col("__l0") - F.col(f"__l{naive_lag}")))
    per = lagged.groupBy("__g").agg(
        F.count(e_model).cast("long").alias("n_model"),
        F.count(e_naive).cast("long").alias("n_naive"),
        F.sum(e_model.cast("decimal(38,0)")).alias("__sm"),
        F.sum(e_naive.cast("decimal(38,0)")).alias("__sn"))
    mae_m = F.col("__sm").cast("double") / F.lit(1e2) \
        / F.col("n_model") / F.lit(100.0)
    mae_n = F.col("__sn").cast("double") / F.col("n_naive") \
        / F.lit(100.0)
    ok = (F.col("n_model") > 0) & (F.col("__sn").cast("double") > 0)
    return (per.filter(F.col("n_naive") > 0)
            .select(F.col("__g").alias(group_col),
                    "n_model", "n_naive",
                    F.when(F.col("n_model") > 0, pin(mae_m))
                    .alias("mae_model"),
                    pin(mae_n).alias("mae_naive"),
                    F.when(ok, pin(mae_m / mae_n)).alias("mase")))


def _mase_oracle(cs: list[float], naive_lag: int) -> str:
    """(user, n_model, n_naive, mae_model, mae_naive, mase) of one
    fixed filter against the lag-``naive_lag`` naive forecast."""
    window = len(cs)
    fb = _filt_sql(cs, 1, "1e2")
    return f"""{_lagged_sql(max(window, naive_lag))},
    scored AS (
      SELECT g,
             CASE WHEN i > {window} THEN
               CAST(abs(l0 * 100 - ({fb})) AS HUGEINT) END AS em,
             CASE WHEN i > {naive_lag} THEN
               CAST(abs(l0 - l{naive_lag}) AS HUGEINT) END AS en
      FROM lagged
    ),
    per AS (
      SELECT g, CAST(count(em) AS BIGINT) AS n_model,
             CAST(count(en) AS BIGINT) AS n_naive,
             sum(em) AS sm, sum(en) AS sn
      FROM scored GROUP BY g
    )
    SELECT g AS user_id, n_model, n_naive,
           CASE WHEN n_model > 0 THEN
             floor(CAST(sm AS DOUBLE) / 1e2 / n_model / 100.0
                   * 1e6 + 0.5) / 1e6 END AS mae_model,
           floor(CAST(sn AS DOUBLE) / n_naive / 100.0
                 * 1e6 + 0.5) / 1e6 AS mae_naive,
           CASE WHEN n_model > 0 AND CAST(sn AS DOUBLE) > 0 THEN
             floor((CAST(sm AS DOUBLE) / 1e2 / n_model / 100.0)
                   / (CAST(sn AS DOUBLE) / n_naive / 100.0)
                   * 1e6 + 0.5) / 1e6 END AS mase
    FROM per WHERE n_naive > 0
    """


@query("q312_mase_backtest",
       oracle=_mase_oracle(ses_weights(_MASE_ALPHA), 1))
def q312_mase_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user MASE of the SES(0.5) one-step forecast vs naive
    persistence — the scale-free accuracy score the forecast tier
    reports across series of different magnitudes; every row
    hash-checked over exact-integer absolute-error sums."""
    return event_cents_query(spark, sf_dir, mase_backtest)


@query("q333_seasonal_mase",
       oracle=_mase_oracle(holt_winters_weights(), _HW_PERIOD))
def q333_seasonal_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user SEASONAL MASE: the q328 Holt–Winters filter's
    walk-forward MAE over the SEASONAL-naive (lag-8) MAE — the Hyndman
    (2006) denominator a cyclic series must be scored against, since
    lag-1 naive is artificially terrible on a strong cycle and
    flatters any model.  mase < 1 here means the HW filter genuinely
    beats repeating last season; every row hash-checked over
    exact-integer absolute-error sums."""
    return event_cents_query(spark, sf_dir, mase_backtest,
                             coeffs=holt_winters_weights(),
                             naive_lag=_HW_PERIOD)


# ---------------------------------------------------------------------------
# Theta-style forecast: SES plus HALF the drift.  Assimakopoulos &
# Nikolopoulos's theta method (the M3 competition winner) decomposes
# the series into theta-lines; Hyndman & Billah 2003 proved the
# classic Theta(0,2) variant equals SES WITH DRIFT ADDED AT HALF
# WEIGHT.  This operator implements that equivalence with the
# truncated SES(0.5) filter (the q309 kernel) and the endpoint drift
# estimator (v_t - v_1)/(t-1) — each choice documented, both engines
# token-identical.
#
# Same one-window-pass shape as linear_filter_forecast; the drift
# increment quantizes per row (floor(x*1e2) for the backtest,
# floor(x*1e6) for the final forecast) so every error stays an exact
# integer.
def theta_forecast(df: DataFrame, group_col: str, order: str,
                   value: Column, alpha: float = 0.5,
                   window: int = _FC_W,
                   tie_break: str | None = None) -> DataFrame:
    """(group, n_scored, sse, forecast_next): walk-forward one-step
    backtest of SES(alpha) + drift/2, where the drift at row t uses
    only data through t-1 ((v_{t-1} - v_1)/(t-2) — honest
    walk-forward).  Scored rows need a full W-lag history AND t >= 3
    (two points to draw a drift); series with no scored row emit
    nothing; a series shorter than W reports forecast_next NULL (the
    q309 contract)."""
    cs = ses_weights(alpha, window)
    lagged = _lagged(df, group_col, order, value, tie_break,
                     window).withColumn(
        "__n", F.max("__i").over(Window.partitionBy("__g")))
    drift_bt = F.floor((F.col("__l1") - F.col("__v1"))
                       / (F.col("__i") - 2) / F.lit(2.0)
                       * F.lit(1e2)).cast("long")
    fq = _filt_q_col(cs, 1, 1e2) + drift_bt
    eq = F.col("__l0") * F.lit(100) - fq
    # BIGINT squares (r15): exact under the same 2^53 SSE contract the
    # double readout already requires — see linear_filter_forecast.
    e2 = F.when((F.col("__i") > window) & (F.col("__i") >= 3),
                eq * eq)
    drift_next = F.floor((F.col("__l0") - F.col("__v1"))
                         / (F.col("__n") - 1) / F.lit(2.0)
                         * F.lit(1e6)).cast("long")
    fn = F.when(F.col("__last") & (F.col("__n") >= 2),
                _filt_q_col(cs, 0, 1e6) + drift_next)
    per = lagged.groupBy("__g").agg(
        F.count(e2).cast("long").alias("n_scored"),
        F.sum(e2).alias("__sse"),
        F.max(fn).alias("__next"))
    return (per.filter(F.col("n_scored") > 0)
            .select(F.col("__g").alias(group_col), "n_scored",
                    (F.col("__sse").cast("double") / F.lit(1e4))
                    .alias("sse"),
                    (F.col("__next").cast("double") / F.lit(1e6))
                    .alias("forecast_next")))


def _theta_oracle(alpha: float = 0.5, window: int = _FC_W) -> str:
    cs = ses_weights(alpha, window)
    fb, fn = _filt_sql(cs, 1, "1e2"), _filt_sql(cs, 0, "1e6")
    return f"""{_lagged_sql(window)},
    ext AS (
      SELECT *, first_value(l0) OVER (PARTITION BY g ORDER BY i) AS v1,
             max(i) OVER (PARTITION BY g) AS nn
      FROM lagged
    ),
    scored AS (
      SELECT g,
             CASE WHEN i > {window} AND i >= 3 THEN
               CAST(l0 * 100 - (({fb})
                 + CAST(floor((l1 - v1) / (i - 2.0) / 2.0 * 1e2)
                        AS BIGINT)) AS HUGEINT)
               * (l0 * 100 - (({fb})
                 + CAST(floor((l1 - v1) / (i - 2.0) / 2.0 * 1e2)
                        AS BIGINT)))
             END AS e2,
             CASE WHEN is_last AND nn >= 2 THEN
               ({fn}) + CAST(floor((l0 - v1) / (nn - 1.0) / 2.0 * 1e6)
                             AS BIGINT)
             END AS fnext
      FROM ext
    ),
    per AS (
      SELECT g, CAST(count(e2) AS BIGINT) AS n_scored,
             sum(e2) AS sse_q, max(fnext) AS fnext
      FROM scored GROUP BY g
    )
    SELECT g AS user_id, n_scored,
           CAST(sse_q AS DOUBLE) / 1e4 AS sse,
           CAST(fnext AS DOUBLE) / 1e6 AS forecast_next
    FROM per WHERE n_scored > 0
    """


@query("q323_theta_forecast", oracle=_theta_oracle())
def q323_theta_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user theta-style (SES + half-drift) one-step forecast with
    its walk-forward SSE — read beside q309/q310: where theta's sse
    beats both, the series carries drift the level filter misses;
    every row hash-checked."""
    return event_cents_query(spark, sf_dir, theta_forecast)


# ---------------------------------------------------------------------------
# Croston's method (Croston 1972): the standard forecaster for
# INTERMITTENT series — demand that is often zero (spare parts,
# rare-event costs, sparse telemetry).  SES applied naively to such a
# series chases zeros; Croston smooths the NONZERO demand sizes and
# the INTER-DEMAND intervals separately and forecasts the per-period
# rate z_hat / q_hat.
#
# Same truncated-filter discipline as q309 (W = 8 here — intermittent
# series have few nonzero points, and (1-0.3)^8 < 6% tail): both
# filters evaluate ONCE at the last demand row over exact integer
# lags; sizes are cents, intervals are exact row-index gaps.  Two
# window passes (the all-rows index, then the compacted nonzero
# series) — no UDF, no iteration.
_CR_ALPHA = 0.3
_CR_W = 8


def croston_forecast(df: DataFrame, group_col: str, order: str,
                     demand: Column, alpha: float = _CR_ALPHA,
                     window: int = _CR_W,
                     tie_break: str | None = None) -> DataFrame:
    """(group, n, m_demands, z_hat, q_hat, rate): Croston per series.
    `demand` must be a non-negative integer expression; zeros are the
    intermittency.  Needs window demand lags AND window interval lags
    (m_demands >= window + 1) — shorter series report
    z_hat/q_hat/rate NULL-by-contract (one row per series with any
    demand)."""
    cs = ses_weights(alpha, window)
    src, w = ordered_series(df, group_col, order, demand, tie_break,
                            name="__d")
    idx = src.select("__g", "__d", F.row_number().over(w).alias("__i"))
    w2 = Window.partitionBy("__g").orderBy("__i")
    nz = (idx.filter(F.col("__d") > 0)
          .select("__g", "__d", "__i",
                  F.row_number().over(w2).alias("__j"),
                  (F.col("__i") - F.lag("__i", 1).over(w2))
                  .alias("__q")))
    lags = nz.select(
        "__g", "__j",
        *[F.lag("__d", j).over(w2).alias(f"__dz{j}")
          for j in range(0, window)],
        *[F.lag("__q", j).over(w2).alias(f"__qz{j}")
          for j in range(0, window)])
    last = Window.partitionBy("__g")
    lags = lags.withColumn("__m", F.max("__j").over(last)).filter(
        F.col("__j") == F.col("__m"))
    counts = idx.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("n"))
    per = lags.join(counts, "__g")
    zq = _filt_q_col(cs, 0, 1e6, "__dz")
    qq = _filt_q_col(cs, 0, 1e6, "__qz")
    ok = F.col("__m") >= window + 1
    z_hat = F.when(ok, zq.cast("double") / F.lit(1e6) / F.lit(100.0))
    q_hat = F.when(ok, qq.cast("double") / F.lit(1e6))
    return per.select(
        F.col("__g").alias(group_col), "n",
        F.col("__m").alias("m_demands"),
        pin(z_hat).alias("z_hat"),
        pin(q_hat).alias("q_hat"),
        F.when(ok & (qq > 0),
               pin(z_hat / q_hat)).alias("rate"))


def _croston_oracle(alpha: float = _CR_ALPHA,
                    window: int = _CR_W) -> str:
    cs = ses_weights(alpha, window)
    dz, qz = _filt_sql(cs, 0, "1e6", "dz"), _filt_sql(cs, 0, "1e6", "qz")
    dlags = ",\n             ".join(
        f"lag(d, {j}) OVER w2 AS dz{j}" for j in range(0, window))
    qlags = ",\n             ".join(
        f"lag(q, {j}) OVER w2 AS qz{j}" for j in range(0, window))
    return f"""
    WITH {EVENT_CENTS_SRC_SQL},
    idx AS (
      SELECT g, CASE WHEN v >= 800 THEN v ELSE 0 END AS d,
             row_number() OVER (PARTITION BY g ORDER BY ts, event_id)
               AS i
      FROM src
    ),
    nz AS (
      SELECT g, d, i,
             row_number() OVER w2 AS j,
             i - lag(i, 1) OVER w2 AS q
      FROM idx WHERE d > 0
      WINDOW w2 AS (PARTITION BY g ORDER BY i)
    ),
    lagged AS (
      SELECT g, j,
             max(j) OVER (PARTITION BY g) AS m,
             {dlags},
             {qlags}
      FROM nz
      WINDOW w2 AS (PARTITION BY g ORDER BY i)
    ),
    lastrow AS (
      SELECT * FROM lagged WHERE j = m
    ),
    counts AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n FROM idx GROUP BY g
    )
    SELECT l.g AS user_id, n, CAST(m AS BIGINT) AS m_demands,
           CASE WHEN m >= {window + 1} THEN
             floor(CAST({dz} AS DOUBLE) / 1e6 / 100.0
                   * 1e6 + 0.5) / 1e6 END AS z_hat,
           CASE WHEN m >= {window + 1} THEN
             floor(CAST({qz} AS DOUBLE) / 1e6
                   * 1e6 + 0.5) / 1e6 END AS q_hat,
           CASE WHEN m >= {window + 1} AND ({qz}) > 0 THEN
             floor((CAST({dz} AS DOUBLE) / 1e6 / 100.0)
                   / (CAST({qz} AS DOUBLE) / 1e6)
                   * 1e6 + 0.5) / 1e6 END AS rate
    FROM lastrow l JOIN counts USING (g)
    """


@query("q326_croston", oracle=_croston_oracle())
def q326_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Croston intermittent-demand forecast over the events
    value series thresholded at 8.0 (demand = the value when >= 8,
    else zero — the sparse-burst shape Croston was built for); every
    (user, n, m_demands, z_hat, q_hat, rate) row hash-checked."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull())
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    return croston_forecast(
        ev, "user_id", "ts",
        F.when(cents >= 800, cents).otherwise(F.lit(0)),
        tie_break="event_id")


# ---------------------------------------------------------------------------
# q334 — conformal one-step PREDICTION INTERVAL: the forecast tier's
# missing uncertainty readout.  Split-conformal logic on the walk-
# forward residuals the q309 backtest already produces: the 90th
# percentile (exact order statistic, percentile_disc convention) of
# |one-step error| over the scored rows is, by exchangeability, a
# finite-sample-valid half-width for the NEXT step's error — the same
# guarantee q245's conformal quantile gives regression residuals,
# specialized to the SES filter's own backtest.
#
# Exactness: residuals are the q309 exact integers; the order
# statistic picks rank ceil(0.9 n) by row_number over (|e| asc) —
# ties in |e| share a value, so which tied ROW wins cannot change the
# emitted number; floor((9n+9)/10) is exact in doubles to n ~ 2^49.
# ONE window pass for the filter + one slim rank window over scored
# rows.
# ---------------------------------------------------------------------------

_PI_ALPHA = 0.5       # the SES filter whose residuals calibrate the PI
# q90: rank ceil(num/den * n) = floor((num*n + den-1)/den).  Both the
# engine expression and the oracle derive the additive term from
# _PI_RANK_DEN so retargeting the quantile (e.g. 19/20 for q95) stays
# a one-line change that cannot silently desynchronize the rank.
_PI_RANK_NUM = 9
_PI_RANK_DEN = 10


def conformal_forecast_interval(df: DataFrame, group_col: str,
                                order: str, value: Column,
                                alpha: float = _PI_ALPHA,
                                window: int = _FC_W,
                                tie_break: str | None = None
                                ) -> DataFrame:
    """(group, n_scored, forecast_next, q90_abs_err, pi_lo, pi_hi):
    truncated-SES one-step forecast with a split-conformal 90%
    interval calibrated on the series' own walk-forward residuals.
    Series with no scored row emit nothing (q309 contract); the
    forecast is NULL when the tail is shorter than W (the filter
    contract) while the interval columns follow it."""
    cs = ses_weights(alpha, window)
    lagged = _lagged(df, group_col, order, value, tie_break, window)
    scored = lagged.select(
        "__g",
        F.when(F.col("__i") > window,
               F.abs(F.col("__l0") * F.lit(100)
                     - _filt_q_col(cs, 1, 1e2))).alias("__ae"),
        F.when(F.col("__last"), _filt_q_col(cs, 0, 1e6)).alias("__fn"))
    per = scored.groupBy("__g").agg(
        F.count("__ae").cast("long").alias("n_scored"),
        F.max("__fn").alias("__fnext"))
    ranked = (scored.filter(F.col("__ae").isNotNull())
              .withColumn("__rn", F.row_number().over(
                  Window.partitionBy("__g").orderBy(F.asc("__ae"))))
              .withColumn("__cnt", F.count(F.lit(1)).over(
                  Window.partitionBy("__g"))))
    pick = ranked.filter(
        F.col("__rn") == F.floor(
            (F.lit(float(_PI_RANK_NUM)) * F.col("__cnt")
             + F.lit(_PI_RANK_DEN - 1)) / F.lit(float(_PI_RANK_DEN)))
    ).select("__g", F.col("__ae").alias("__q90"))
    fc = F.col("__fnext").cast("double") / F.lit(1e6)
    hw = F.col("__q90").cast("double") / F.lit(1e4)
    return (per.join(pick, "__g")
            .filter(F.col("n_scored") > 0)
            .select(F.col("__g").alias(group_col), "n_scored",
                    pin(fc).alias("forecast_next"),
                    pin(hw).alias("q90_abs_err"),
                    pin(fc - hw).alias("pi_lo"),
                    pin(fc + hw).alias("pi_hi")))


def _conformal_pi_oracle(alpha: float = _PI_ALPHA,
                         window: int = _FC_W) -> str:
    cs = ses_weights(alpha, window)
    fb, fn = _filt_sql(cs, 1, "1e2"), _filt_sql(cs, 0, "1e6")
    return f"""{_lagged_sql(window)},
    scored AS (
      SELECT g,
             CASE WHEN i > {window} THEN
               CAST(abs(l0 * 100 - ({fb})) AS BIGINT) END AS ae,
             CASE WHEN is_last THEN {fn} END AS fnext
      FROM lagged
    ),
    per AS (
      SELECT g, CAST(count(ae) AS BIGINT) AS n_scored,
             max(fnext) AS fnext
      FROM scored GROUP BY g
    ),
    ranked AS (
      SELECT g, ae,
             row_number() OVER (PARTITION BY g ORDER BY ae) AS rn,
             count(*) OVER (PARTITION BY g) AS cnt
      FROM scored WHERE ae IS NOT NULL
    ),
    pick AS (
      SELECT g, ae AS q90 FROM ranked
      WHERE rn = floor(({_PI_RANK_NUM}.0 * cnt
                         + {_PI_RANK_DEN - 1}) / {_PI_RANK_DEN}.0)
    )
    SELECT p.g AS user_id, p.n_scored,
           floor(CAST(p.fnext AS DOUBLE) / 1e6 * 1e6 + 0.5) / 1e6
             AS forecast_next,
           floor(CAST(k.q90 AS DOUBLE) / 1e4 * 1e6 + 0.5) / 1e6
             AS q90_abs_err,
           floor((CAST(p.fnext AS DOUBLE) / 1e6
                  - CAST(k.q90 AS DOUBLE) / 1e4) * 1e6 + 0.5) / 1e6
             AS pi_lo,
           floor((CAST(p.fnext AS DOUBLE) / 1e6
                  + CAST(k.q90 AS DOUBLE) / 1e4) * 1e6 + 0.5) / 1e6
             AS pi_hi
    FROM per p JOIN pick k ON p.g = k.g
    WHERE p.n_scored > 0
    """


@query("q334_conformal_forecast_pi", oracle=_conformal_pi_oracle())
def q334_conformal_forecast_pi(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Per-user SES(0.5) one-step forecast with a split-conformal 90%
    prediction interval calibrated on each series' own walk-forward
    residuals — the uncertainty readout the q309-q333 point forecasts
    were missing; every (user, n_scored, forecast_next, q90_abs_err,
    pi_lo, pi_hi) row hash-checked over exact order statistics."""
    return event_cents_query(spark, sf_dir, conformal_forecast_interval)


# ---------------------------------------------------------------------------
# q335 — DETECTED-period seasonal-naive forecast: q266's dominant-ACF
# period detection FUSED into a forecast (the q329 detect-then-act
# pipeline pattern, applied to the forecast tier).  q328 forecasts
# with a FIXED declared period; this one lets each series pick its
# own m = argmax ACF(1..10), then forecasts v_{n+1-m} and backtests
# the same rule walk-forward — the standard "seasonal naive with
# estimated period" baseline every seasonal model must beat.
#
# The dynamic per-series lag cannot be a window lag (no variable
# offsets in SQL windows): the backtest joins the row-number frame to
# itself on (g, i = i + m) — an equi-join on (g, i-m)/(g, i), ONE
# shuffle each side, no window at all.  Errors and the forecast pick
# are exact integers; mae is one pinned division.
# ---------------------------------------------------------------------------


def seasonal_naive_detected(df: DataFrame, group_col: str, order: str,
                            detect_col: str, value: Column,
                            max_lag: int = 10,
                            tie_break: str | None = None) -> DataFrame:
    """(group, n, period, n_scored, mae_snaive, forecast_next):
    per-series seasonal-naive forecast at the detected dominant-ACF
    period.  ``detect_col`` feeds the ACF detection (q266's operator,
    raw column by name); ``value`` is the already-quantized integer
    series the naive errors and the forecast read.  Series whose ACF
    is all-NULL (constant) detect no period and emit no row
    (documented); n_scored = n - period."""
    # r15 optimization: per (one row per series) and idx (narrow
    # (g, v, i, n) over the source) each feed multiple downstream
    # subtrees (cur → the lag join AND the forecast filter; base) —
    # unpersisted, the plan re-ran the ACF detection twice and the
    # source scan + index window four times (7 source scans). Persist
    # both; callers run under sessions that clear caches between
    # queries.
    per = dominant_acf_lag(df, group_col, order, detect_col, max_lag,
                           tie_break=tie_break).filter(
        F.col("best_lag").isNotNull()).select(
        F.col(group_col).alias("__g"),
        F.col("best_lag").cast("long").alias("__m")).persist()
    src, w = ordered_series(df, group_col, order, value, tie_break)
    idx = src.select(
        "__g", "__v", F.row_number().over(w).alias("__i"),
        F.count(F.lit(1)).over(Window.partitionBy("__g")).alias("__n"))\
        .persist()
    cur = (idx.join(per, "__g")
           .select("__g", "__m", "__n",
                   F.col("__i").alias("__ci"),
                   F.col("__v").alias("__cv")))
    base = idx.select(F.col("__g").alias("__g2"),
                      F.col("__i").alias("__bi"),
                      F.col("__v").alias("__bv"))
    # equi-join on (g, i - m) = (g, i): the "variable window lag" as a
    # join — cur's key (__ci - __m) is a plain column expression, so
    # this is ONE shuffle per side, no window
    j = cur.join(
        base,
        (F.col("__g") == F.col("__g2")) &
        (F.col("__ci") - F.col("__m") == F.col("__bi")))
    err = j.groupBy("__g").agg(
        F.max("__m").alias("period"),
        F.max("__n").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_scored"),
        F.sum(F.abs(F.col("__cv") - F.col("__bv"))
              .cast("decimal(38,0)")).alias("__sae"))
    fc = (cur.filter(F.col("__ci") == F.col("__n") + 1 - F.col("__m"))
          .select("__g", F.col("__cv").alias("__fc")))
    return (err.join(fc, "__g")
            .filter(F.col("n_scored") > 0)
            .select(F.col("__g").alias(group_col), "n", "period",
                    "n_scored",
                    pin(F.col("__sae").cast("double")
                        / F.col("n_scored") / F.lit(100.0))
                    .alias("mae_snaive"),
                    (F.col("__fc").cast("double") / F.lit(100.0))
                    .alias("forecast_next")))


def _snaive_detected_oracle(max_lag: int = 10) -> str:
    return f"""
    WITH dom AS ({_dominant_lag_oracle()}),
    {EVENT_CENTS_SRC_SQL},
    per AS (
      SELECT user_id AS g, CAST(best_lag AS BIGINT) AS m
      FROM dom WHERE best_lag IS NOT NULL
    ),
    idx AS (
      SELECT g, v,
             row_number() OVER (PARTITION BY g ORDER BY ts, event_id)
               AS i,
             count(*) OVER (PARTITION BY g) AS n
      FROM src
    ),
    err AS (
      SELECT c.g, max(c.m) AS period, CAST(max(c.n) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_scored,
             sum(CAST(abs(c.v - b.v) AS HUGEINT)) AS sae
      FROM (SELECT idx.*, per.m FROM idx JOIN per USING (g)) c
      JOIN idx b ON c.g = b.g AND c.i - c.m = b.i
      GROUP BY c.g
    ),
    fc AS (
      SELECT idx.g, idx.v AS fcv
      FROM idx JOIN per USING (g)
      WHERE idx.i = idx.n + 1 - per.m
    )
    SELECT e.g AS user_id, e.n, e.period, e.n_scored,
           floor(CAST(e.sae AS DOUBLE) / e.n_scored / 100.0
                 * 1e6 + 0.5) / 1e6 AS mae_snaive,
           CAST(f.fcv AS DOUBLE) / 100.0 AS forecast_next
    FROM err e JOIN fc f ON e.g = f.g
    WHERE e.n_scored > 0
    """


@query("q335_snaive_detected", oracle=_snaive_detected_oracle())
def q335_snaive_detected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user seasonal-naive forecast at each series' own
    dominant-ACF period (q266's detection fused into a forecast) with
    its walk-forward MAE — the estimated-period baseline any seasonal
    model must beat; every (user, n, period, n_scored, mae_snaive,
    forecast_next) row hash-checked."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull())
    return seasonal_naive_detected(
        ev, "user_id", "ts", "value",
        F.floor(F.col("value") * 100 + F.lit(0.5)),
        tie_break="event_id")


# ---------------------------------------------------------------------------
# q343 — BEST-FAMILY model selection over {SES grid, Holt, HW}: the
# argmax the q328 docstring told the reader to do by hand ("the
# smallest sse among {SES, Holt, HW} says whether the series is flat,
# trended, or seasonal") made a registered query — the reference's M1
# "pick the best model by CV score" semantics
# (/root/reference/auto_machine_learning.py:35) applied to the TS
# forecast tier, the same planted-optimum discipline as A12/q166.
#
# FAIRNESS CONTRACT: every candidate is scored at the SAME window
# W = _HW_W (ses_weights/holt_weights/holt_winters_weights all take a
# window arg), so every family backtests over the IDENTICAL scored
# rows — comparing SSEs over different row sets would bias toward the
# shorter filter.  Model codes order the tie-break simplest-first:
# SES alphas (0.1..0.9) < Holt (2.0) < HW (3.0), so a draw goes to
# the smoother/simpler model.  Scale shape: ONE window pass, W lags,
# an 11-struct constant fan-out, one (g, code) aggregate, one slim
# rank window — q309's plan with two more branches.
# ---------------------------------------------------------------------------

_BF_WINDOW = _HW_W
_BF_HOLT_CODE, _BF_HW_CODE = 2.0, 3.0


def _best_family_models() -> list[tuple[float, list[float]]]:
    """(code, weights) per candidate, all at window _BF_WINDOW."""
    models = [(a, ses_weights(a, _BF_WINDOW)) for a in _FC_ALPHAS]
    models.append((_BF_HOLT_CODE,
                   holt_weights(_HOLT_ALPHA, _HOLT_BETA, _BF_WINDOW)))
    models.append((_BF_HW_CODE,
                   holt_winters_weights(window=_BF_WINDOW)))
    return models


def _family_of(code: Column) -> Column:
    return (F.when(code < 1.0, F.lit("ses"))
            .when(code == _BF_HOLT_CODE, F.lit("holt"))
            .otherwise(F.lit("hw")))


def best_family_forecast(df: DataFrame, group_col: str, order: str,
                         value: Column,
                         tie_break: str | None = None) -> DataFrame:
    """(group, family, model_code, n_scored, sse, forecast_next):
    walk-forward-score every family member at one shared window and
    keep the per-series argmin (ties to the smallest code — the
    simpler model wins a draw).  sse is exact-integer cross-engine,
    so the pick is deterministic.

    Plan note: unlike the q309 kernel (explode the model grid into
    rows, aggregate per (g, model), rank-window the argmin), every
    candidate here scores in its OWN aggregate columns over ONE
    grouped pass, and the argmin is array_sort([struct(sse, code,
    fn)...])[0] — no 11x row fan-out, no second shuffle for the rank
    window.  This also keeps each generated method near 1-model
    expression size: the exploded variant's 11-model struct array
    blew past the JVM method limit and dropped the whole stage to
    interpreted evaluation (measured steady-state at sf0.1: 16.5 s
    exploded vs 7.9 s for this plan, 2.1x)."""
    models = _best_family_models()
    per = _pooled(df, group_col, order, value, tie_break, models)
    best = F.array_sort(F.array(*[
        F.struct(
            (F.col(f"__s_{m}").cast("double") / F.lit(1e4)).alias("sse"),
            F.lit(code).alias("code"),
            (F.col(f"__f_{m}").cast("double") / F.lit(1e6)).alias("fn"))
        for m, (code, _) in enumerate(models)]))[0]
    return (per.filter(F.col("n_scored") > 0)
            .withColumn("__b", best)
            .select(F.col("__g").alias(group_col),
                    _family_of(F.col("__b.code")).alias("family"),
                    F.col("__b.code").alias("model_code"),
                    "n_scored",
                    F.col("__b.sse").alias("sse"),
                    F.col("__b.fn").alias("forecast_next")))


def _best_family_oracle() -> str:
    return _fanned_oracle(_best_family_models()) + f"""
    SELECT g AS user_id,
           CASE WHEN code < 1.0 THEN 'ses'
                WHEN code = {_BF_HOLT_CODE!r} THEN 'holt'
                ELSE 'hw' END AS family,
           code AS model_code, n_scored, sse, forecast_next
    FROM (SELECT *, row_number() OVER (PARTITION BY g
            ORDER BY sse ASC, code ASC) AS r FROM pinned)
    WHERE r = 1
    """


@query("q343_best_forecast_family", oracle=_best_family_oracle())
def q343_best_forecast_family(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Per-user best forecast FAMILY by walk-forward SSE over the SES
    alpha grid, Holt, and additive Holt–Winters, all at one shared
    window — the flat/trended/seasonal verdict per series as a table;
    every (user, family, model_code, n_scored, sse, forecast_next)
    row hash-checked against the same python-generated weights."""
    return event_cents_query(spark, sf_dir, best_family_forecast)


# ---------------------------------------------------------------------------
# q348 — forecast COMBINATION vs selection (Bates & Granger 1969; the
# M-competition result that an equal-weight pool of simple models
# beats picking one): q343 SELECTS the per-series best family; this
# emits, per series, the walk-forward SSE of the equal-weight
# combination of {SES(0.5), Holt, HW} NEXT TO the best single
# member's — the "does combining beat selecting?" verdict as a table.
#
# The combination is EXACT and free here: the members are linear
# filters over the same W lags, so the equal-weight combination of
# their forecasts IS the single filter whose weights are the
# elementwise mean of the member weight vectors — one more model in
# the same one-window-pass fan-out, not a second pipeline.  Same
# quantization contract as q309/q343, so every SSE is exact-integer
# cross-engine and the win flag is deterministic.
# ---------------------------------------------------------------------------

_FCMB_SES_ALPHA = 0.5


def _combination_models() -> list[tuple[float, list[float]]]:
    """(code, weights): members 1.0 SES / 2.0 Holt / 3.0 HW at the
    shared window, plus 4.0 = their equal-weight combination."""
    members = [
        (1.0, ses_weights(_FCMB_SES_ALPHA, _BF_WINDOW)),
        (2.0, holt_weights(_HOLT_ALPHA, _HOLT_BETA, _BF_WINDOW)),
        (3.0, holt_winters_weights(window=_BF_WINDOW)),
    ]
    combo = [sum(cs[j] for _, cs in members) / len(members)
             for j in range(_BF_WINDOW)]
    return members + [(4.0, combo)]


def forecast_combination(df: DataFrame, group_col: str, order: str,
                         value: Column,
                         tie_break: str | None = None) -> DataFrame:
    """(group, n_scored, family_best, sse_best, sse_combo, combo_wins,
    forecast_next_combo): the best single member vs the equal-weight
    pool, scored over the identical walk-forward rows.

    Plan: the q343 no-explode shape — per-model aggregate columns
    over one grouped pass, argmin via a struct min.  At 4 models the
    wall is UNCHANGED vs the exploded kernel (measured 8.4 vs 8.7 s
    bench minima at sf0.1 — the 41-lag window pass dominates, not the
    fan-out); the shape is kept for the codegen headroom it proved on
    q343's 11 models, where the exploded plan fell off the JVM method
    limit."""
    models = _combination_models()
    per = _pooled(df, group_col, order, value, tie_break, models)
    sse = lambda m: (F.col(f"__s_{m}").cast("double")  # noqa: E731
                     / F.lit(1e4))
    best = F.array_sort(F.array(*[
        F.struct(sse(m).alias("s"), F.lit(code).alias("c"))
        for m, (code, _) in enumerate(models) if code < 4.0]))[0]
    combo_m = len(models) - 1
    fam = (F.when(F.col("__b.c") == 1.0, F.lit("ses"))
           .when(F.col("__b.c") == 2.0, F.lit("holt"))
           .otherwise(F.lit("hw")))
    return (per.filter(F.col("n_scored") > 0)
            .withColumn("__b", best)
            .select(F.col("__g").alias(group_col), "n_scored",
                    fam.alias("family_best"),
                    F.col("__b.s").alias("sse_best"),
                    sse(combo_m).alias("sse_combo"),
                    (sse(combo_m) < F.col("__b.s")).alias("combo_wins"),
                    (F.col(f"__f_{combo_m}").cast("double") / F.lit(1e6))
                    .alias("forecast_next_combo")))


def _combination_oracle() -> str:
    return _fanned_oracle(_combination_models()) + """,
    best AS (
      SELECT g, code AS bc, sse AS sse_best FROM (
        SELECT *, row_number() OVER (PARTITION BY g
          ORDER BY sse ASC, code ASC) AS r FROM pinned WHERE code < 4.0
      ) WHERE r = 1
    ),
    combo AS (
      SELECT g, n_scored, sse AS sse_combo,
             forecast_next AS forecast_next_combo
      FROM pinned WHERE code = 4.0
    )
    SELECT c.g AS user_id, c.n_scored,
           CASE WHEN b.bc = 1.0 THEN 'ses'
                WHEN b.bc = 2.0 THEN 'holt'
                ELSE 'hw' END AS family_best,
           b.sse_best, c.sse_combo,
           c.sse_combo < b.sse_best AS combo_wins,
           c.forecast_next_combo
    FROM combo c JOIN best b ON c.g = b.g
    """


@query("q348_forecast_combination", oracle=_combination_oracle())
def q348_forecast_combination(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Per-user equal-weight forecast combination of {SES, Holt, HW}
    scored against the best single member over identical walk-forward
    rows — the Bates–Granger combination-vs-selection verdict as a
    table; every (user, n_scored, family_best, sse_best, sse_combo,
    combo_wins, forecast_next_combo) row hash-checked."""
    return event_cents_query(spark, sf_dir, forecast_combination)
