"""Time-series feature operators on the `events` table: EWMA smoothing,
OHLC downsampling, lag/delta feature matrices, and linear gap
interpolation.

These complete the reference's *intended* time-series surface
(SURVEY.md §2.5: the reference builds sliding windows and per-group
ordered splits but its TS pipeline dead-ends at
auto_machine_learning.py:100-107) with the per-group feature
construction a real grouped-TS AutoML run feeds on — all as single
window passes per (user) partition, no per-group driver loops
(contrast data_analysis.py:56-79, which loops groups in Python).

Scale notes: every operator here is one `Window.partitionBy(user_id)
.orderBy(ts)` pass — ONE shuffle keyed by user, then per-partition
sorted streaming. User-keyed partitions are small and numerous
(millions of users × thousands of events), the ideal Spark window
shape; no skew handling needed unless one key dominates, in which
case the rolling ops degrade gracefully (bounded frames keep state
O(frame), not O(partition)).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from auto_ml_platform_with_timeseries_data_spark.operators.timeseries import (
    EVENT_CENTS_SRC_SQL,
    cents,
    cents_sql,
    dec,
    dec_sq,
    event_cents_query,
    ordered_series,
    pin,
    pin_sql,
)
from auto_ml_platform_with_timeseries_data_spark.registry import query
from auto_ml_platform_with_timeseries_data_spark.tables import keep, load_table

_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"


# ---------------------------------------------------------------------------
# EWMA (truncated exponential smoothing)
# ---------------------------------------------------------------------------


def ewma(df: DataFrame, key: str, order: list[str], value: str,
         alpha: float = 0.3, lookback: int = 20) -> Column:
    """Exponentially-weighted moving average, truncated to `lookback`
    terms: ŷ_t = Σ_{k<L} (1−α)^k·x_{t−k} / Σ_{k<L} (1−α)^k (adjusted
    weights, pandas `ewm(adjust=True)` convention, window capped).

    Recursive EWMA has no order-independent distributed form; the
    truncated sum is the scale-out formulation — the dropped tail is
    ≤ (1−α)^L (≈8e-4 at α=0.3, L=20) of the weight mass. Expressed as
    L explicit lag() terms sharing ONE window spec, so Catalyst
    collapses them into a single window pass (one shuffle + sort per
    key, then streaming evaluation); the same closed form runs on any
    SQL engine, which keeps it oracle-checkable."""
    w = Window.partitionBy(key).orderBy(*order)
    decay = 1.0 - alpha
    num = None
    den = None
    for k in range(lookback):
        lagged = F.lag(value, k).over(w) if k else F.col(value)
        term = F.coalesce(lagged * F.lit(decay ** k), F.lit(0.0))
        wgt = F.when(lagged.isNotNull(), F.lit(decay ** k)).otherwise(F.lit(0.0))
        num = term if num is None else num + term
        den = wgt if den is None else den + wgt
    return num / den


def _ewma_oracle(alpha: float, lookback: int) -> str:
    decay = 1.0 - alpha
    terms = []
    wgts = []
    for k in range(lookback):
        lagged = f"lag(value, {k}) OVER w" if k else "value"
        terms.append(f"coalesce({lagged} * {decay ** k!r}, 0.0)")
        wgts.append(f"CASE WHEN {lagged} IS NOT NULL THEN {decay ** k!r} ELSE 0.0 END")
    return f"""
    SELECT event_id, user_id,
           ROUND(({' + '.join(terms)}) / ({' + '.join(wgts)}), 6) AS ewma
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """


@query("q69_ewma", oracle=_ewma_oracle(0.3, 20))
def q69_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id", "user_id",
        F.round(ewma(ev, "user_id", ["ts", "event_id"], "value"), 6)
        .alias("ewma"),
    )


# ---------------------------------------------------------------------------
# OHLC downsampling (open/high/low/close per key × time bucket)
# ---------------------------------------------------------------------------


def ohlc(df: DataFrame, key: str, ts: str, value: str,
         bucket: str = "1 day") -> DataFrame:
    """Classic TS downsample: per (key, tumbling bucket) the first
    (open), max (high), min (low), and last (close) value plus count.
    min_by/max_by on the timestamp resolve open/close in the SAME
    single aggregate pass as high/low — no window, no self-join, one
    shuffle of (key × bucket) groups. Contract: (key, ts) unique
    (holds for the fixtures); with ties open/close would need a
    composite order key."""
    ordk = F.col(ts)
    return (
        df.groupBy(F.col(key), F.window(ts, bucket).alias("__w"))
        .agg(
            F.min_by(value, ordk).alias("open"),
            F.max(value).alias("high"),
            F.min(value).alias("low"),
            F.max_by(value, ordk).alias("close"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            key,
            F.date_format("__w.start", _TS_FMT_SPARK).alias("bucket_start"),
            "open", "high", "low", "close", "n",
        )
    )


@query(
    "q70_ohlc",
    oracle="""
    SELECT user_id,
           strftime(time_bucket(INTERVAL '1 day', ts), '%Y-%m-%d %H:%M:%S')
             AS bucket_start,
           arg_min(value, ts) AS open,
           max(value) AS high,
           min(value) AS low,
           arg_max(value, ts) AS close,
           count(*) AS n
    FROM events
    GROUP BY user_id, time_bucket(INTERVAL '1 day', ts)
    """,
)
def q70_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ohlc(ev, "user_id", "ts", "value", "1 day")


# ---------------------------------------------------------------------------
# Lag / delta feature matrix
# ---------------------------------------------------------------------------


def lag_features(df: DataFrame, key: str, order: list[str], value: str,
                 lags: int = 3) -> DataFrame:
    """Supervised-learning feature matrix for grouped TS (the scale-out
    version of the reference's window builder, auto_machine_learning.py:
    121-131, for models that take flat lag features instead of
    sequences): value, lag_1..lag_L, delta = value−lag_1, pct_change.
    All L+2 derived columns share one window spec → one pass."""
    w = Window.partitionBy(key).orderBy(*order)
    lag_cols = [
        F.lag(value, k).over(w).alias(f"lag_{k}") for k in range(1, lags + 1)
    ]
    prev = F.lag(value, 1).over(w)
    # pct_change rounds via floor(x·1e6 + 0.5): the quotient is a
    # bit-identical double on any engine, but round() implementations
    # disagree exactly at the .5 ulp boundary (Spark rounds the shortest
    # decimal repr via BigDecimal, DuckDB the binary value — observed at
    # sf0.1 on 1 of 100k rows). floor of the identical product can't.
    pct = F.when(prev != 0.0, pin((F.col(value) - prev) / prev))
    return df.select(
        "event_id", key, F.col(value),
        *lag_cols,
        F.round(F.col(value) - prev, 6).alias("delta"),
        pct.alias("pct_change"),
    )


@query(
    "q71_lag_features",
    oracle=f"""
    SELECT event_id, user_id, value,
           lag(value, 1) OVER w AS lag_1,
           lag(value, 2) OVER w AS lag_2,
           lag(value, 3) OVER w AS lag_3,
           ROUND(value - lag(value, 1) OVER w, 6) AS delta,
           CASE WHEN lag(value, 1) OVER w <> 0.0
                THEN {pin_sql("((value - lag(value, 1) OVER w)"
                              " / lag(value, 1) OVER w)")}
                END AS pct_change
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q71_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return lag_features(ev, "user_id", ["ts", "event_id"], "value", lags=3)


# ---------------------------------------------------------------------------
# Linear interpolation of gaps
# ---------------------------------------------------------------------------


def interpolate_linear(df: DataFrame, key: str, order: list[str],
                       value: str) -> DataFrame:
    """Fill null runs by linear interpolation between the nearest
    non-null neighbors (row-index-weighted); leading/trailing runs
    fall back to nearest-value fill. Two ignore-nulls window scans
    (backward + forward) over one partitioning — both directions
    reuse the same shuffle+sort, the reverse frame is evaluated on
    the sorted partition without a second exchange."""
    fwd = Window.partitionBy(key).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, 0)
    bwd = Window.partitionBy(key).orderBy(*order).rowsBetween(
        0, Window.unboundedFollowing)
    rn = F.row_number().over(Window.partitionBy(key).orderBy(*order))
    v = F.col(value)
    df = df.withColumn("__rn", rn)
    marked = F.when(v.isNotNull(), F.col("__rn"))
    prev_v = F.last(value, ignorenulls=True).over(fwd)
    next_v = F.first(value, ignorenulls=True).over(bwd)
    prev_i = F.last(marked, ignorenulls=True).over(fwd)
    next_i = F.first(marked, ignorenulls=True).over(bwd)
    interp = F.when(v.isNotNull(), v).otherwise(
        F.when(prev_v.isNull(), next_v)
        .when(next_v.isNull(), prev_v)
        .otherwise(
            prev_v + (next_v - prev_v)
            * (F.col("__rn") - prev_i) / (next_i - prev_i)
        )
    )
    return df.withColumn("__interp", F.round(interp, 6))


@query(
    "q72_interpolate",
    oracle="""
    WITH masked AS (
      SELECT event_id, user_id, ts,
             CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
      FROM events
    ), idx AS (
      SELECT *,
             last_value(v IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
             first_value(v IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
             last_value(CASE WHEN v IS NOT NULL THEN rn0 END IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_i,
             first_value(CASE WHEN v IS NOT NULL THEN rn0 END IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_i
      FROM (SELECT *, row_number() OVER
              (PARTITION BY user_id ORDER BY ts, event_id) AS rn0 FROM masked)
    )
    SELECT event_id, user_id,
           ROUND(CASE WHEN v IS NOT NULL THEN v
                      WHEN prev_v IS NULL THEN next_v
                      WHEN next_v IS NULL THEN prev_v
                      ELSE prev_v + (next_v - prev_v) * (rn0 - prev_i)
                           / (next_i - prev_i) END, 6) AS value_filled
    FROM idx
    """,
)
def q72_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill demo: deterministically mask ~1/7 of values to null
    (event_id % 7 — same mask in the oracle), then interpolate."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts",
        F.when(F.col("event_id") % 7 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value")).alias("v"),
    )
    out = interpolate_linear(ev, "user_id", ["ts", "event_id"], "v")
    return out.select(
        "event_id", "user_id", F.col("__interp").alias("value_filled")
    )


# ---------------------------------------------------------------------------
# Time-weighted average (irregular sampling)
# ---------------------------------------------------------------------------


def time_weighted_avg(df: DataFrame, key: str, ts: str, value: str) -> DataFrame:
    """Interval-weighted mean for irregularly-sampled series: each
    observation is held until the next one, so its weight is the gap
    to the successor (the last observation of a key carries no weight).
    TWA = Σ vᵢ·Δtᵢ / Σ Δtᵢ.

    One window pass per key computes the forward gaps (lead), then one
    grouped aggregate reduces — the window shuffle on the key is reused
    by the aggregate (same partitioning), so the series shuffles once.
    Each v·Δt term is cast to exact DECIMAL before summing: the
    accumulation is order-independent, so the result is identical on
    any partitioning / any engine.
    """
    w = Window.partitionBy(key).orderBy(ts, "event_id")
    epoch = F.col(ts).cast("double")
    # dt at DECIMAL(24,6): wide enough that the v·dt product stays in
    # 128-bit storage on both engines (64-bit decimal mul overflows).
    dt = (F.lead(epoch).over(w) - epoch).cast("decimal(24,6)")
    term = F.col(value).cast("decimal(18,6)") * dt
    return (
        df.select(F.col(key), term.alias("term"), dt.alias("dt"))
        .filter(F.col("dt").isNotNull())
        .groupBy(key)
        .agg(
            F.round(
                F.sum("term").cast("double") / F.sum("dt").cast("double"), 6
            ).alias("twa"),
            F.count(F.lit(1)).alias("n_intervals"),
        )
    )


@query(
    "q106_time_weighted_avg",
    oracle="""
    WITH gaps AS (
      SELECT user_id,
             CAST(value AS DECIMAL(18,6)) AS v,
             CAST(lead(epoch(ts)) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id)
                  - epoch(ts) AS DECIMAL(24,6)) AS dt
      FROM events
    )
    SELECT user_id,
           ROUND(CAST(sum(v * dt) AS DOUBLE) / CAST(sum(dt) AS DOUBLE), 6)
             AS twa,
           count(*) AS n_intervals
    FROM gaps WHERE dt IS NOT NULL
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q106_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return time_weighted_avg(ev, "user_id", "ts", "value").orderBy("user_id")


# ---------------------------------------------------------------------------
# CUSUM changepoint flags
# ---------------------------------------------------------------------------


def cusum_changepoints(df: DataFrame, key: str, order: list[str],
                       value: str, k_sigma: float = 3.0) -> DataFrame:
    """Per-key CUSUM drift detector: running sum of deviations from the
    key's mean, flagging rows where |cusum| exceeds k·σ. A sustained
    level shift accumulates linearly in the cusum and trips the flag
    even when each individual point is within bounds (unlike the
    pointwise z-score detector, q60).

    Two passes over one shuffle: the per-key total/σ aggregate and the
    prefix-sum window share the same key partitioning. The mean is never
    materialized as a float: cusum_t = Σ_{i≤t}(vᵢ − μ) is computed as
    (n·S_t − t·total)/n with S_t/total exact DECIMAL prefix/total sums
    and n/t integers — all-exact arithmetic until one final double
    division, so any engine (including segment-tree window evaluators)
    produces bit-identical results. Only the σ threshold is FP, and the
    comparison uses the already-rounded cusum, keeping the boundary
    stable.
    """
    vdec = F.col(value).cast("decimal(18,6)")
    stats = df.groupBy(key).agg(
        F.sum(vdec).alias("__total"),
        F.count(F.lit(1)).cast("decimal(12,0)").alias("__n"),
        F.round(F.stddev_samp(value), 6).alias("__sigma"),
    )
    wseq = Window.partitionBy(key).orderBy(*order)
    w = wseq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    joined = df.join(F.broadcast(stats), key)
    prefix = F.sum(vdec).over(w)
    t = F.row_number().over(wseq).cast("decimal(12,0)")
    diff = F.col("__n") * prefix - t * F.col("__total")
    # explicit floor-based half-up rounding: engines disagree on
    # round(double, 4) at exact .5 boundaries; floor/mul/add are IEEE-
    # exact and identical everywhere.
    raw = diff.cast("double") / F.col("__n").cast("double")
    cusum = F.floor(raw * 10000.0 + 0.5).cast("double") / 10000.0
    return (
        joined.select(
            F.col(key), F.col("event_id"),
            cusum.alias("cusum"),
            F.col("__sigma"),
        )
        .filter(F.abs(F.col("cusum")) > F.lit(k_sigma) * F.col("__sigma"))
        .select(key, "event_id", "cusum")
    )


@query(
    "q107_cusum_changepoints",
    oracle="""
    WITH stats AS (
      SELECT user_id,
             sum(CAST(value AS DECIMAL(18,6))) AS total,
             CAST(count(*) AS DECIMAL(12,0)) AS n,
             ROUND(stddev_samp(value), 6) AS sigma
      FROM events GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, e.event_id, s.sigma,
             floor(CAST(s.n * sum(CAST(e.value AS DECIMAL(18,6))) OVER
                     (PARTITION BY e.user_id ORDER BY e.ts, e.event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - CAST(row_number() OVER
                       (PARTITION BY e.user_id ORDER BY e.ts, e.event_id)
                       AS DECIMAL(12,0)) * s.total
                   AS DOUBLE) / CAST(s.n AS DOUBLE) * 10000.0 + 0.5)
               / 10000.0 AS cusum
      FROM events e JOIN stats s ON e.user_id = s.user_id
    )
    SELECT user_id, event_id, cusum
    FROM c WHERE abs(cusum) > 3.0 * sigma
    ORDER BY user_id, event_id
    """,
)
def q107_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return cusum_changepoints(
        ev, "user_id", ["ts", "event_id"], "value"
    ).orderBy("user_id", "event_id")


# ---------------------------------------------------------------------------
# Seasonal profile residuals (hour-of-day anomalies)
# ---------------------------------------------------------------------------


@query(
    "q110_seasonal_residuals",
    oracle="""
    WITH profile AS (
      SELECT event_type, CAST(hour(ts) AS INT) AS hod,
             ROUND(avg(value), 6) AS expected
      FROM events GROUP BY event_type, hod
    )
    SELECT e.event_id, e.event_type,
           CAST(hour(e.ts) AS INT) AS hod,
           ROUND(e.value - p.expected, 6) AS residual
    FROM events e
    JOIN profile p
      ON e.event_type = p.event_type AND CAST(hour(e.ts) AS INT) = p.hod
    ORDER BY abs(ROUND(e.value - p.expected, 6)) DESC, e.event_id
    LIMIT 50
    """,
)
def q110_seasonal_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal anomaly scoring: build the (event_type × hour-of-day)
    expected-value profile, join it back, rank by |residual|. The
    profile is tiny (types × 24 rows) and broadcasts; the fact table is
    scanned once for the profile (partial agg over 24×types cells —
    map-side combine collapses it) and once for the residual join; the
    top-k is TakeOrdered, never a global sort. Hour extraction is UTC
    (session.tune pins the zone) matching DuckDB's naive timestamps."""
    ev = load_table(spark, sf_dir, "events")
    hod = F.hour("ts").cast("int")
    profile = (
        ev.groupBy("event_type", hod.alias("hod"))
        .agg(F.round(F.avg("value"), 6).alias("expected"))
    )
    resid = F.round(F.col("value") - F.col("expected"), 6)
    return (
        ev.select("event_id", "event_type", hod.alias("hod"), "value")
        .join(F.broadcast(profile), ["event_type", "hod"])
        .select(
            "event_id", "event_type", "hod", resid.alias("residual")
        )
        .orderBy(F.abs(F.col("residual")).desc(), "event_id")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Rolling median (holistic window aggregate)
# ---------------------------------------------------------------------------


def rolling_median(df: DataFrame, key: str, order: list[str], value: str,
                   window_rows: int = 10, round_to: int = 6) -> DataFrame:
    """Trailing rolling median — the robust-baseline twin of the rolling
    mean (q45): outlier-resistant smoothing for sensor/metric streams.

    Median is HOLISTIC (not decomposable into partial aggregates), so
    Spark has no native window median; the frame's values are collected
    and sorted per row — O(w log w) per row with w bounded by the frame,
    JVM-side, no UDF. Even-count frames interpolate (avg of the two
    middles), matching DuckDB/Postgres median semantics on doubles."""
    w = (
        Window.partitionBy(key).orderBy(*order)
        .rowsBetween(-(window_rows - 1), 0)
    )
    arr = F.array_sort(F.collect_list(F.col(value)).over(w))
    n = F.size(arr)
    odd = F.element_at(arr, ((n + 1) / 2).cast("int"))
    even = (
        F.element_at(arr, (n / 2).cast("int"))
        + F.element_at(arr, (n / 2 + 1).cast("int"))
    ) / 2.0
    med = F.when(n % 2 == 1, odd).otherwise(even)
    return df.select(
        key, *order, F.col(value),
        F.round(med, round_to).alias("rolling_median"),
    )


@query(
    "q123_rolling_median",
    oracle="""
    SELECT user_id, event_id, value,
           ROUND(median(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 6) AS rolling_median
    FROM events WHERE user_id <= 50
    """,
)
def q123_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") <= 50)
    return rolling_median(ev, "user_id", ["ts", "event_id"], "value",
                          window_rows=10).select(
        "user_id", "event_id", "value", "rolling_median")


# ---------------------------------------------------------------------------
# Closed-form per-group OLS (exact decimal moments)
# ---------------------------------------------------------------------------


def group_ols(df: DataFrame, key: str, ts_col: str, value_col: str,
              round_to: int = 6) -> DataFrame:
    """Per-group least-squares trend (value ~ seconds since group
    start): slope, intercept, n — closed form from the moment sums,
    β = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²), α = (Σy − β·Σx)/n.

    This is the zero-UDF distributed regression: one window pass for
    the per-group epoch origin, one groupBy computing FOUR moment sums.
    All moments accumulate in DECIMAL — x is integer seconds from group
    start, y is a 2-dp reading, so every sum is EXACT and the result is
    independent of accumulation order (float moments diverge from any
    oracle once partition counts differ). β/α then divide as doubles
    from bit-identical sums, with floor(x·1e6+0.5) rounding (see
    lag_features for the ulp-boundary rationale)."""
    origin = Window.partitionBy(key)
    x = (F.col(ts_col).cast("double")
         - F.min(F.col(ts_col).cast("double")).over(origin)).cast("decimal(14,0)")
    y = F.col(value_col).cast("decimal(18,4)")
    base = df.select(F.col(key), x.alias("__x"), y.alias("__y"))
    agg = base.groupBy(key).agg(
        F.count(F.lit(1)).alias("n"),
        dec(F.sum("__x")).alias("sx"),
        F.sum("__y").cast("decimal(38,4)").alias("sy"),
        F.sum(F.col("__x") * F.col("__y")).cast("decimal(38,4)").alias("sxy"),
        dec(F.sum(F.col("__x") * F.col("__x"))).alias("sxx"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    # a group with a single timestamp (or one row) has a singular
    # normal equation (n*sxx == sx^2): slope/intercept are NULL by
    # contract, never an ANSI divide error
    den = n * sxx - sx * sx
    beta = F.when(den > 0, (n * sxy - sx * sy) / den)
    alpha = (sy - beta * sx) / n
    return agg.select(
        key, "n",
        pin(beta * 86400.0).alias("slope_per_day"),
        pin(alpha).alias("intercept"),
    )


@query(
    "q124_group_ols",
    oracle=f"""
    WITH b AS (
      SELECT user_id,
             CAST(CAST(epoch(ts) AS DOUBLE)
                  - min(CAST(epoch(ts) AS DOUBLE)) OVER (PARTITION BY user_id)
                  AS DECIMAL(14,0)) AS x,
             CAST(value AS DECIMAL(18,4)) AS y
      FROM events
    ),
    a AS (
      SELECT user_id, count(*) AS n,
             CAST(sum(x) AS DECIMAL(38,0)) AS sx,
             CAST(sum(y) AS DECIMAL(38,4)) AS sy,
             CAST(sum(x * y) AS DECIMAL(38,4)) AS sxy,
             CAST(sum(x * x) AS DECIMAL(38,0)) AS sxx
      FROM b GROUP BY user_id
    )
    SELECT user_id, n,
           CASE WHEN n * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0 THEN
           {pin_sql("((n * CAST(sxy AS DOUBLE)"
                    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
                    " / (n * CAST(sxx AS DOUBLE)"
                    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))"
                    " * 86400.0")} END AS slope_per_day,
           CASE WHEN n * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0 THEN
           {pin_sql("((CAST(sy AS DOUBLE)"
                    " - ((n * CAST(sxy AS DOUBLE)"
                    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
                    " / (n * CAST(sxx AS DOUBLE)"
                    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))"
                    " * CAST(sx AS DOUBLE)) / n)")} END AS intercept
    FROM a
    """,
)
def q124_group_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return group_ols(ev, "user_id", "ts", "value")


# ---------------------------------------------------------------------------
# q213 — per-entity distribution-moment features (mean/var/skew/kurtosis)
# ---------------------------------------------------------------------------


def moment_features(df: DataFrame, group_col: str,
                    value_col: str) -> DataFrame:
    """Per-group population mean, variance, skewness, and excess
    kurtosis — the tsfresh-style distribution-shape features — from
    ONE aggregation pass of exact integer power sums: v = ⌊value·10⁴⌋
    as BIGINT, Σv and Σv² as BIGINT, Σv³ and Σv⁴ as DECIMAL(38,0)
    (v⁴ reaches ~10²⁷ — past BIGINT, exact in 38 digits / HUGEINT).
    The moments are then ONE token-identical double expression over
    those exact sums; skew's v^1.5 uses var·sqrt(var) because IEEE
    sqrt is correctly rounded while pow(x, 1.5) is not — the same
    ulp-determinism rule the q164 contract uses. Standardized skew
    and kurtosis are scale-invariant, so the 10⁴ quantization cancels
    exactly. Constant-valued groups (var = 0) are excluded — their
    shape moments are undefined.

    Scale: one map-side-combined groupBy carrying five numbers per
    group; features for a billion entities are one shuffle of five
    columns."""
    v = F.floor(F.col(value_col) * 10000.0 + F.lit(0.5)).cast("long")
    # cast BEFORE multiplying: v^3 overflows BIGINT at |v| ~ 2.1e6, so
    # the cube/quartic must accumulate in DECIMAL from the first product
    vd = v.cast("decimal(19,0)")
    agg = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).alias("s1"),
        F.sum(v * v).alias("s2"),
        F.sum(dec(vd * vd * vd)).alias("s3"),
        F.sum(dec(vd * vd * vd * vd)).alias("s4"),
    )
    n = F.col("n").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    s3 = F.col("s3").cast("double")
    s4 = F.col("s4").cast("double")
    m = s1 / n
    var = s2 / n - m * m
    skew = (s3 / n - 3 * m * (s2 / n) + 2 * m * m * m) \
        / (var * F.sqrt(var))
    kurt = (s4 / n - 4 * m * (s3 / n) + 6 * m * m * (s2 / n)
            - 3 * m * m * m * m) / (var * var) - 3.0

    return (agg.filter(var > 0).select(
        F.col(group_col),
        F.col("n").cast("long").alias("n"),
        pin(m / 10000.0).alias("mean"),
        pin(var / 100000000.0).alias("variance"),
        pin(skew).alias("skewness"),
        pin(kurt).alias("kurtosis"),
    ))


@query(
    "q213_moment_features",
    oracle=f"""
    WITH q AS (
      SELECT user_id,
             CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL
    ),
    a AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(v) AS BIGINT) AS s1,
             CAST(sum(v * v) AS BIGINT) AS s2,
             CAST(sum(CAST(v AS HUGEINT) * v * v) AS HUGEINT) AS s3,
             CAST(sum(CAST(v AS HUGEINT) * v * v * v) AS HUGEINT) AS s4
      FROM q GROUP BY user_id
    ),
    d AS (
      SELECT user_id, n,
             CAST(n AS DOUBLE) AS nd,
             CAST(s1 AS DOUBLE) AS s1, CAST(s2 AS DOUBLE) AS s2,
             CAST(s3 AS DOUBLE) AS s3, CAST(s4 AS DOUBLE) AS s4
      FROM a
    ),
    mm AS (
      SELECT user_id, n, nd, s1, s2, s3, s4,
             s1 / nd AS m,
             s2 / nd - (s1 / nd) * (s1 / nd) AS var
      FROM d
    )
    SELECT user_id, n,
           {pin_sql("m / 10000.0")} AS mean,
           {pin_sql("var / 100000000.0")} AS variance,
           {pin_sql("(s3 / nd - 3 * m * (s2 / nd) + 2 * m * m * m)"
                    " / (var * sqrt(var))")} AS skewness,
           {pin_sql("(s4 / nd - 4 * m * (s3 / nd) + 6 * m * m * (s2 / nd)"
                    " - 3 * m * m * m * m) / (var * var) - 3.0")}
             AS kurtosis
    FROM mm WHERE var > 0
    """,
)
def q213_moment_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shape features for every event user: count, mean,
    population variance, skewness, and excess kurtosis from exact
    integer power sums — all rows value-hash-checked at 1e-6."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull())
    return moment_features(ev, "user_id", "value")


# ---------------------------------------------------------------------------
# q227/q228 — robust trend analytics: Theil–Sen slope (median of
# pairwise slopes — the estimator that shrugs off outliers OLS q124
# chases) and the Mann–Kendall trend test (the standard nonparametric
# "is there a monotone trend" significance check, tie-corrected).
# Both are per-entity pairwise operators: work is Σ C(n_g, 2) over
# group sizes — bounded by the retention window per entity, never
# corpus²; for very long series the documented scale path is the
# standard k-sample Theil–Sen (random pair subsampling).
# ---------------------------------------------------------------------------


def _event_series(ev: DataFrame, group_col: str) -> DataFrame:
    """(group, event_id, sec, cents): the exact-integer series every
    pairwise trend operator joins on — epoch seconds and value cents,
    so every downstream slope/sign is one double op over exact ints."""
    return ev.select(
        F.col(group_col).alias("__g"), "event_id",
        F.floor(F.col("ts").cast("double")).cast("long").alias("__s"),
        cents("value").cast("long").alias("__c"))


def theil_sen_slopes(ev: DataFrame, group_col: str) -> DataFrame:
    """Per-group Theil–Sen estimator: median over all pairs of
    (Δcents)/(Δseconds). Pairs enumerate once by event_id (the slope
    is symmetric); simultaneous observations (Δt = 0) contribute no
    slope. The median interpolates the middle two on even counts —
    Spark's `median` and DuckDB's agree on doubles, and every slope is
    the same single division of exact integers in both engines."""
    s = _event_series(ev, group_col)
    a, b = s.alias("a"), s.alias("b")
    pairs = (a.join(b, (F.col("a.__g") == F.col("b.__g")) &
                    (F.col("a.event_id") < F.col("b.event_id")) &
                    (F.col("a.__s") != F.col("b.__s")))
             .select(F.col("a.__g").alias("__g"),
                     ((F.col("b.__c") - F.col("a.__c")) /
                      (F.col("b.__s") - F.col("a.__s"))).alias("__m")))
    return (pairs.groupBy("__g")
            .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"),
                 F.median("__m").alias("__med"))
            .select(F.col("__g"), "n_pairs",
                    pin(F.col("__med"))
                    .alias("slope")))


_TS_DUCK_SERIES = f"""
      SELECT user_id AS g, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS s,
             {cents_sql("value")} AS c
      FROM events WHERE value IS NOT NULL
"""


@query(
    "q227_theil_sen",
    oracle=f"""
    WITH e AS ({_TS_DUCK_SERIES}),
    p AS (
      SELECT a.g, (b.c - a.c) / CAST(b.s - a.s AS DOUBLE) AS m
      FROM e a JOIN e b
        ON a.g = b.g AND a.event_id < b.event_id AND a.s != b.s
    )
    SELECT g AS user_id, CAST(count(*) AS BIGINT) AS n_pairs,
           {pin_sql("median(m)")} AS slope
    FROM p GROUP BY g
    """,
)
def q227_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Theil–Sen trend slope over the events value series —
    every (user, pair count, median slope) row value-hash-checked at
    1e-6 against the oracle's identical pairwise formulation."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull())
    return theil_sen_slopes(ev, "user_id").withColumnRenamed(
        "__g", "user_id")


def mann_kendall(ev: DataFrame, group_col: str) -> DataFrame:
    """Per-group Mann–Kendall trend test, textbook tie-corrected
    (Kendall 1975 §4; the Hirsch–Slack formulation): S = Σ sign(v_j −
    v_i) over STRICTLY time-ordered pairs — same-timestamp pairs
    contribute nothing, exactly as sign(Δt) = 0 makes them vanish in
    the tau-b statistic — and the variance carries BOTH tie families
    plus their cross terms:

        var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) − Σ_u u(u−1)(2u+5)]/18
               + T2·U2/(9n(n−1)(n−2)) + T3·U3/(2n(n−1))

    with t ranging over tied-VALUE run lengths, u over tied-TIME run
    lengths, T2/U2 = Σ x(x−1)(x−2), T3/U3 = Σ x(x−1). Every tie sum is
    exact BIGINT; the exposed ``var18`` column is the bracketed
    numerator (an exact integer — 18·var when no cross terms fire);
    z = (S − sign(S))/√var is one double expression with the cross-term
    products promoted to double before multiplying, token-identical in
    the oracle and pinned at 1e-6. Groups with var ≤ 0 (constant series
    or n < 2) report z NULL-by-contract."""
    s = _event_series(ev, group_col)
    a, b = s.alias("a"), s.alias("b")
    sgn = (a.join(b, (F.col("a.__g") == F.col("b.__g")) &
                  (F.col("a.__s") < F.col("b.__s")))
           .groupBy(F.col("a.__g").alias("__g"))
           .agg(F.sum(F.signum(F.col("b.__c") - F.col("a.__c"))
                      .cast("long")).alias("s_stat")))
    n_g = s.groupBy("__g").agg(F.count(F.lit(1)).alias("__n"))
    vties = (s.groupBy("__g", "__c").agg(F.count(F.lit(1)).alias("__t"))
             .groupBy("__g")
             .agg(F.sum(F.col("__t") * (F.col("__t") - 1) *
                        (2 * F.col("__t") + 5)).alias("__t1"),
                  F.sum(F.col("__t") * (F.col("__t") - 1) *
                        (F.col("__t") - 2)).alias("__t2"),
                  F.sum(F.col("__t") * (F.col("__t") - 1)).alias("__t3")))
    tties = (s.groupBy("__g", "__s").agg(F.count(F.lit(1)).alias("__u"))
             .groupBy("__g")
             .agg(F.sum(F.col("__u") * (F.col("__u") - 1) *
                        (2 * F.col("__u") + 5)).alias("__u1"),
                  F.sum(F.col("__u") * (F.col("__u") - 1) *
                        (F.col("__u") - 2)).alias("__u2"),
                  F.sum(F.col("__u") * (F.col("__u") - 1)).alias("__u3")))
    out = (n_g.join(vties, "__g").join(tties, "__g")
           .join(sgn, "__g", "left")
           .select(
               "__g", F.col("__n").cast("long").alias("n"),
               F.coalesce("s_stat", F.lit(0)).cast("long")
               .alias("s_stat"),
               (F.col("__n") * (F.col("__n") - 1) * (2 * F.col("__n") + 5)
                - F.col("__t1") - F.col("__u1")).cast("long")
               .alias("var18"),
               F.col("__t2").cast("long").alias("__t2"),
               F.col("__u2").cast("long").alias("__u2"),
               F.col("__t3").cast("long").alias("__t3"),
               F.col("__u3").cast("long").alias("__u3")))
    n = F.col("n")
    var = (F.col("var18") / F.lit(18.0)
           + F.when(n > 2,
                    (F.col("__t2").cast("double") * F.col("__u2"))
                    / (F.lit(9.0) * n * (n - 1) * (n - 2)))
           .otherwise(F.lit(0.0))
           + F.when(n > 1,
                    (F.col("__t3").cast("double") * F.col("__u3"))
                    / (F.lit(2.0) * n * (n - 1)))
           .otherwise(F.lit(0.0)))
    z = F.when(var > 0,
               (F.col("s_stat") - F.signum("s_stat")) / F.sqrt(var))
    return out.select(
        "__g", "n", "s_stat", "var18",
        pin(z).alias("z"))


def _mk_oracle() -> str:
    """q228's oracle as a composable CTE body (the _acf_oracle
    pattern) — the BH-FDR candidate's draft builds on it."""
    return f"""
    WITH e AS ({_TS_DUCK_SERIES}),
    sg AS (
      SELECT a.g, CAST(sum(sign(b.c - a.c)) AS BIGINT) AS s_stat
      FROM e a JOIN e b ON a.g = b.g AND a.s < b.s
      GROUP BY a.g
    ),
    n AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY g),
    vt AS (
      SELECT g, CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS t1,
             CAST(sum(t * (t - 1) * (t - 2)) AS BIGINT) AS t2,
             CAST(sum(t * (t - 1)) AS BIGINT) AS t3
      FROM (SELECT g, c, count(*) AS t FROM e GROUP BY g, c)
      GROUP BY g
    ),
    tt AS (
      SELECT g, CAST(sum(u * (u - 1) * (2 * u + 5)) AS BIGINT) AS u1,
             CAST(sum(u * (u - 1) * (u - 2)) AS BIGINT) AS u2,
             CAST(sum(u * (u - 1)) AS BIGINT) AS u3
      FROM (SELECT g, s, count(*) AS u FROM e GROUP BY g, s)
      GROUP BY g
    ),
    j AS (
      SELECT n.g, n.n,
             CAST(coalesce(sg.s_stat, 0) AS BIGINT) AS s_stat,
             CAST(n.n * (n.n - 1) * (2 * n.n + 5) - vt.t1 - tt.u1
                  AS BIGINT) AS var18,
             vt.t2, vt.t3, tt.u2, tt.u3
      FROM n JOIN vt ON n.g = vt.g JOIN tt ON n.g = tt.g
      LEFT JOIN sg ON n.g = sg.g
    ),
    v AS (
      SELECT g, n, s_stat, var18,
             var18 / 18.0
             + CASE WHEN n > 2 THEN (CAST(t2 AS DOUBLE) * u2)
                    / (9.0 * n * (n - 1) * (n - 2)) ELSE 0.0 END
             + CASE WHEN n > 1 THEN (CAST(t3 AS DOUBLE) * u3)
                    / (2.0 * n * (n - 1)) ELSE 0.0 END AS var
      FROM j
    )
    SELECT g AS user_id, n, s_stat, var18,
           CASE WHEN var > 0 THEN
             {pin_sql("(s_stat - sign(s_stat)) / sqrt(var)")}
           END AS z
    FROM v
    """


@query("q228_mann_kendall", oracle=_mk_oracle())
def q228_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Mann–Kendall monotone-trend test over the events value
    series — exact integer S and tie-corrected variance, z pinned at
    1e-6, every row value-hash-checked."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull())
    return mann_kendall(ev, "user_id").withColumnRenamed("__g", "user_id")


# ---------------------------------------------------------------------------
# q231 — SAMPLED Theil–Sen: the scale path q227's docstring promises.
# Full Theil–Sen is Σ C(n_g, 2) pairs; for long per-entity series the
# standard remedy is pair subsampling (the k-sample estimator). The
# sampler here is a DETERMINISTIC portable hash over the pair's ids —
# reproducible across runs, partitionings, and engines, so the whole
# path stays value-hash-checkable — and the query emits the sampled
# estimate NEXT TO the full one with the error, turning the accuracy
# claim into a measured certificate instead of a citation.
# ---------------------------------------------------------------------------

_TS_SAMPLE_P = 1_000_003        # prime modulus (bounded products)
_TS_SAMPLE_A = 2_654_435_761 % 1_000_003   # Knuth multiplier, pre-mod
_TS_SAMPLE_RATE = 4             # keep ~1/4 of the pairs


def theil_sen_sampled(ev: DataFrame, group_col: str,
                      rate: int = _TS_SAMPLE_RATE) -> DataFrame:
    """Per-group sampled AND full Theil–Sen estimates with the ppm
    error between them: pair (i, j) is kept iff
    (((id_i mod P)·A + (id_j mod P)) mod P) mod rate == 0 — affine-mod
    arithmetic on BIGINTs both engines reproduce exactly (the
    q141/q201 portable-hash discipline; BOTH ids pre-reduce mod P so
    products stay < 2^63 for arbitrary ids). NOTE: this certificate
    necessarily ENUMERATES every pair — the full estimate needs them,
    and the keep hash prunes the median INPUT, not the join — so it
    measures subsampling accuracy; it is not the scale path. The
    production path is ``theil_sen_capped`` (q235), which prunes the
    enumeration itself by hash-capping each group's rows before
    pairing. Groups whose sample comes up empty report slope_sampled
    NULL-by-contract."""
    s = _event_series(ev, group_col)
    a, b = s.alias("a"), s.alias("b")
    keep = (((F.col("a.event_id") % _TS_SAMPLE_P) * _TS_SAMPLE_A
             + (F.col("b.event_id") % _TS_SAMPLE_P))
            % _TS_SAMPLE_P) % rate == 0
    pairs = (a.join(b, (F.col("a.__g") == F.col("b.__g")) &
                    (F.col("a.event_id") < F.col("b.event_id")) &
                    (F.col("a.__s") != F.col("b.__s")))
             .select(F.col("a.__g").alias("__g"), keep.alias("__keep"),
                     ((F.col("b.__c") - F.col("a.__c")) /
                      (F.col("b.__s") - F.col("a.__s"))).alias("__m")))
    agg = (pairs.groupBy("__g")
           .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"),
                F.median("__m").alias("__full"),
                F.sum(F.when(F.col("__keep"), 1).otherwise(0))
                .cast("long").alias("n_sampled"),
                F.median(F.when(F.col("__keep"), F.col("__m")))
                .alias("__samp")))
    pinned = agg.select(
        "__g", "n_pairs", "n_sampled",
        pin(F.col("__full")).alias("slope_full"),
        pin(F.col("__samp")).alias("slope_sampled"))
    # err pins the difference of the ALREADY-pinned estimates (both
    # sides quantize before comparing — same value in both engines)
    return pinned.withColumn(
        "err",
        F.when(F.col("n_sampled") > 0,
               pin(F.abs(F.col("slope_sampled") - F.col("slope_full")))))


@query(
    "q231_theil_sen_sampled",
    oracle=f"""
    WITH e AS ({_TS_DUCK_SERIES}),
    p AS (
      SELECT a.g,
             ((a.event_id % {_TS_SAMPLE_P}) * {_TS_SAMPLE_A}
              + (b.event_id % {_TS_SAMPLE_P}))
              % {_TS_SAMPLE_P} % {_TS_SAMPLE_RATE} = 0 AS keep,
             (b.c - a.c) / CAST(b.s - a.s AS DOUBLE) AS m
      FROM e a JOIN e b
        ON a.g = b.g AND a.event_id < b.event_id AND a.s != b.s
    )
    SELECT g AS user_id, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
             AS n_sampled,
           {pin_sql("median(m)")} AS slope_full,
           {pin_sql("median(CASE WHEN keep THEN m END)")}
             AS slope_sampled,
           CASE WHEN sum(CASE WHEN keep THEN 1 ELSE 0 END) > 0 THEN
             {pin_sql(f"abs({pin_sql('median(CASE WHEN keep THEN m END)')}"
                      f" - {pin_sql('median(m)')})")}
           END AS err
    FROM p GROUP BY g
    """,
)
def q231_theil_sen_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k-sample Theil–Sen scale path with its accuracy certificate:
    per user, the hash-sampled (1/4 of pairs) and full median slopes
    side by side with the ppm error — every row value-hash-checked."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull())
    return theil_sen_sampled(ev, "user_id").withColumnRenamed(
        "__g", "user_id")


# ---------------------------------------------------------------------------
# q235 — CAPPED Theil–Sen: the production scale path (VERDICT r7 #2).
# q231 certifies subsampling ACCURACY but necessarily enumerates every
# pair (its full estimate needs them; the keep hash prunes the median
# input, not the join). This variant prunes the ENUMERATION itself:
# each group is deterministically capped to its `cap` events with the
# smallest portable hash BEFORE pairing, so join work per group is
# bounded by C(cap, 2) no matter how long the series grows — the
# k-sample Theil–Sen a million-point series actually runs.
# ---------------------------------------------------------------------------

_TS_CAP = 64                  # ≤ C(64,2) = 2016 pairs per group
_TS_CAP_SALT = 7              # hash salt — any residue works; pinned


def theil_sen_capped(ev: DataFrame, group_col: str,
                     cap: int = _TS_CAP) -> DataFrame:
    """Per-group Theil–Sen over a deterministic hash-rank row cap:
    keep the `cap` events whose ((id mod P)·A + salt) mod P hash ranks
    lowest (ties by event id — a total order both engines share), then
    take the median pairwise slope WITHIN the capped set. The hash is
    the q141/q201 portable affine-mod discipline, so the retained
    subset — and therefore every output value — is reproducible across
    runs, partitionings, and engines. Selection is one row_number
    window per group (one shuffle, bounded state); pairing then costs
    ≤ C(cap, 2) per group instead of C(n, 2). n_events reports how
    many rows survived the cap so the caller can see when the cap
    actually bound (n_events == cap)."""
    s = _event_series(ev, group_col)
    h = ((F.col("event_id") % _TS_SAMPLE_P) * _TS_SAMPLE_A
         + _TS_CAP_SALT) % _TS_SAMPLE_P
    w = Window.partitionBy("__g").orderBy(h.asc(), F.col("event_id").asc())
    capped = (s.withColumn("__hrk", F.row_number().over(w))
              .filter(F.col("__hrk") <= cap).drop("__hrk"))
    a, b = capped.alias("a"), capped.alias("b")
    pairs = (a.join(b, (F.col("a.__g") == F.col("b.__g")) &
                    (F.col("a.event_id") < F.col("b.event_id")) &
                    (F.col("a.__s") != F.col("b.__s")))
             .select(F.col("a.__g").alias("__g"),
                     ((F.col("b.__c") - F.col("a.__c")) /
                      (F.col("b.__s") - F.col("a.__s"))).alias("__m")))
    n_g = capped.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"))
    agg = (pairs.groupBy("__g")
           .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"),
                F.median("__m").alias("__med")))
    return (n_g.join(agg, "__g", "left")
            .select("__g", "n_events",
                    F.coalesce("n_pairs", F.lit(0)).cast("long")
                    .alias("n_pairs"),
                    pin(F.col("__med"))
                    .alias("slope")))


@query(
    "q235_theil_sen_capped",
    oracle=f"""
    WITH e AS ({_TS_DUCK_SERIES}),
    capped AS (
      SELECT g, event_id, s, c FROM (
        SELECT g, event_id, s, c,
               row_number() OVER (PARTITION BY g ORDER BY
                 ((event_id % {_TS_SAMPLE_P}) * {_TS_SAMPLE_A}
                  + {_TS_CAP_SALT}) % {_TS_SAMPLE_P} ASC,
                 event_id ASC) AS hrk
        FROM e
      ) WHERE hrk <= {_TS_CAP}
    ),
    p AS (
      SELECT a.g, (b.c - a.c) / CAST(b.s - a.s AS DOUBLE) AS m
      FROM capped a JOIN capped b
        ON a.g = b.g AND a.event_id < b.event_id AND a.s != b.s
    ),
    n AS (SELECT g, CAST(count(*) AS BIGINT) AS n_events
          FROM capped GROUP BY g),
    agg AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n_pairs,
             {pin_sql("median(m)")} AS slope
      FROM p GROUP BY g
    )
    SELECT n.g AS user_id, n.n_events,
           CAST(coalesce(agg.n_pairs, 0) AS BIGINT) AS n_pairs,
           agg.slope
    FROM n LEFT JOIN agg ON n.g = agg.g
    """,
)
def q235_theil_sen_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The enumeration-pruning Theil–Sen scale path: every user's
    series hash-capped to 64 events before pairing, median slope over
    the capped pairs — every (user, retained count, pair count, slope)
    row value-hash-checked at 1e-6."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull())
    return theil_sen_capped(ev, "user_id").withColumnRenamed(
        "__g", "user_id")


def kaplan_meier(df: DataFrame, cohort_col: str, duration: Column,
                 event: Column) -> DataFrame:
    """(cohort, t, n_risk, d, c, survival): the Kaplan–Meier
    product-limit survival curve per cohort — churn/retention/time-to-
    failure's standard estimator, with right-censoring (event = 0 rows
    leave the risk set without counting as deaths).
    S(t_i) = Π_{j ≤ i} (1 − d_j/n_j) over event times.

    Scale shape: one (cohort, t) cell group-by (the corpus scans
    once); the risk-set walk and the product run as windows over the
    per-cohort cell table — numerous-small-groups, never data-sized
    windows. The product is computed as the cumulative sum of
    PER-TERM-QUANTIZED logs (floor(ln(1 − d/n)·1e12) — identical
    expression both engines, so identical BIGINT; summed order-free by
    the window) and exponentiated once, pinned at 1e-6. A time where
    d = n extinguishes the cohort: survival is exactly 0.0 there and
    after (no ln(0) anywhere)."""
    src = df.select(F.col(cohort_col).alias("__g"),
                    duration.cast("long").alias("__t"),
                    event.cast("int").alias("__e")).filter(
        F.col("__t").isNotNull() & F.col("__e").isNotNull())
    cells = (src.groupBy("__g", "__t")
             .agg(F.sum("__e").cast("long").alias("d"),
                  F.sum(F.lit(1) - F.col("__e")).cast("long")
                  .alias("c")))
    wg = Window.partitionBy("__g")
    wp = (Window.partitionBy("__g").orderBy("__t")
          .rowsBetween(Window.unboundedPreceding, -1))
    wc = (Window.partitionBy("__g").orderBy("__t")
          .rowsBetween(Window.unboundedPreceding, 0))
    stepped = cells.select(
        "__g", "__t", "d", "c",
        (F.sum(F.col("d") + F.col("c")).over(wg)
         - F.coalesce(F.sum(F.col("d") + F.col("c")).over(wp),
                      F.lit(0))).alias("n_risk"))
    term = F.when(
        F.col("d") < F.col("n_risk"),
        F.floor(F.log(F.lit(1.0) - F.col("d").cast("double")
                      / F.col("n_risk")) * F.lit(1e12)).cast("long"))
    walked = stepped.select(
        "__g", "__t", "n_risk", "d", "c",
        F.sum(term).over(wc).alias("__ls"),
        F.max((F.col("d") == F.col("n_risk")).cast("int")).over(wc)
        .alias("__dead"))
    surv = F.when(F.col("__dead") == 1, F.lit(0.0)).otherwise(
        pin(F.exp(F.col("__ls") / F.lit(1e12))))
    return walked.select(
        F.col("__g").alias(cohort_col), F.col("__t").alias("t"),
        "n_risk", "d", "c", surv.alias("survival"))


@query(
    "q265_kaplan_meier",
    oracle=f"""
    WITH s AS (
      SELECT user_id % 3 AS g,
             CAST(floor(abs(value)) AS BIGINT) AS t,
             CAST(event_id % 4 != 0 AS INT) AS e
      FROM events WHERE value IS NOT NULL
    ),
    cells AS (
      SELECT g, t, CAST(sum(e) AS BIGINT) AS d,
             CAST(sum(1 - e) AS BIGINT) AS c
      FROM s GROUP BY g, t
    ),
    stepped AS (
      SELECT g, t, d, c,
             sum(d + c) OVER (PARTITION BY g)
             - coalesce(sum(d + c) OVER (PARTITION BY g ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS n_risk
      FROM cells
    ),
    walked AS (
      SELECT g, t, n_risk, d, c,
             sum(CASE WHEN d < n_risk THEN
                 CAST(floor(ln(1.0 - CAST(d AS DOUBLE) / n_risk)
                            * 1e12) AS BIGINT) END)
               OVER (PARTITION BY g ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS ls,
             max(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
               OVER (PARTITION BY g ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS dead
      FROM stepped
    )
    SELECT g AS cohort, t, CAST(n_risk AS BIGINT) AS n_risk, d, c,
           CASE WHEN dead = 1 THEN 0.0 ELSE
             {pin_sql("exp(ls / 1e12)")}
           END AS survival
    FROM walked
    """,
)
def q265_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival per user_id%3 cohort over event magnitude
    'durations' (event_id%4 != 0 marking events vs censoring): every
    (cohort, t) step's risk set, deaths, censors and pinned survival
    hash-checked — including exact-0.0 extinction steps."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()).select(
        (F.col("user_id") % 3).alias("cohort"), "value", "event_id")
    return kaplan_meier(
        ev, "cohort", F.floor(F.abs(F.col("value"))),
        (F.col("event_id") % 4 != 0).cast("int"))


def nelson_aalen(df: DataFrame, cohort_col: str, duration: Column,
                 event: Column) -> DataFrame:
    """(cohort, t, n_risk, d, c, cum_hazard): the Nelson–Aalen
    cumulative-hazard estimator H(t) = Σ_{t_j ≤ t} d_j/n_j — the
    additive sibling of Kaplan–Meier's product (KM answers 'what
    fraction survives', NA answers 'how much hazard has accumulated';
    at low event rates S ≈ e^−H). Identical scale shape to
    ``kaplan_meier``: one (cohort, t) cell group-by, per-cohort
    windows over the cell table. Each d/n term quantizes to
    floor(d/n·1e12) BIGINT (identical expression both engines), the
    window sum is order-free, and H pins once at 1e-6. No extinction
    special case — d = n contributes exactly 1.0 to the sum (never a
    log of zero)."""
    src = df.select(F.col(cohort_col).alias("__g"),
                    duration.cast("long").alias("__t"),
                    event.cast("int").alias("__e")).filter(
        F.col("__t").isNotNull() & F.col("__e").isNotNull())
    cells = (src.groupBy("__g", "__t")
             .agg(F.sum("__e").cast("long").alias("d"),
                  F.sum(F.lit(1) - F.col("__e")).cast("long")
                  .alias("c")))
    wg = Window.partitionBy("__g")
    wp = (Window.partitionBy("__g").orderBy("__t")
          .rowsBetween(Window.unboundedPreceding, -1))
    wc = (Window.partitionBy("__g").orderBy("__t")
          .rowsBetween(Window.unboundedPreceding, 0))
    stepped = cells.select(
        "__g", "__t", "d", "c",
        (F.sum(F.col("d") + F.col("c")).over(wg)
         - F.coalesce(F.sum(F.col("d") + F.col("c")).over(wp),
                      F.lit(0))).alias("n_risk"))
    term = F.floor(F.col("d").cast("double") / F.col("n_risk")
                   * F.lit(1e12)).cast("long")
    walked = stepped.select(
        "__g", "__t", "n_risk", "d", "c",
        F.sum(term).over(wc).alias("__hs"))
    return walked.select(
        F.col("__g").alias(cohort_col), F.col("__t").alias("t"),
        "n_risk", "d", "c",
        pin(F.col("__hs") / F.lit(1e12))
        .alias("cum_hazard"))


@query(
    "q271_nelson_aalen",
    oracle=f"""
    WITH s AS (
      SELECT user_id % 3 AS g,
             CAST(floor(abs(value)) AS BIGINT) AS t,
             CAST(event_id % 4 != 0 AS INT) AS e
      FROM events WHERE value IS NOT NULL
    ),
    cells AS (
      SELECT g, t, CAST(sum(e) AS BIGINT) AS d,
             CAST(sum(1 - e) AS BIGINT) AS c
      FROM s GROUP BY g, t
    ),
    stepped AS (
      SELECT g, t, d, c,
             sum(d + c) OVER (PARTITION BY g)
             - coalesce(sum(d + c) OVER (PARTITION BY g ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS n_risk
      FROM cells
    )
    SELECT g AS cohort, t, CAST(n_risk AS BIGINT) AS n_risk, d, c,
           {pin_sql("sum(CAST(floor(CAST(d AS DOUBLE) / n_risk * 1e12)"
                    " AS BIGINT))"
                    " OVER (PARTITION BY g ORDER BY t"
                    " ROWS BETWEEN UNBOUNDED PRECEDING"
                    " AND CURRENT ROW)"
                    " / 1e12")} AS cum_hazard
    FROM stepped
    """,
)
def q271_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson–Aalen cumulative hazard on q265's exact fixture (same
    cohorts, durations, censoring) so the two survival estimators are
    directly comparable row for row — every (cohort, t) step
    hash-checked."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()).select(
        (F.col("user_id") % 3).alias("cohort"), "value", "event_id")
    return nelson_aalen(
        ev, "cohort", F.floor(F.abs(F.col("value"))),
        (F.col("event_id") % 4 != 0).cast("int"))


def logrank_test(df: DataFrame, duration: Column, event: Column,
                 is_a: Column) -> DataFrame:
    """One-row (n_a, n_b, d_a, d_total, z, chi2): the log-rank test —
    THE standard comparison of two survival curves (did cohort a churn
    on a different schedule than cohort b?), censoring-aware where a
    naive mean-duration compare is not. At each event time t:
    observed deaths in a vs hypergeometric expectation
    E = d·n_a/n and variance V = d·(n_a/n)·(n_b/n)·(n−d)/(n−1);
    z = (Σd_a − ΣE)/sqrt(ΣV).

    Scale shape: the corpus reduces to per-(t) integer cells in one
    map-side-combined group-by; the risk-set walk is a window over the
    DURATION-DOMAIN-sized cell table (the threshold_sweep/KS contract
    — bounded by distinct durations, not rows). Σd_a is an exact
    BIGINT; the E and V terms quantize to floor(x·1e12) BIGINT
    (identical expressions both engines, order-free sums); z and chi2
    pin once. ΣV = 0 with at least one cell surviving the
    (d > 0, n > 1) filter reports z/chi2 NULL-by-contract; an input
    with NO event times at all (all-censored) yields ZERO rows — the
    filtered cell table is empty, so no (n_a, n_b) group exists to
    report."""
    src = df.select(duration.cast("long").alias("__t"),
                    event.cast("int").alias("__e"),
                    is_a.cast("int").alias("__a")).filter(
        F.col("__t").isNotNull() & F.col("__e").isNotNull()
        & F.col("__a").isNotNull())
    cells = src.groupBy("__t").agg(
        F.sum(F.col("__a") * F.col("__e")).cast("long").alias("__da"),
        F.sum((1 - F.col("__a")) * F.col("__e")).cast("long")
        .alias("__db"),
        F.sum("__a").cast("long").alias("__ra"),
        F.sum(1 - F.col("__a")).cast("long").alias("__rb"))
    wt = Window.partitionBy()
    wp = (Window.orderBy("__t")
          .rowsBetween(Window.unboundedPreceding, -1))
    stepped = cells.select(
        "__t", "__da", "__db",
        (F.sum("__ra").over(wt)
         - F.coalesce(F.sum("__ra").over(wp), F.lit(0))).alias("__na"),
        (F.sum("__rb").over(wt)
         - F.coalesce(F.sum("__rb").over(wp), F.lit(0))).alias("__nb"),
        F.sum("__ra").over(wt).alias("n_a"),
        F.sum("__rb").over(wt).alias("n_b"))
    d = F.col("__da") + F.col("__db")
    n = F.col("__na") + F.col("__nb")
    e_term = F.floor(d.cast("double") * F.col("__na") / n * F.lit(1e12)) \
        .cast("long")
    v_term = F.floor(
        d.cast("double") * F.col("__na") / n * F.col("__nb") / n
        * (n - d).cast("double") / (n - 1) * F.lit(1e12)).cast("long")
    agg = (stepped.filter((d > 0) & (n > 1))
           .groupBy("n_a", "n_b")
           .agg(F.sum("__da").cast("long").alias("d_a"),
                F.sum(d).cast("long").alias("d_total"),
                F.sum(e_term).alias("__es"),
                F.sum(v_term).alias("__vs")))
    z = (F.col("d_a").cast("double") - F.col("__es") / F.lit(1e12)) \
        / F.sqrt(F.col("__vs") / F.lit(1e12))
    return agg.select(
        "n_a", "n_b", "d_a", "d_total",
        F.when(F.col("__vs") > 0, pin(z)).alias("z"),
        F.when(F.col("__vs") > 0, pin(z * z)).alias("chi2"))


@query(
    "q272_logrank_test",
    oracle=f"""
    WITH s AS (
      SELECT CAST(floor(abs(value)) AS BIGINT) AS t,
             CAST(event_id % 4 != 0 AS INT) AS e,
             CAST(user_id % 2 = 0 AS INT) AS a
      FROM events WHERE value IS NOT NULL
    ),
    cells AS (
      SELECT t,
             CAST(sum(a * e) AS BIGINT) AS da,
             CAST(sum((1 - a) * e) AS BIGINT) AS db,
             CAST(sum(a) AS BIGINT) AS ra,
             CAST(sum(1 - a) AS BIGINT) AS rb
      FROM s GROUP BY t
    ),
    stepped AS (
      SELECT t, da, db,
             sum(ra) OVER () - coalesce(sum(ra) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS na,
             sum(rb) OVER () - coalesce(sum(rb) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS nb,
             sum(ra) OVER () AS n_a, sum(rb) OVER () AS n_b
      FROM cells
    ),
    agg AS (
      SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
             CAST(sum(da) AS BIGINT) AS d_a,
             CAST(sum(da + db) AS BIGINT) AS d_total,
             sum(CAST(floor(CAST(da + db AS DOUBLE) * na / (na + nb)
                            * 1e12) AS BIGINT)) AS es,
             sum(CAST(floor(CAST(da + db AS DOUBLE) * na / (na + nb)
                            * nb / (na + nb)
                            * CAST((na + nb) - (da + db) AS DOUBLE)
                            / ((na + nb) - 1) * 1e12) AS BIGINT)) AS vs
      FROM stepped
      WHERE da + db > 0 AND na + nb > 1
      GROUP BY n_a, n_b
    )
    SELECT n_a, n_b, d_a, d_total,
           CASE WHEN vs > 0 THEN
             {pin_sql("(CAST(d_a AS DOUBLE) - es / 1e12)"
                      " / sqrt(vs / 1e12)")}
           END AS z,
           CASE WHEN vs > 0 THEN
             {pin_sql("((CAST(d_a AS DOUBLE) - es / 1e12)"
                      " / sqrt(vs / 1e12))"
                      " * ((CAST(d_a AS DOUBLE) - es / 1e12)"
                      " / sqrt(vs / 1e12))")}
           END AS chi2
    FROM agg
    """,
)
def q272_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank comparison of even- vs odd-user survival on q265's
    duration/censoring fixture: one hash-checked row with exact
    at-risk/death counts and the pinned z and chi-square."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull())
    return logrank_test(
        ev, F.floor(F.abs(F.col("value"))),
        (F.col("event_id") % 4 != 0).cast("int"),
        (F.col("user_id") % 2 == 0).cast("int"))


def turning_points(df: DataFrame, group_col: str, order: str,
                   value: str, tie_break: str | None = None) -> DataFrame:
    """(group, n, n_turns, expected, z): the turning-point randomness
    test per series — an i.i.d. sequence has E = 2(n−2)/3 strict local
    extrema; a trending or oscillating series departs in opposite
    directions, so this is the cheap 'is there any structure at all'
    screen BEFORE fitting q228's trend or q06's ACF. Strictness
    contract: only strict extrema count (prev < x > next or
    prev > x < next) — plateau edges are not turns. Round-11
    registration candidate.

    One lag/lead window per series (numerous-small-groups, q06's
    shape); the count is an exact integer, E and Var = (16n−29)/90 are
    rational in n, and z pins once. Series with n < 3 (or zero
    variance, n ≤ 2) report z NULL-by-contract. NULL values are
    dropped BEFORE windowing (the sibling-operator contract): a NULL
    row neither counts toward n nor breaks the adjacency of its
    neighbors — mirror `WHERE value IS NOT NULL` in any oracle."""
    ob = [F.asc(order)] + ([F.asc(tie_break)] if tie_break else [])
    w = Window.partitionBy(group_col).orderBy(*ob)
    lagv = F.lag(value, 1).over(w)
    leadv = F.lead(value, 1).over(w)
    vv = F.col(value)
    is_turn = (
        lagv.isNotNull() & leadv.isNotNull()
        & (((lagv < vv) & (leadv < vv)) | ((lagv > vv) & (leadv > vv)))
    ).cast("long")
    per = (df.filter(vv.isNotNull())
           .select(F.col(group_col).alias("__g"),
                   is_turn.alias("__t"))
           .groupBy("__g")
           .agg(F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("__t").cast("long").alias("n_turns")))
    n = F.col("n").cast("double")
    e = 2 * (n - 2) / 3
    var = (16 * n - 29) / 90
    return per.select(
        F.col("__g").alias(group_col), "n", "n_turns",
        F.when(F.col("n") >= 3, pin(e)).alias("expected"),
        F.when((F.col("n") >= 3) & (var > 0),
               pin((F.col("n_turns") - e) / F.sqrt(var))).alias("z"))


def trend_seasonal_strength(df: DataFrame, group_col: str, order: str,
                            value: str, season: Column,
                            half_window: int = 3,
                            tie_break: str | None = None) -> DataFrame:
    """(group, n, trend_strength, seasonal_strength): Hyndman's STL
    strength measures per series — F_T = max(0, 1 − Var(R)/Var(x−S))
    and F_S = max(0, 1 − Var(R)/Var(x−T)) where T is a centered
    (±half_window)-row moving average, S the per-(group, season-key)
    mean of the detrended series, R the remainder. The two numbers a
    forecaster reads FIRST: is there a trend worth modeling, is the
    seasonality real (they directly arbitrate q228-trend vs
    q06/q266-seasonality vs q284-style noise). Edge rows use the
    partial centered window — the contract, not an approximation.
    Round-11 registration candidate.

    Scale shape: one ordered window pass per series (q06's shape), a
    (group × season-key) profile join, then per-series single-pass
    variance sums. Variances run as Σx²/Σx doubles pinned at 1e-6 (the
    q06/q135 accumulation-margin analysis — remainders are O(1), so
    order drift sits ~9 orders below the pin). Series with zero
    denominator variance report that strength NULL-by-contract."""
    base = df.select(F.col(group_col).alias("__g"),
                     F.col(value).cast("double").alias("__v"),
                     F.col(order).alias("__o"),
                     *( [F.col(tie_break).alias("__tb")]
                        if tie_break else []),
                     season.alias("__s")).filter(
        F.col("__v").isNotNull())
    ob2 = [F.asc("__o")] + ([F.asc("__tb")] if tie_break else [])
    w = (Window.partitionBy("__g").orderBy(*ob2)
         .rowsBetween(-half_window, half_window))
    t = base.withColumn("__trend", F.avg("__v").over(w)) \
        .withColumn("__d", F.col("__v") - F.col("__trend"))
    prof = t.groupBy("__g", "__s").agg(
        F.avg("__d").alias("__seas"))
    j = (t.join(prof, ["__g", "__s"])
         .withColumn("__r", F.col("__d") - F.col("__seas"))
         .withColumn("__deseason", F.col("__v") - F.col("__seas")))
    agg = j.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__r").alias("__sr"),
        F.sum(F.col("__r") * F.col("__r")).alias("__qr"),
        F.sum("__d").alias("__sd"),
        F.sum(F.col("__d") * F.col("__d")).alias("__qd"),
        F.sum("__deseason").alias("__su"),
        F.sum(F.col("__deseason") * F.col("__deseason")).alias("__qu"))
    n = F.col("n").cast("double")
    var = lambda s, q: (F.col(q) - F.col(s) * F.col(s) / n) / n  # noqa: E731
    vr = var("__sr", "__qr")
    vd = var("__sd", "__qd")
    vu = var("__su", "__qu")
    return agg.select(
        F.col("__g").alias(group_col), "n",
        F.when(vu > 0, pin(F.greatest(F.lit(0.0), 1 - vr / vu)))
        .alias("trend_strength"),
        F.when(vd > 0, pin(F.greatest(F.lit(0.0), 1 - vr / vd)))
        .alias("seasonal_strength"))


@query(
    "q289_turning_points",
    oracle=f"""
    WITH s AS (
      SELECT user_id AS g, value AS v,
             lag(value) OVER w AS pv, lead(value) OVER w AS nv
      FROM events WHERE value IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    per AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN pv IS NOT NULL AND nv IS NOT NULL
                       AND ((pv < v AND nv < v) OR (pv > v AND nv > v))
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_turns
      FROM s GROUP BY g
    )
    SELECT g AS user_id, n, n_turns,
           CASE WHEN n >= 3 THEN
             {pin_sql("2 * (CAST(n AS DOUBLE) - 2) / 3")}
           END AS expected,
           CASE WHEN n >= 3
                AND (16 * CAST(n AS DOUBLE) - 29) / 90 > 0 THEN
             {pin_sql("(n_turns - 2 * (CAST(n AS DOUBLE) - 2) / 3)"
                      " / sqrt((16 * CAST(n AS DOUBLE) - 29) / 90)")}
           END AS z
    FROM per
    """,
)
def q289_turning_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The turning-point randomness screen per user series — strict
    local extrema counted against the i.i.d. expectation 2(n-2)/3,
    every (user, n, n_turns, expected, z) row hash-checked. NULL
    values are dropped by the operator itself (the documented
    contract), so the raw events table goes in unfiltered."""
    ev = load_table(spark, sf_dir, "events")
    return turning_points(ev, "user_id", "ts", "value",
                          tie_break="event_id")


@query(
    "q290_trend_strength",
    oracle=f"""
    WITH base AS (
      SELECT user_id AS g, CAST(value AS DOUBLE) AS v, ts, event_id,
             CAST(hour(ts) AS INT) AS s
      FROM events WHERE value IS NOT NULL
    ),
    t AS (
      SELECT g, v, s,
             avg(v) OVER (PARTITION BY g ORDER BY ts, event_id
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend
      FROM base
    ),
    d AS (SELECT g, v, s, v - trend AS dd FROM t),
    prof AS (SELECT g, s, avg(dd) AS seas FROM d GROUP BY g, s),
    j AS (
      SELECT d.g, d.v, d.dd, d.dd - p.seas AS r,
             d.v - p.seas AS deseason
      FROM d JOIN prof p ON d.g = p.g AND d.s = p.s
    ),
    agg AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n,
             sum(r) AS sr, sum(r * r) AS qr,
             sum(dd) AS sd, sum(dd * dd) AS qd,
             sum(deseason) AS su, sum(deseason * deseason) AS qu
      FROM j GROUP BY g
    ),
    ex AS (
      SELECT g, n,
             (qr - sr * sr / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
               AS vr,
             (qd - sd * sd / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
               AS vd,
             (qu - su * su / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
               AS vu
      FROM agg
    )
    SELECT g AS user_id, n,
           CASE WHEN vu > 0 THEN
             {pin_sql("greatest(0.0, 1 - vr / vu)")}
           END AS trend_strength,
           CASE WHEN vd > 0 THEN
             {pin_sql("greatest(0.0, 1 - vr / vd)")}
           END AS seasonal_strength
    FROM ex
    """,
)
def q290_trend_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyndman's STL trend/seasonal strength per user series (hour of
    day as the season key, +/-3-row centered moving average as the
    trend) — the two numbers that arbitrate q228-trend vs
    q06/q266-seasonality vs noise, every row hash-checked."""
    ev = load_table(spark, sf_dir, "events")
    return trend_seasonal_strength(
        ev, "user_id", "ts", "value", F.hour("ts").cast("int"),
        tie_break="event_id")


# ---------------------------------------------------------------------------
# Round-11 additions: changepoint / serial-correlation / long-run
# variance tier — the three questions a forecaster asks AFTER q289's
# "is there structure": WHERE does the level shift, IS the noise
# serially correlated, and HOW MUCH should autocorrelation inflate the
# error bars of any mean-based readout.
# ---------------------------------------------------------------------------


def single_changepoint(df: DataFrame, group_col: str, order: str,
                       value: Column,
                       tie_break: str | None = None) -> DataFrame:
    """(group, n, split_at, gain): the best SINGLE level-shift split
    per series — binary segmentation's first step (and the building
    block PELT/BinSeg iterate): split k maximizes the SSE reduction
    gain(k) = S_k²/k + (S_n−S_k)²/(n−k) − S_n²/n over exact integer
    prefix sums. Ties break to the EARLIEST k (the detection-delay
    convention). Series with n < 2 yield zero rows by contract.

    Scale shape: one per-series cumulative-sum window pass (the q06
    numerous-small-groups contract), then a rank-1 filter — the
    gain is an exact-integer-derived double (prefix sums are exact
    BIGINTs; squares go through CAST-to-double before multiply,
    identical both engines) pinned at 1e-6, so the argmax row
    hash-checks. Nothing is collected; the argmax is a
    WindowGroupLimit-prunable rank window."""
    src, w = ordered_series(df, group_col, order, value, tie_break)
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy("__g")
    pre = src.select(
        "__g",
        F.row_number().over(w).alias("__k"),
        F.sum("__v").over(wc).alias("__sk"),
        F.count(F.lit(1)).over(wt).alias("n"),
        F.sum("__v").over(wt).alias("__sn"))
    k = F.col("__k").cast("double")
    n = F.col("n").cast("double")
    sk = F.col("__sk").cast("double")
    sn = F.col("__sn").cast("double")
    gain = (sk * sk / k
            + (sn - sk) * (sn - sk) / (n - k)
            - sn * sn / n)
    scored = (pre.filter(F.col("__k") < F.col("n"))
              .select("__g", "n", "__k", pin(gain).alias("gain")))
    wr = Window.partitionBy("__g").orderBy(F.desc("gain"), F.asc("__k"))
    return (scored.withColumn("__r", F.row_number().over(wr))
            .filter(F.col("__r") == 1)
            .select(F.col("__g").alias(group_col),
                    F.col("n").cast("long").alias("n"),
                    F.col("__k").cast("long").alias("split_at"),
                    "gain"))


def von_neumann_ratio(df: DataFrame, group_col: str, order: str,
                      value: Column,
                      tie_break: str | None = None) -> DataFrame:
    """(group, n, vn_ratio, z): the von Neumann ratio per series —
    Σ(v_t − v_{t−1})² / Σ(v_t − v̄)², the mean-square successive
    difference over the variance. E = 2 for i.i.d. data; trending
    series fall below 2, oscillating ones rise above — the SAME
    screen as q289's turning points but magnitude-aware (it is also
    the Durbin–Watson statistic computed on mean-residuals).
    z = (ratio − 2)/√(4(n−2)/(n²−1)). NULL values are dropped before
    the lag (the q289 contract); n < 3 or zero variance reports
    ratio/z NULL-by-contract (one row per series either way).

    Scale shape: one lag window per series, then one
    map-side-combined group-by of exact integers — successive-diff
    squares and Σv² go through DECIMAL(38,0) (cents² × n tops int64
    at scale); the ratio and z pin once over exact integers."""
    src, w = ordered_series(df, group_col, order, value, tie_break)
    d = F.col("__v") - F.lag("__v", 1).over(w)
    per = (src.select("__g", "__v", d.alias("__d"))
           .groupBy("__g")
           .agg(F.count(F.lit(1)).cast("long").alias("n"),
                F.sum(dec(F.col("__v"))).alias("__s"),
                F.sum(dec_sq(F.col("__v")))
                .alias("__q"),
                F.sum(dec_sq(F.col("__d")))
                .alias("__sd2")))
    n = F.col("n").cast("double")
    den = F.col("__q").cast("double") - F.col("__s").cast("double") \
        * F.col("__s") / n
    ratio = F.col("__sd2").cast("double") / den
    se = F.sqrt(4 * (n - 2) / (n * n - 1))
    ok = (F.col("n") >= 3) & (den > 0)
    return per.select(
        F.col("__g").alias(group_col), "n",
        F.when(ok, pin(ratio)).alias("vn_ratio"),
        F.when(ok, pin((ratio - 2) / se)).alias("z"))


_HAC_L = 5  # Bartlett truncation lag


def hac_variance(df: DataFrame, group_col: str, order: str,
                 value: Column, max_lag: int = _HAC_L,
                 tie_break: str | None = None) -> DataFrame:
    """(group, n, var_iid, var_hac, inflation): the Newey–West
    long-run variance of the SERIES MEAN with Bartlett weights —
    var_hac = (γ₀ + 2·Σ_{l≤L}(1−l/(L+1))·γ̂_l)/n against the i.i.d.
    var_iid = γ₀/n. `inflation` is the factor autocorrelation
    multiplies onto naive error bars — the number that says whether a
    mean-based readout (q274's CI, q262's z) can be trusted on
    serially correlated data. γ̂_l = (1/n)Σ_{t≤n−l}(v_t−v̄)(v_{t+l}−v̄)
    (the biased 1/n form — guarantees a PSD weight kernel).

    Exactness: v̄ is an exact-integer-derived double broadcast back by
    a group join; each lag product quantizes to floor(x·1e6) BIGINT
    (the JSD/W1 order-free recipe) before ONE map-side-combined sum
    per (group, lag ≤ L+1 columns); γ, both variances, and the
    inflation pin once. n ≤ L (no usable lags) or zero γ₀ reports
    NULL-by-contract. One lead-window pass per series; L is a
    constant, so the per-row cost is O(L), never O(n)."""
    src, w = ordered_series(df, group_col, order, value, tie_break)
    means = src.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.sum("__v").cast("double")
         / F.count(F.lit(1))).alias("__mean"))
    led = src.select(
        "__g", "__v",
        *[F.lead("__v", l).over(w).alias(f"__v{l}")
          for l in range(1, max_lag + 1)])
    joined = led.join(means, "__g")
    cent = F.col("__v") - F.col("__mean")
    qterm = lambda c: F.floor(c * 1e6).cast("long")  # noqa: E731
    aggs = [F.sum(qterm(cent * cent)).alias("__c0")]
    for l in range(1, max_lag + 1):
        lagc = F.col(f"__v{l}") - F.col("__mean")
        aggs.append(F.sum(F.when(F.col(f"__v{l}").isNotNull(),
                                 qterm(cent * lagc))
                          .otherwise(F.lit(0))).alias(f"__c{l}"))
    per = joined.groupBy("__g", "n").agg(*aggs)
    n = F.col("n").cast("double")
    g0 = F.col("__c0").cast("double") / 1e6 / n
    lrv = g0
    for l in range(1, max_lag + 1):
        wgt = 1.0 - l / (max_lag + 1.0)
        lrv = lrv + 2.0 * wgt * (F.col(f"__c{l}").cast("double")
                                 / 1e6 / n)
    ok = (F.col("n") > max_lag) & (F.col("__c0") > 0)
    return per.select(
        F.col("__g").alias(group_col), "n",
        F.when(ok, pin(g0 / n)).alias("var_iid"),
        F.when(ok, pin(lrv / n)).alias("var_hac"),
        F.when(ok & (g0 > 0), pin(lrv / g0)).alias("inflation"))


@query(
    "q292_changepoint",
    oracle=f"""
    WITH {EVENT_CENTS_SRC_SQL},
    pre AS (
      SELECT g,
             row_number() OVER w AS k,
             sum(v) OVER (PARTITION BY g ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sk,
             count(*) OVER (PARTITION BY g) AS n,
             sum(v) OVER (PARTITION BY g) AS sn
      FROM src
      WINDOW w AS (PARTITION BY g ORDER BY ts, event_id)
    ),
    scored AS (
      SELECT g, n, k,
             {pin_sql("(CAST(sk AS DOUBLE) * sk / k"
                      " + CAST(sn - sk AS DOUBLE) * (sn - sk) / (n - k)"
                      " - CAST(sn AS DOUBLE) * sn / n)")}
               AS gain
      FROM pre WHERE k < n
    ),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY g
                ORDER BY gain DESC, k ASC) AS rr
      FROM scored
    )
    SELECT g AS user_id, CAST(n AS BIGINT) AS n,
           CAST(k AS BIGINT) AS split_at, gain
    FROM r WHERE rr = 1
    """,
)
def q292_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best single level-shift per user value series (cents) — the
    binary-segmentation first step, every (user, n, split_at, gain)
    row hash-checked including the earliest-k tie-break."""
    return event_cents_query(spark, sf_dir, single_changepoint)


@query(
    "q293_von_neumann",
    oracle=f"""
    WITH {EVENT_CENTS_SRC_SQL},
    d AS (
      SELECT g, v,
             v - lag(v) OVER (PARTITION BY g ORDER BY ts, event_id)
               AS dd
      FROM src
    ),
    per AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n,
             sum(CAST(v AS HUGEINT)) AS s,
             sum(CAST(v AS HUGEINT) * v) AS q,
             sum(CAST(dd AS HUGEINT) * dd) AS sd2
      FROM d GROUP BY g
    ),
    ex AS (
      SELECT g, n,
             CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s
               / CAST(n AS DOUBLE) AS den,
             CAST(sd2 AS DOUBLE) AS num
      FROM per
    )
    SELECT g AS user_id, n,
           CASE WHEN n >= 3 AND den > 0 THEN
             {pin_sql("num / den")}
           END AS vn_ratio,
           CASE WHEN n >= 3 AND den > 0 THEN
             {pin_sql("(num / den - 2)"
                      " / sqrt(4 * (CAST(n AS DOUBLE) - 2)"
                      " / (CAST(n AS DOUBLE) * n - 1))")}
           END AS z
    FROM ex
    """,
)
def q293_von_neumann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Von Neumann ratio (successive-difference vs variance) per user
    value series — the magnitude-aware randomness screen beside
    q289's turning points; every (user, n, vn_ratio, z) row
    hash-checked."""
    return event_cents_query(spark, sf_dir, von_neumann_ratio)


def _hac_oracle(max_lag: int = _HAC_L) -> str:
    leads = ",\n             ".join(
        f"lead(v, {l}) OVER w AS v{l}" for l in range(1, max_lag + 1))
    csums = ",\n             ".join(
        f"sum(CASE WHEN v{l} IS NOT NULL THEN"
        f" CAST(floor(((v - m) * (v{l} - m)) * 1e6) AS BIGINT)"
        f" ELSE 0 END) AS c{l}" for l in range(1, max_lag + 1))
    lrv = "CAST(c0 AS DOUBLE) / 1e6 / n"
    for l in range(1, max_lag + 1):
        wgt = repr(2.0 * (1.0 - l / (max_lag + 1.0)))
        lrv += (f" + {wgt} * (CAST(c{l} AS DOUBLE) / 1e6"
                f" / n)")
    return f"""
    WITH {EVENT_CENTS_SRC_SQL},
    means AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(v) AS DOUBLE) / count(*) AS m
      FROM src GROUP BY g
    ),
    led AS (
      SELECT g, v,
             {leads}
      FROM src
      WINDOW w AS (PARTITION BY g ORDER BY ts, event_id)
    ),
    per AS (
      SELECT led.g, n,
             sum(CAST(floor(((v - m) * (v - m)) * 1e6) AS BIGINT))
               AS c0,
             {csums}
      FROM led JOIN means ON led.g = means.g
      GROUP BY led.g, n
    ),
    ex AS (
      SELECT g, n,
             CAST(c0 AS DOUBLE) / 1e6 / n AS g0,
             {lrv} AS lrv,
             (n > {max_lag} AND c0 > 0) AS ok
      FROM per
    )
    SELECT g AS user_id, n,
           CASE WHEN ok THEN
             {pin_sql("g0 / n")} END AS var_iid,
           CASE WHEN ok THEN
             {pin_sql("lrv / n")} END AS var_hac,
           CASE WHEN ok AND g0 > 0 THEN
             {pin_sql("lrv / g0")} END AS inflation
    FROM ex
    """


@query("q294_hac_variance", oracle=_hac_oracle())
def q294_hac_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newey-West long-run variance of each user series' mean
    (Bartlett weights, L=5) against the i.i.d. variance — the error-
    bar inflation factor autocorrelation forces onto any mean-based
    readout. Every (user, n, var_iid, var_hac, inflation) row
    hash-checked."""
    return event_cents_query(spark, sf_dir, hac_variance)


_SPEC_MIN_P, _SPEC_MAX_P = 2, 12


def _spec_rows() -> list[tuple[int, int, float, float]]:
    """(period, phase, cos, sin) grid for the phase-folded DFT — ONE
    python-generated table of float literals feeds both the Spark
    broadcast side and the oracle's VALUES list, so the trig constants
    are identical bit patterns in both engines by construction."""
    import math

    rows = []
    for p in range(_SPEC_MIN_P, _SPEC_MAX_P + 1):
        for k in range(p):
            rows.append((p, k, math.cos(2 * math.pi * k / p),
                         math.sin(2 * math.pi * k / p)))
    return rows


def spectral_peak(df: DataFrame, group_col: str, order: str,
                  value: Column,
                  tie_break: str | None = None) -> DataFrame:
    """(group, period, n, power, is_peak): the periodogram power at
    candidate periods 2..12 per series — the DFT bin at frequency 1/p
    computed by PHASE FOLDING (t mod p indexes a precomputed trig
    table), so power_p = ((Σv_t·cos_p[t%p])² + (Σv_t·sin_p[t%p])²)/n.
    The FREQUENCY-domain sibling of q266's dominant ACF lag and
    q290's strength pair: ACF says "correlated at lag k", this says
    "periodic at period p" with the energy to rank periods.
    `is_peak` marks each series' argmax (ties to the SMALLEST
    period).

    Scale shape: rows explode over the 11 candidate periods (a
    CONSTANT fan-out) and broadcast-join the 77-row trig grid; each
    v·cos product quantizes to floor(x·1e6) BIGINT (order-free sums),
    so one map-side-combined group-by per (series, period) carries
    everything; powers pin once and the peak flag is a rank window
    over 11 rows per series."""
    src, w = ordered_series(df, group_col, order, value, tie_break)
    spark = df.sparkSession
    grid = spark.createDataFrame(
        _spec_rows(), "period int, phase int, c double, s double")
    idx = src.select(
        "__g", "__v", (F.row_number().over(w) - 1).alias("__t"))
    lo, hi = _SPEC_MIN_P, _SPEC_MAX_P
    fanned = idx.select(
        "__g", "__v", "__t",
        F.explode(F.sequence(F.lit(lo), F.lit(hi))).alias("period"))
    joined = fanned.join(
        F.broadcast(grid),
        (fanned["period"] == grid["period"])
        & (F.col("__t") % fanned["period"] == grid["phase"])).drop(
        grid["period"])
    q = lambda c: F.floor(c * 1e6).cast("long")  # noqa: E731
    per = joined.groupBy("__g", "period").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(q(F.col("__v") * F.col("c"))).alias("__sc"),
        F.sum(q(F.col("__v") * F.col("s"))).alias("__ss"))
    e = F.col("__sc").cast("double") / 1e6
    f = F.col("__ss").cast("double") / 1e6
    scored = per.select(
        "__g", "period", "n",
        pin((e * e + f * f) / F.col("n").cast("double"))
        .alias("power"))
    wr = Window.partitionBy("__g").orderBy(F.desc("power"),
                                           F.asc("period"))
    return (scored
            .withColumn("is_peak",
                        (F.row_number().over(wr) == 1))
            .select(F.col("__g").alias(group_col),
                    "period", "n", "power", "is_peak"))


def _spec_oracle() -> str:
    # string-cast the trig literals: DuckDB parses a bare 17-digit
    # repr as DECIMAL and its decimal->double conversion double-rounds
    # (the q343 lesson, forecast._filt_sql); strtod on the quoted repr
    # reproduces Spark's double bit pattern exactly.
    vals = ",\n      ".join(
        f"({p}, {k}, CAST('{c!r}' AS DOUBLE), CAST('{s!r}' AS DOUBLE))"
        for p, k, c, s in _spec_rows())
    return f"""
    WITH grid(period, phase, c, s) AS (VALUES
      {vals}
    ),
    {EVENT_CENTS_SRC_SQL},
    idx AS (
      SELECT g, v,
             row_number() OVER (PARTITION BY g ORDER BY ts, event_id)
               - 1 AS t
      FROM src
    ),
    joined AS (
      SELECT i.g, i.v, gr.period, gr.c, gr.s
      FROM idx i JOIN grid gr
        ON i.t % gr.period = gr.phase
    ),
    per AS (
      SELECT g, period, CAST(count(*) AS BIGINT) AS n,
             sum(CAST(floor(v * c * 1e6) AS BIGINT)) AS sc,
             sum(CAST(floor(v * s * 1e6) AS BIGINT)) AS ss
      FROM joined GROUP BY g, period
    ),
    scored AS (
      SELECT g, period, n,
             {pin_sql("((CAST(sc AS DOUBLE) / 1e6)"
                      " * (CAST(sc AS DOUBLE) / 1e6)"
                      " + (CAST(ss AS DOUBLE) / 1e6)"
                      " * (CAST(ss AS DOUBLE) / 1e6))"
                      " / CAST(n AS DOUBLE)")} AS power
      FROM per
    )
    SELECT g AS user_id, CAST(period AS INT) AS period, n, power,
           row_number() OVER (PARTITION BY g
             ORDER BY power DESC, period ASC) = 1 AS is_peak
    FROM scored
    """


@query("q295_spectral_peak", oracle=_spec_oracle())
def q295_spectral_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phase-folded periodogram power at periods 2..12 per user value
    series with the per-series peak flagged — every (user, period, n,
    power, is_peak) row hash-checked against the same python-generated
    trig grid."""
    return event_cents_query(spark, sf_dir, spectral_peak)


def runs_test(df: DataFrame, group_col: str, order: str,
              value: Column, tie_break: str | None = None) -> DataFrame:
    """(group, n_above, n_below, runs, z): the Wald–Wolfowitz runs
    test per series about the series MEAN — too FEW runs means
    clustering/trend, too many means oscillation; the sign-pattern
    member of the q289/q293 randomness family. The above/below split
    is an EXACT integer comparison (v·n vs Σv — no float mean ever
    compared), rows exactly AT the mean drop by contract (the
    standard treatment of ties). E(R) = 1 + 2ab/(a+b),
    Var = 2ab(2ab−a−b)/((a+b)²(a+b−1)), z = (R−E)/√Var.

    One group aggregate broadcast back, one lag window over kept rows
    (numerous-small-groups contract), one count-up; a, b, R are exact
    integers and z pins once. a = 0, b = 0, or Var ≤ 0 reports
    z NULL-by-contract (one row per series with any kept rows)."""
    src, w = ordered_series(df, group_col, order, value, tie_break)
    tot = src.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("__v").cast("long").alias("__s"))
    kept = (src.join(tot, "__g")
            .withColumn("__sgn",
                        F.when(dec(F.col("__v")) * dec(F.col("__n"))
                               > F.col("__s"), F.lit(1))
                        .when(dec(F.col("__v")) * dec(F.col("__n"))
                              < F.col("__s"), F.lit(0)))
            .filter(F.col("__sgn").isNotNull()))
    flips = kept.select(
        "__g", "__sgn",
        (F.lag("__sgn", 1).over(w) != F.col("__sgn")).cast("long")
        .alias("__flip"))
    per = flips.groupBy("__g").agg(
        F.sum("__sgn").cast("long").alias("n_above"),
        F.sum(1 - F.col("__sgn")).cast("long").alias("n_below"),
        (F.coalesce(F.sum("__flip"), F.lit(0)) + 1).cast("long")
        .alias("runs"))
    a = F.col("n_above").cast("double")
    b = F.col("n_below").cast("double")
    m = a + b
    e = 1 + 2 * a * b / m
    # ANSI null-safe m-1 (the `ok` condition evaluates var eagerly;
    # a 1-kept-row series must land NULL-by-contract, not crash).
    var = (2 * a * b * (2 * a * b - a - b)
           / F.when(m > 1, m * m * (m - 1)))
    ok = (F.col("n_above") > 0) & (F.col("n_below") > 0) & (var > 0)
    return per.select(
        F.col("__g").alias(group_col), "n_above", "n_below", "runs",
        F.when(ok, pin((F.col("runs") - e) / F.sqrt(var))).alias("z"))


def cox_stuart(df: DataFrame, group_col: str, order: str,
               value: Column, tie_break: str | None = None) -> DataFrame:
    """(group, n, m_pairs, n_pos, z): the Cox–Stuart trend test per
    series — pair v_t with v_{t+h} (h = ceil(n/2), the standard
    convention: odd n drops the middle element so the m = floor(n/2)
    pairs are DISJOINT and the Binomial(m, ½) null holds exactly),
    count strict rises; z = (pos − m/2)/√(m/4). The SIGN-only trend
    read: q228's Mann–Kendall weighs every pair (n² information, n²
    cost in the exact form); Cox–Stuart reads n/2 pairs in ONE
    self-join — the linear-cost screen you run first. Tied pairs
    (v_t = v_{t+h}) drop by contract.

    One row_number window, one equi-join on (group, idx+h) — both on
    the series key, so the join reuses the window's shuffle; counts
    are exact integers and z pins once. m = 0 reports
    z NULL-by-contract."""
    src, w = ordered_series(df, group_col, order, value, tie_break)
    wt = Window.partitionBy("__g")
    idx = src.select(
        "__g", "__v",
        F.row_number().over(w).alias("__i"),
        F.count(F.lit(1)).over(wt).alias("__n"))
    h = F.expr("(__n + 1) div 2")
    left = idx.select("__g", "__n",
                      (F.col("__i") + h).alias("__j"),
                      F.col("__v").alias("__v1")).filter(
        F.col("__j") <= F.col("__n"))
    right = idx.select(F.col("__g").alias("__g2"),
                       F.col("__i").alias("__j2"),
                       F.col("__v").alias("__v2"))
    pairs = left.join(
        right, (F.col("__g") == F.col("__g2"))
        & (F.col("__j") == F.col("__j2")))
    per = pairs.groupBy("__g").agg(
        F.max("__n").cast("long").alias("n"),
        F.sum((F.col("__v2") != F.col("__v1")).cast("long"))
        .cast("long").alias("m_pairs"),
        F.sum((F.col("__v2") > F.col("__v1")).cast("long"))
        .cast("long").alias("n_pos"))
    m = F.col("m_pairs").cast("double")
    z = (F.col("n_pos").cast("double") - m / 2) / F.sqrt(m / 4)
    return per.select(
        F.col("__g").alias(group_col), "n", "m_pairs", "n_pos",
        F.when(F.col("m_pairs") > 0, pin(z)).alias("z"))


@query(
    "q307_runs_test",
    oracle=f"""
    WITH {EVENT_CENTS_SRC_SQL},
    tot AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(v) AS BIGINT) AS s
      FROM src GROUP BY g
    ),
    kept AS (
      SELECT src.g, ts, event_id,
             CASE WHEN CAST(v AS HUGEINT) * n > s THEN 1
                  WHEN CAST(v AS HUGEINT) * n < s THEN 0 END AS sgn
      FROM src JOIN tot ON src.g = tot.g
    ),
    flips AS (
      SELECT g, sgn,
             CAST(lag(sgn) OVER (PARTITION BY g ORDER BY ts, event_id)
               <> sgn AS BIGINT) AS flip
      FROM kept WHERE sgn IS NOT NULL
    ),
    per AS (
      SELECT g, CAST(sum(sgn) AS BIGINT) AS n_above,
             CAST(sum(1 - sgn) AS BIGINT) AS n_below,
             CAST(coalesce(sum(flip), 0) + 1 AS BIGINT) AS runs
      FROM flips GROUP BY g
    ),
    ex AS (
      SELECT g, n_above, n_below, runs,
             CAST(n_above AS DOUBLE) AS a, CAST(n_below AS DOUBLE) AS b
      FROM per
    )
    SELECT g AS user_id, n_above, n_below, runs,
      CASE WHEN n_above > 0 AND n_below > 0
           AND 2 * a * b * (2 * a * b - a - b)
               / ((a + b) * (a + b) * (a + b - 1)) > 0 THEN
        {pin_sql("(runs - (1 + 2 * a * b / (a + b)))"
                 " / sqrt(2 * a * b * (2 * a * b - a - b)"
                 " / ((a + b) * (a + b) * (a + b - 1)))")}
      END AS z
    FROM ex
    """,
)
def q307_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test about the mean per user value series
    (exact-integer above/below split, ties-at-mean dropped) — every
    (user, n_above, n_below, runs, z) row hash-checked."""
    return event_cents_query(spark, sf_dir, runs_test)


@query(
    "q308_cox_stuart",
    oracle=f"""
    WITH {EVENT_CENTS_SRC_SQL},
    idx AS (
      SELECT g, v,
             row_number() OVER (PARTITION BY g ORDER BY ts, event_id)
               AS i,
             count(*) OVER (PARTITION BY g) AS n
      FROM src
    ),
    pairs AS (
      SELECT a.g, a.n, a.v AS v1, b.v AS v2
      FROM (SELECT g, n, v, i + (n + 1) // 2 AS j FROM idx
            WHERE i + (n + 1) // 2 <= n) a
      JOIN idx b ON a.g = b.g AND a.j = b.i
    ),
    per AS (
      SELECT g, CAST(max(n) AS BIGINT) AS n,
             CAST(sum(CAST(v2 <> v1 AS BIGINT)) AS BIGINT) AS m_pairs,
             CAST(sum(CAST(v2 > v1 AS BIGINT)) AS BIGINT) AS n_pos
      FROM pairs GROUP BY g
    )
    SELECT g AS user_id, n, m_pairs, n_pos,
      CASE WHEN m_pairs > 0 THEN
        {pin_sql("(CAST(n_pos AS DOUBLE) - CAST(m_pairs AS DOUBLE) / 2)"
                 " / sqrt(CAST(m_pairs AS DOUBLE) / 4)")}
      END AS z
    FROM per
    """,
)
def q308_cox_stuart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox-Stuart sign-trend screen per user value series (disjoint
    v_t vs v_{t+ceil(n/2)} pairs, ties dropped) — the linear-cost
    trend read you run before q228's Mann-Kendall; every
    (user, n, m_pairs, n_pos, z) row hash-checked."""
    return event_cents_query(spark, sf_dir, cox_stuart)


# ---------------------------------------------------------------------------
# Dickey–Fuller unit-root test (constant-only regression): the
# stationarity screen the forecast tier reads FIRST — q311's AR fit
# and q309/q310's smoothing both assume the series is not a random
# walk; DF is the textbook test of exactly that null.  Regress
# Δv_t = a + b·v_{t-1}: under the unit-root null b = 0; the t-ratio
# of b (compared to the Dickey–Fuller, NOT normal, critical values —
# -2.86 at 5%, documented, the caller's lookup) is the statistic.
#
# All five normal-equation sums are exact integers (x and Δ are raw
# cents — no quantization needed at all); slope numerator/denominator
# are exact DECIMAL(38,0)/HUGEINT products; b pins at 1e-6 and the
# residual read-back (SSR, then the t-ratio) evaluates from the PINNED
# b — the documented contract, reproducible from the emitted columns.
# ONE lag window + ONE aggregate per series.
def dickey_fuller(df: DataFrame, group_col: str, order: str,
                  value: Column,
                  tie_break: str | None = None) -> DataFrame:
    """(group, m, beta, df_t): constant-only Dickey–Fuller per series.
    m counts regression rows (t >= 2); m < 4, a degenerate regressor
    (den <= 0), or a perfect fit (ssr <= 0 after pinning) reports
    beta/df_t NULL-by-contract (one row per series either way)."""
    src, w = ordered_series(df, group_col, order, value, tie_break)
    lagged = src.select(
        "__g", F.col("__v").alias("__l0"),
        F.lag("__v", 1).over(w).alias("__x"))
    x = F.col("__x")
    y = F.col("__l0") - F.col("__x")
    per = (lagged.filter(x.isNotNull())
           .groupBy("__g")
           .agg(F.count(F.lit(1)).cast("long").alias("m"),
                F.sum(dec(x)).alias("__sx"),
                F.sum(dec(y)).alias("__sy"),
                F.sum(dec_sq(x)).alias("__sxx"),
                F.sum(dec(x) * dec(y)).alias("__sxy"),
                F.sum(dec_sq(y)).alias("__syy")))
    m = dec(F.col("m"))
    den = m * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    num = m * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    # NULL-guard the denominator: `ok` references ssr (hence beta), so
    # the division is evaluated OUTSIDE any lazy CASE branch — a
    # constant regressor (den = 0) must flow NULL, not raise ANSI
    # DIVIDE_BY_ZERO (the test_series_contracts degenerate sweep).
    den_d = F.when(den.cast("double") > 0, den.cast("double"))
    beta = pin(num.cast("double") / den_d)
    md = F.col("m").cast("double")
    alpha = (F.col("__sy").cast("double")
             - beta * F.col("__sx").cast("double")) / md
    ssr = (F.col("__syy").cast("double")
           - alpha * F.col("__sy").cast("double")
           - beta * F.col("__sxy").cast("double"))
    s2 = ssr / (md - 2)
    se = F.sqrt(s2 * md / den_d)
    ok = (F.col("m") >= 4) & (den.cast("double") > 0) & (ssr > 0)
    return per.select(
        F.col("__g").alias(group_col), "m",
        F.when(ok, beta).alias("beta"),
        F.when(ok, pin(beta / se)).alias("df_t"))


_DF_ORACLE = f"""
    WITH {EVENT_CENTS_SRC_SQL},
    lagged AS (
      SELECT g, v AS l0,
             lag(v, 1) OVER (PARTITION BY g ORDER BY ts, event_id)
               AS x
      FROM src
    ),
    per AS (
      SELECT g, CAST(count(*) AS BIGINT) AS m,
             sum(CAST(x AS HUGEINT)) AS sx,
             sum(CAST(l0 - x AS HUGEINT)) AS sy,
             sum(CAST(x AS HUGEINT) * x) AS sxx,
             sum(CAST(x AS HUGEINT) * (l0 - x)) AS sxy,
             sum(CAST(l0 - x AS HUGEINT) * (l0 - x)) AS syy
      FROM lagged WHERE x IS NOT NULL GROUP BY g
    ),
    solved AS (
      SELECT g, m, sx, sy, sxx, sxy, syy,
             CAST(m AS HUGEINT) * sxx - sx * sx AS den,
             CAST(m AS HUGEINT) * sxy - sx * sy AS num
      FROM per
    ),
    pinned AS (
      SELECT g, m, sx, sy, sxy, syy, den,
             {pin_sql("CAST(num AS DOUBLE) / CAST(den AS DOUBLE)")} AS beta
      FROM solved
    ),
    resid AS (
      SELECT g, m, den, beta,
             CAST(syy AS DOUBLE)
               - (CAST(sy AS DOUBLE) - beta * CAST(sx AS DOUBLE))
                 / CAST(m AS DOUBLE) * CAST(sy AS DOUBLE)
               - beta * CAST(sxy AS DOUBLE) AS ssr
      FROM pinned
    )
    SELECT g AS user_id, m,
           CASE WHEN m >= 4 AND CAST(den AS DOUBLE) > 0 AND ssr > 0
             THEN beta END AS beta,
           CASE WHEN m >= 4 AND CAST(den AS DOUBLE) > 0 AND ssr > 0
             THEN {pin_sql("beta / sqrt(ssr / (CAST(m AS DOUBLE) - 2)"
                           " * CAST(m AS DOUBLE)"
                           " / CAST(den AS DOUBLE))")} END AS df_t
    FROM resid
    """


@query("q313_dickey_fuller", oracle=_DF_ORACLE)
def q313_dickey_fuller(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user constant-only Dickey–Fuller unit-root t-ratio over the
    events value series — the stationarity screen in front of the
    q309-q312 forecast tier; every (user, m, beta, df_t) row
    hash-checked over exact-integer normal-equation sums."""
    return event_cents_query(spark, sf_dir, dickey_fuller)


# ---------------------------------------------------------------------------
# Hurst exponent by the AGGREGATED-VARIANCE method (Beran 1994 §4.4;
# Taqqu/Teverovsky/Willinger 1995): block-average the series at sizes
# m = 1,2,4,8,16, read the variance of the block means, and fit
# log Var(X^(m)) vs log m — self-similar series obey Var ∝ m^(2H-2),
# so H = 1 + slope/2.  H ≈ 0.5 = short memory, H → 1 = long-range
# dependence (the q294 HAC inflation made quantitative as one number).
#
# Scale shape: the m grid is a CONSTANT 5-way fan-out carrying its
# exact log2(m) as an INTEGER (never a cross-engine log2 readout);
# block sums are exact integer aggregates; each per-(series, m)
# variance pins through floor(ln(var)*1e6) to an exact BIGINT so the
# final 5-point regression runs entirely on order-free integer sums —
# one double division at the end.  Two group-bys after the fan-out,
# both map-side combined; no UDF, no driver math.
_HURST_GRID = (1, 2, 4, 8, 16)


def hurst_aggvar(df: DataFrame, group_col: str, order: str,
                 value: Column, grid: tuple[int, ...] = _HURST_GRID,
                 tie_break: str | None = None) -> DataFrame:
    """(group, p_points, slope, hurst): aggregated-variance Hurst per
    series.  Only complete blocks count; a grid point needs k >= 2
    complete blocks and positive variance to enter the regression;
    fewer than 3 surviving points reports slope/hurst
    NULL-by-contract (one row per series either way)."""
    for g in grid:
        if g & (g - 1):
            raise ValueError("hurst_aggvar grid must be powers of two")
    src, w = ordered_series(df, group_col, order, value, tie_break)
    idx = src.select("__g", "__v", F.row_number().over(w).alias("__i"))
    ms = F.array(*[
        F.struct(F.lit(m).alias("m"),
                 F.lit(m.bit_length() - 1).alias("x"))
        for m in grid])
    fanned = idx.select(
        "__g", "__v", "__i", F.explode(ms).alias("__s")).select(
        "__g", "__v", "__i",
        F.col("__s.m").alias("__m"), F.col("__s.x").alias("__x"))
    blocks = (fanned.groupBy(
        "__g", "__m", "__x",
        F.floor((F.col("__i") - 1) / F.col("__m")).alias("__b"))
        .agg(F.sum(dec(F.col("__v"))).alias("__bs"),
             F.count(F.lit(1)).cast("long").alias("__bc")))
    perm = (blocks.filter(F.col("__bc") == F.col("__m"))
            .groupBy("__g", "__m", "__x")
            .agg(F.count(F.lit(1)).cast("long").alias("__k"),
                 F.sum("__bs").alias("__sb"),
                 F.sum(F.col("__bs") * F.col("__bs")).alias("__sbb")))
    kd = F.col("__k").cast("double")
    md = F.col("__m").cast("double")
    var = ((F.col("__sbb").cast("double")
            - F.col("__sb").cast("double") * F.col("__sb") / kd)
           / kd / (md * md))
    pts = (perm.filter((F.col("__k") >= 2) & (var > 0))
           .select("__g", F.col("__x").cast("long").alias("__x"),
                   F.floor(F.log(var) * F.lit(1e6)).cast("long")
                   .alias("__yq")))
    reg = pts.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("p_points"),
        F.sum("__x").alias("__sx"),
        F.sum("__yq").alias("__sy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
        F.sum(F.col("__x") * F.col("__yq")).alias("__sxy"))
    p = F.col("p_points")
    den = p * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    num = p * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    # slope in ln units per log2 step -> convert by 1/ln(2); the yq
    # quantum 1e6 divides back out
    slope = (num.cast("double") / den.cast("double") / F.lit(1e6)
             / F.lit(0.6931471805599453))
    ok = (p >= 3) & (den > 0)
    return reg.select(
        F.col("__g").alias(group_col), "p_points",
        F.when(ok, pin(slope)).alias("slope"),
        F.when(ok, pin(F.lit(1.0) + slope / 2)).alias("hurst"))


def _hurst_oracle(grid: tuple[int, ...] = _HURST_GRID) -> str:
    ms = ", ".join(f"({m}, {m.bit_length() - 1})" for m in grid)
    return f"""
    WITH {EVENT_CENTS_SRC_SQL},
    idx AS (
      SELECT g, v,
             row_number() OVER (PARTITION BY g ORDER BY ts, event_id)
               AS i
      FROM src
    ),
    grid(m, x) AS (VALUES {ms}),
    fanned AS (
      SELECT g, v, i, m, x FROM idx, grid
    ),
    blocks AS (
      SELECT g, m, x, CAST(floor((i - 1.0) / m) AS BIGINT) AS b,
             sum(CAST(v AS HUGEINT)) AS bs,
             CAST(count(*) AS BIGINT) AS bc
      FROM fanned GROUP BY g, m, x, b
    ),
    perm AS (
      SELECT g, m, x, CAST(count(*) AS BIGINT) AS k,
             sum(bs) AS sb, sum(bs * bs) AS sbb
      FROM blocks WHERE bc = m GROUP BY g, m, x
    ),
    pts AS (
      SELECT g, CAST(x AS BIGINT) AS x,
             CAST(floor(ln((CAST(sbb AS DOUBLE)
                            - CAST(sb AS DOUBLE) * sb / k)
                           / k / (CAST(m AS DOUBLE) * m)) * 1e6)
                  AS BIGINT) AS yq
      FROM perm
      WHERE k >= 2 AND (CAST(sbb AS DOUBLE)
                        - CAST(sb AS DOUBLE) * sb / k)
                       / k / (CAST(m AS DOUBLE) * m) > 0
    ),
    reg AS (
      SELECT g, CAST(count(*) AS BIGINT) AS p_points,
             sum(x) AS sx, sum(yq) AS sy,
             sum(x * x) AS sxx, sum(x * yq) AS sxy
      FROM pts GROUP BY g
    )
    SELECT g AS user_id, p_points,
           CASE WHEN p_points >= 3
                AND p_points * sxx - sx * sx > 0 THEN
             {pin_sql("(p_points * sxy - sx * sy)"
                      " / CAST(p_points * sxx - sx * sx AS DOUBLE)"
                      " / 1e6 / 0.6931471805599453")}
           END AS slope,
           CASE WHEN p_points >= 3
                AND p_points * sxx - sx * sx > 0 THEN
             {pin_sql("(1.0 + (p_points * sxy - sx * sy)"
                      " / CAST(p_points * sxx - sx * sx AS DOUBLE)"
                      " / 1e6 / 0.6931471805599453 / 2)")}
           END AS hurst
    FROM reg
    """


@query("q314_hurst_exponent", oracle=_hurst_oracle())
def q314_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user aggregated-variance Hurst exponent over the events
    value series — the long-range-dependence readout beside q294's
    HAC inflation; every (user, p_points, slope, hurst) row
    hash-checked over order-free integer sums."""
    return event_cents_query(spark, sf_dir, hurst_aggvar)


# ---------------------------------------------------------------------------
# Cross-correlation function (CCF) between two aligned series: does
# metric X at time t predict metric Y at time t+l?  The bivariate
# sibling of q06's ACF and the screen in front of any "use X as an
# exogenous regressor for Y" decision (the reference's multi-sensor
# C-MAPSS frame is exactly this shape — 21 sensor series per engine).
#
#     r_l = sum_t (x_t - xbar)(y_{t+l} - ybar)
#           / sqrt(sum (x - xbar)^2 * sum (y - ybar)^2)
#
# Scale shape (the q294 HAC recipe, bivariate): means via ONE exact-
# integer aggregate broadcast back by a group join; L+1 lead columns
# in one window pass; every centered product quantizes to
# floor(x*1e6) BIGINT before ONE map-side-combined group-by; the lag
# fan-out to rows is a constant L+1 posexplode.  Rows where either
# side is NULL are dropped BEFORE the window (both series must align
# — the documented contract).
_CCF_L = 5


def ccf_lags(df: DataFrame, group_col: str, order: str,
             x_value: Column, y_value: Column, max_lag: int = _CCF_L,
             tie_break: str | None = None) -> DataFrame:
    """(group, lag, n_pairs, ccf) for lag = 0..max_lag: cross-
    correlation of x against y led by `lag` steps, normalized by the
    FULL-series geometric denominator (the standard CCF convention —
    one denominator across lags, so r_l are comparable).  Series with
    zero variance on either side, or fewer than 3 aligned rows,
    report ccf NULL-by-contract (still one row per lag)."""
    ob = [F.asc(order)] + ([F.asc(tie_break)] if tie_break else [])
    w = Window.partitionBy("__g").orderBy(*ob)
    src = df.select(F.col(group_col).alias("__g"),
                    F.col(order).alias(order),
                    *([F.col(tie_break).alias(tie_break)]
                      if tie_break else []),
                    x_value.cast("long").alias("__x"),
                    y_value.cast("long").alias("__y")).filter(
        F.col("__x").isNotNull() & F.col("__y").isNotNull())
    means = src.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.sum("__x").cast("double") / F.count(F.lit(1)))
        .alias("__mx"),
        (F.sum("__y").cast("double") / F.count(F.lit(1)))
        .alias("__my"))
    led = src.select(
        "__g", "__x", "__y",
        *[F.lead("__y", lag).over(w).alias(f"__y{lag}")
          for lag in range(1, max_lag + 1)])
    j = led.join(means, "__g")
    cx = F.col("__x") - F.col("__mx")
    # decimal(38,0) per quantized term: DuckDB's sum(BIGINT) returns
    # HUGEINT, so the oracle never overflows; a long accumulator here
    # would cap at ~9.2e18 (≈1e14 terms × ~1e5 rows/series).  Match
    # the oracle's headroom instead of documenting a row ceiling.
    qt = lambda c: dec(F.floor(c * F.lit(1e6)))  # noqa: E731
    aggs = [F.max("n").alias("n"),
            F.sum(qt(cx * cx)).alias("__sxx"),
            F.sum(qt((F.col("__y") - F.col("__my"))
                     * (F.col("__y") - F.col("__my"))))
            .alias("__syy"),
            F.sum(qt(cx * (F.col("__y") - F.col("__my"))))
            .alias("__c0"),
            F.count(F.lit(1)).cast("long").alias("__n0")]
    for lag in range(1, max_lag + 1):
        yl = F.col(f"__y{lag}")
        aggs.append(F.sum(F.when(yl.isNotNull(),
                                 qt(cx * (yl - F.col("__my")))))
                    .alias(f"__c{lag}"))
        aggs.append(F.count(F.col(f"__y{lag}")).cast("long")
                    .alias(f"__n{lag}"))
    per = j.groupBy("__g").agg(*aggs)
    den = F.sqrt(F.col("__sxx").cast("double")
                 * F.col("__syy").cast("double"))
    ok = (F.col("n") >= 3) & (F.col("__sxx") > 0) & (F.col("__syy") > 0)
    rows = F.array(*[
        F.struct(F.lit(lag).cast("long").alias("lag"),
                 F.col(f"__n{lag}").alias("n_pairs"),
                 F.when(ok, pin(F.col(f"__c{lag}").cast("double")
                                / den)).alias("ccf"))
        for lag in range(0, max_lag + 1)])
    return (per.select("__g", F.explode(rows).alias("__r"))
            .select(F.col("__g").alias(group_col),
                    F.col("__r.lag").alias("lag"),
                    F.col("__r.n_pairs").alias("n_pairs"),
                    F.col("__r.ccf").alias("ccf")))


def _ccf_oracle(max_lag: int = _CCF_L) -> str:
    leads = ",\n             ".join(
        f"lead(y, {lag}) OVER w AS y{lag}"
        for lag in range(1, max_lag + 1))
    csums = ",\n             ".join(
        f"sum(CASE WHEN y{lag} IS NOT NULL THEN CAST(floor("
        f"(x - mx) * (y{lag} - my) * 1e6) AS BIGINT) END) AS c{lag},\n"
        f"             CAST(count(y{lag}) AS BIGINT) AS n{lag}"
        for lag in range(1, max_lag + 1))
    unions = "\n      UNION ALL ".join(
        f"SELECT g, CAST({lag} AS BIGINT) AS lag, n{lag} AS n_pairs,"
        f" CASE WHEN ok THEN {pin_sql(f'CAST(c{lag} AS DOUBLE) / den')}"
        " END AS ccf FROM per"
        for lag in range(0, max_lag + 1))
    return f"""
    WITH src AS (
      SELECT user_id AS g, ts, event_id,
             {cents_sql("value")} AS x,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS y
      FROM events
      WHERE value IS NOT NULL
        AND json_extract_string(props, '$.k') IS NOT NULL
    ),
    means AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS DOUBLE) / count(*) AS mx,
             CAST(sum(y) AS DOUBLE) / count(*) AS my
      FROM src GROUP BY g
    ),
    led AS (
      SELECT g, x, y,
             {leads}
      FROM src
      WINDOW w AS (PARTITION BY g ORDER BY ts, event_id)
    ),
    raw AS (
      SELECT l.g AS g, max(n) AS n,
             sum(CAST(floor((x - mx) * (x - mx) * 1e6) AS BIGINT))
               AS sxx,
             sum(CAST(floor((y - my) * (y - my) * 1e6) AS BIGINT))
               AS syy,
             sum(CAST(floor((x - mx) * (y - my) * 1e6) AS BIGINT))
               AS c0,
             CAST(count(*) AS BIGINT) AS n0,
             {csums}
      FROM led l JOIN means USING (g) GROUP BY l.g
    ),
    per AS (
      SELECT *, sqrt(CAST(sxx AS DOUBLE) * CAST(syy AS DOUBLE)) AS den,
             n >= 3 AND sxx > 0 AND syy > 0 AS ok
      FROM raw
    )
    SELECT g AS user_id, lag, n_pairs, ccf FROM (
      {unions}
    )
    """


@query("q315_ccf", oracle=_ccf_oracle())
def q315_ccf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user cross-correlation (lags 0..5) between the value series
    and the props.k series — the bivariate lead/lag screen beside
    q06's ACF; every (user, lag, n_pairs, ccf) row hash-checked."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & F.get_json_object("props", "$.k").isNotNull())
    return ccf_lags(
        ev, "user_id", "ts",
        cents("value"),
        F.get_json_object("props", "$.k").cast("long"),
        tie_break="event_id")


# ---------------------------------------------------------------------------
# SEASONAL Mann–Kendall (Hirsch & Slack 1984): run q228's trend test
# WITHIN each season (here: calendar month) and sum the per-season S
# and variances — a trend screen that a seasonal cycle cannot fool,
# because only same-season observations are ever compared.  The
# standard operator on environmental/IoT series with periodicity.
#
# Per (series, season) the pair join is confined to the season's rows
# (the q227/q228 pair contract, with the pair population cut by the
# number of seasons); S is an exact integer sign sum over cents,
# var18 the exact integer [n(n-1)(2n+5) - SUM t(t-1)(2t+5)] with the
# value-tie family corrected.  Ordering is the full-resolution
# (ts, event_id) total order — this variant DOCUMENTS distinct
# ordering keys per row (the events contract) and so carries no
# time-tie family; q228 keeps the full both-families machinery for
# second-resolution data.  z = (S - sign(S)) / sqrt(VAR18/18) pins at
# 1e-6 over exact integers.
def seasonal_mann_kendall(df: DataFrame, group_col: str,
                          ts_col: str = "ts",
                          value: Column | None = None,
                          id_col: str = "event_id",
                          season: Column | None = None) -> DataFrame:
    """(group, n, n_seasons, s_total, var18_total, z): Hirsch–Slack
    seasonal Mann–Kendall per series; seasons default to
    month-of-year (`season` overrides with any integer expression).
    var18_total <= 0 (every season constant or single-row) reports z
    NULL-by-contract (one row per series either way)."""
    if value is None:
        value = cents("value")
    if season is None:
        season = F.month(ts_col)
    s = df.select(
        F.col(group_col).alias("__g"),
        season.alias("__season"),
        F.col(ts_col).alias("__ts"),
        F.col(id_col).alias("__id"),
        value.cast("long").alias("__c")).filter(
        F.col("__c").isNotNull())
    a, b = s.alias("a"), s.alias("b")
    before = (F.col("a.__ts") < F.col("b.__ts")) | \
        ((F.col("a.__ts") == F.col("b.__ts"))
         & (F.col("a.__id") < F.col("b.__id")))
    sgn = (a.join(b, (F.col("a.__g") == F.col("b.__g"))
                  & (F.col("a.__season") == F.col("b.__season"))
                  & before)
           .groupBy(F.col("a.__g").alias("__g"),
                    F.col("a.__season").alias("__season"))
           .agg(F.sum(F.signum(F.col("b.__c") - F.col("a.__c"))
                      .cast("long")).alias("__s")))
    n_gs = s.groupBy("__g", "__season").agg(
        F.count(F.lit(1)).cast("long").alias("__n"))
    vties = (s.groupBy("__g", "__season", "__c")
             .agg(F.count(F.lit(1)).cast("long").alias("__t"))
             .groupBy("__g", "__season")
             .agg(F.sum(F.col("__t") * (F.col("__t") - 1)
                        * (2 * F.col("__t") + 5)).alias("__t1")))
    per = (n_gs.join(vties, ["__g", "__season"])
           .join(sgn, ["__g", "__season"], "left")
           .select("__g", "__season", "__n",
                   F.coalesce("__s", F.lit(0)).alias("__s"),
                   (F.col("__n") * (F.col("__n") - 1)
                    * (2 * F.col("__n") + 5) - F.col("__t1"))
                   .cast("long").alias("__v18")))
    tot = per.groupBy("__g").agg(
        F.sum("__n").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_seasons"),
        F.sum("__s").cast("long").alias("s_total"),
        F.sum("__v18").cast("long").alias("var18_total"))
    z = ((F.col("s_total") - F.signum(F.col("s_total")))
         / F.sqrt(F.col("var18_total") / F.lit(18.0)))
    return tot.select(
        F.col("__g").alias(group_col), "n", "n_seasons", "s_total",
        "var18_total",
        F.when(F.col("var18_total") > 0, pin(z)).alias("z"))


_SMK_ORACLE = f"""
    WITH s AS (
      SELECT user_id AS g, CAST(month(ts) AS INTEGER) AS season,
             ts, event_id AS id,
             {cents_sql("value")} AS c
      FROM events WHERE value IS NOT NULL
    ),
    sgn AS (
      SELECT a.g, a.season,
             sum(CAST(sign(b.c - a.c) AS BIGINT)) AS s
      FROM s a JOIN s b
        ON a.g = b.g AND a.season = b.season
       AND (a.ts < b.ts OR (a.ts = b.ts AND a.id < b.id))
      GROUP BY a.g, a.season
    ),
    n_gs AS (
      SELECT g, season, CAST(count(*) AS BIGINT) AS n
      FROM s GROUP BY g, season
    ),
    vt AS (
      SELECT g, season,
             sum(t * (t - 1) * (2 * t + 5)) AS t1
      FROM (SELECT g, season, c, CAST(count(*) AS BIGINT) AS t
            FROM s GROUP BY g, season, c)
      GROUP BY g, season
    ),
    per AS (
      SELECT n_gs.g, n_gs.season, n_gs.n,
             COALESCE(sgn.s, 0) AS s,
             CAST(n_gs.n * (n_gs.n - 1) * (2 * n_gs.n + 5) - vt.t1
                  AS BIGINT) AS v18
      FROM n_gs JOIN vt ON n_gs.g = vt.g AND n_gs.season = vt.season
      LEFT JOIN sgn ON n_gs.g = sgn.g AND n_gs.season = sgn.season
    ),
    tot AS (
      SELECT g, CAST(sum(n) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_seasons,
             CAST(sum(s) AS BIGINT) AS s_total,
             CAST(sum(v18) AS BIGINT) AS var18_total
      FROM per GROUP BY g
    )
    SELECT g AS user_id, n, n_seasons, s_total, var18_total,
           CASE WHEN var18_total > 0 THEN
             {pin_sql("(s_total - sign(s_total))"
                      " / sqrt(var18_total / 18.0)")}
           END AS z
    FROM tot
    """


@query("q316_seasonal_mann_kendall", oracle=_SMK_ORACLE)
def q316_seasonal_mann_kendall(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Per-user Hirsch–Slack seasonal Mann–Kendall (month seasons)
    over the events value series — the deseasonalized trend screen
    beside q228; every row hash-checked over exact integer S and
    variance sums."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull())
    return seasonal_mann_kendall(ev, "user_id")


# ---------------------------------------------------------------------------
# Page–Hinkley drift detector (Page 1954; the streaming-drift test in
# Gama et al. 2014 §3.2): the sequential changepoint alarm that
# complements q292's OFFLINE single changepoint — q292 asks "where
# was the one break, in hindsight"; this asks "walking the series
# forward, when would a monitor have FIRED", the shape a training-
# data pipeline uses to cut a corpus at a quality drift.
#
#     PH_t = sum_{i<=t} (v_i - mean_i - delta),  mean_i = prefix mean
#     alarm when PH_t - min_{i<=t} PH_i > lambda
#
# Exactness: prefix sums of cents are exact; each increment quantizes
# to floor((v - S/i - delta_cents) * 1e2) BIGINT, so PH, the running
# minimum, and every gap are exact integers end-to-end — the alarm
# comparison is integer vs integer, no float boundary anywhere.  ONE
# window partition per series (cumsum, running min, and the final
# aggregate all reuse it); no UDF, no driver state.
_PH_Q = 1e2


def page_hinkley(df: DataFrame, group_col: str, order: str,
                 value: Column, delta: float = 0.05,
                 lam: float = 10.0,
                 tie_break: str | None = None) -> DataFrame:
    """(group, n, ph_stat, n_alarms, first_alarm): Page–Hinkley over
    each series; ph_stat = max_t (PH_t - min_{i<=t} PH_i) in ORIGINAL
    value units, n_alarms counts rows over lambda, first_alarm is the
    1-based row index of the first crossing (NULL when none).  delta
    and lambda are in original value units; increments quantize at
    1e-2 cents — the documented resolution."""
    src, w = ordered_series(df, group_col, order, value, tie_break)
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    dc = delta * 100.0
    lam_q = int(round(lam * 100.0 * _PH_Q))
    stepped = src.select(
        "__g",
        F.row_number().over(w).alias("__i"),
        F.sum("__v").over(wcum).alias("__S"),
        F.col("__v").alias("__v"))
    term = F.floor((F.col("__v")
                    - F.col("__S") / F.col("__i")
                    - F.lit(dc)) * F.lit(_PH_Q)).cast("long")
    wi = (Window.partitionBy("__g").orderBy("__i")
          .rowsBetween(Window.unboundedPreceding, 0))
    ph = stepped.select(
        "__g", "__i", term.alias("__t"))
    ph = ph.select(
        "__g", "__i",
        F.sum("__t").over(wi).alias("__ph"))
    ph = ph.select(
        "__g", "__i", "__ph",
        (F.col("__ph") - F.min("__ph").over(wi)).alias("__gap"))
    out = ph.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("__gap").alias("__maxgap"),
        F.sum(F.when(F.col("__gap") > F.lit(lam_q), F.lit(1))
              .otherwise(F.lit(0))).cast("long").alias("n_alarms"),
        F.min(F.when(F.col("__gap") > F.lit(lam_q), F.col("__i")))
        .cast("long").alias("first_alarm"))
    return out.select(
        F.col("__g").alias(group_col), "n",
        pin(F.col("__maxgap") / F.lit(_PH_Q) / F.lit(100.0))
        .alias("ph_stat"),
        "n_alarms", "first_alarm")


def _ph_oracle(delta: float = 0.05, lam: float = 10.0) -> str:
    dc = delta * 100.0
    lam_q = int(round(lam * 100.0 * _PH_Q))
    return f"""
    WITH {EVENT_CENTS_SRC_SQL},
    stepped AS (
      SELECT g,
             row_number() OVER w AS i,
             sum(v) OVER (PARTITION BY g ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS S,
             v
      FROM src
      WINDOW w AS (PARTITION BY g ORDER BY ts, event_id)
    ),
    terms AS (
      SELECT g, i,
             CAST(floor((v - CAST(S AS DOUBLE) / i - {dc!r})
                        * {_PH_Q!r}) AS BIGINT) AS t
      FROM stepped
    ),
    ph AS (
      SELECT g, i,
             sum(t) OVER (PARTITION BY g ORDER BY i
                          ROWS UNBOUNDED PRECEDING) AS ph
      FROM terms
    ),
    gaps AS (
      SELECT g, i,
             ph - min(ph) OVER (PARTITION BY g ORDER BY i
                                ROWS UNBOUNDED PRECEDING) AS gap
      FROM ph
    )
    SELECT g AS user_id, CAST(count(*) AS BIGINT) AS n,
           {pin_sql(f"max(gap) / {_PH_Q!r} / 100.0")}
             AS ph_stat,
           CAST(sum(CASE WHEN gap > {lam_q} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_alarms,
           CAST(min(CASE WHEN gap > {lam_q} THEN i END) AS BIGINT)
             AS first_alarm
    FROM gaps GROUP BY g
    """


@query("q317_page_hinkley", oracle=_ph_oracle())
def q317_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Page–Hinkley sequential drift alarm over the events
    value series — the walking-forward counterpart of q292's offline
    changepoint; every (user, n, ph_stat, n_alarms, first_alarm) row
    hash-checked over exact integer cumulative sums."""
    return event_cents_query(spark, sf_dir, page_hinkley)


# ---------------------------------------------------------------------------
# Ljung–Box portmanteau test (Ljung & Box 1978): is the series white
# noise ACROSS the first L autocorrelations jointly?  q293's von
# Neumann reads lag 1 alone; a forecasting residual check needs the
# joint statistic — this is the standard post-fit diagnostic for
# q309-q311's residuals (and the whiteness gate in every Box-Jenkins
# text):
#
#     Q = n(n+2) SUM_{l=1..L} r_l^2 / (n-l)   ~  chi2(L) under H0
#
# Same ONE-pass shape as q294's HAC: means join, L lead columns, each
# centered product quantized to floor(x*1e6) BIGINT before one
# map-side-combined aggregate; each r_l pins at 1e-6 (exact integer
# ratio read once) and Q evaluates from the PINNED r_l — the emitted
# acf columns reproduce the statistic, the documented contract.
_LB_L = 10


def ljung_box(df: DataFrame, group_col: str, order: str,
              value: Column, max_lag: int = _LB_L,
              tie_break: str | None = None) -> DataFrame:
    """(group, n, q_stat): Ljung–Box over lags 1..max_lag per series.
    n <= max_lag + 1 or zero variance reports q_stat NULL-by-contract
    (one row per series either way)."""
    src, w = ordered_series(df, group_col, order, value, tie_break)
    means = src.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.sum("__v").cast("double")
         / F.count(F.lit(1))).alias("__m"))
    led = src.select(
        "__g", "__v",
        *[F.lead("__v", l).over(w).alias(f"__v{l}")
          for l in range(1, max_lag + 1)])
    j = led.join(means, "__g")
    cent = F.col("__v") - F.col("__m")
    # decimal(38,0) per term (oracle sums BIGINT into HUGEINT) — see
    # the ccf_lags note on the long-accumulator ceiling.
    qt = lambda c: dec(F.floor(c * F.lit(1e6)))  # noqa: E731
    aggs = [F.max("n").alias("n"),
            F.sum(qt(cent * cent)).alias("__c0")]
    for l in range(1, max_lag + 1):
        vl = F.col(f"__v{l}")
        aggs.append(F.sum(F.when(
            vl.isNotNull(), qt(cent * (vl - F.col("__m")))))
            .alias(f"__c{l}"))
    per = j.groupBy("__g").agg(*aggs)
    nd = F.col("n").cast("double")
    q = None
    for l in range(1, max_lag + 1):
        rl = pin(F.col(f"__c{l}").cast("double") / F.col("__c0"))
        term = rl * rl / (nd - l)
        q = term if q is None else q + term
    q_stat = nd * (nd + 2) * q
    ok = (F.col("n") > max_lag + 1) & (F.col("__c0") > 0)
    return per.select(
        F.col("__g").alias(group_col), "n",
        F.when(ok, pin(q_stat)).alias("q_stat"))


def _lb_oracle(max_lag: int = _LB_L) -> str:
    leads = ",\n             ".join(
        f"lead(v, {l}) OVER w AS v{l}" for l in range(1, max_lag + 1))
    csums = ",\n             ".join(
        f"sum(CASE WHEN v{l} IS NOT NULL THEN CAST(floor("
        f"(v - m) * (v{l} - m) * 1e6) AS BIGINT) END) AS c{l}"
        for l in range(1, max_lag + 1))
    terms = " + ".join(
        f"({pin_sql(f'CAST(c{l} AS DOUBLE) / c0')})"
        f" * ({pin_sql(f'CAST(c{l} AS DOUBLE) / c0')})"
        f" / (CAST(n AS DOUBLE) - {l})" for l in range(1, max_lag + 1))
    return f"""
    WITH {EVENT_CENTS_SRC_SQL},
    means AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(v) AS DOUBLE) / count(*) AS m
      FROM src GROUP BY g
    ),
    led AS (
      SELECT g, v,
             {leads}
      FROM src
      WINDOW w AS (PARTITION BY g ORDER BY ts, event_id)
    ),
    per AS (
      SELECT l.g, max(n) AS n,
             sum(CAST(floor((v - m) * (v - m) * 1e6) AS BIGINT))
               AS c0,
             {csums}
      FROM led l JOIN means USING (g) GROUP BY l.g
    )
    SELECT g AS user_id, n,
           CASE WHEN n > {max_lag + 1} AND c0 > 0 THEN
             {pin_sql(f"CAST(n AS DOUBLE) * (n + 2) * ({terms})")}
           END AS q_stat
    FROM per
    """


@query("q321_ljung_box", oracle=_lb_oracle())
def q321_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Ljung–Box whiteness statistic over lags 1..10 of the
    events value series — the joint residual diagnostic behind the
    q309-q311 forecast tier; every (user, n, q_stat) row
    hash-checked."""
    return event_cents_query(spark, sf_dir, ljung_box)


# ---------------------------------------------------------------------------
# KPSS level-stationarity test (Kwiatkowski/Phillips/Schmidt/Shin
# 1992): the MIRROR of q313's Dickey–Fuller — DF's null is a unit
# root, KPSS's null is stationarity, and the textbook protocol runs
# BOTH (DF rejects + KPSS accepts = confidently stationary; the
# reverse = confidently integrated; both reject = misspecified).
#
#     eta = SUM_t S_t^2 / (n^2 * lrv),  S_t = partial sums of (v - vbar)
#
# with lrv the Bartlett/Newey-West long-run variance (q294's kernel,
# L = 5).  Exactness: S_t = cumsum(v) - t*mean is one double over
# exact integers, its square quantizes to floor(x*1e2) DECIMAL(38,0)
# before the sum; the lrv reuses the q294 quantized-product recipe in
# the SAME aggregate.  One window pass (cumsum + L leads share the
# partition), one group-by.  5% critical value 0.463 — the caller's
# lookup, documented.
def kpss_level(df: DataFrame, group_col: str, order: str,
               value: Column, max_lag: int = _HAC_L,
               tie_break: str | None = None) -> DataFrame:
    """(group, n, eta): KPSS level-stationarity statistic per series.
    n <= max_lag + 1 or zero long-run variance reports eta
    NULL-by-contract (one row per series either way)."""
    src, w = ordered_series(df, group_col, order, value, tie_break)
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    means = src.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.sum("__v").cast("double")
         / F.count(F.lit(1))).alias("__m"))
    led = src.select(
        "__g", "__v",
        F.row_number().over(w).alias("__i"),
        F.sum("__v").over(wcum).alias("__cs"),
        *[F.lead("__v", l).over(w).alias(f"__v{l}")
          for l in range(1, max_lag + 1)])
    j = led.join(means, "__g")
    st = F.col("__cs") - F.col("__i") * F.col("__m")
    cent = F.col("__v") - F.col("__m")
    # decimal(38,0) per term (oracle sums BIGINT into HUGEINT) — see
    # the ccf_lags note on the long-accumulator ceiling.
    qt = lambda c: dec(F.floor(c * F.lit(1e6)))  # noqa: E731
    aggs = [F.max("n").alias("n"),
            F.sum(dec(F.floor(st * st * F.lit(1e2)))).alias("__ss2"),
            F.sum(qt(cent * cent)).alias("__c0")]
    for l in range(1, max_lag + 1):
        vl = F.col(f"__v{l}")
        aggs.append(F.sum(F.when(
            vl.isNotNull(), qt(cent * (vl - F.col("__m")))))
            .alias(f"__c{l}"))
    per = j.groupBy("__g").agg(*aggs)
    nd = F.col("n").cast("double")
    lrv = F.col("__c0").cast("double") / F.lit(1e6) / nd
    for l in range(1, max_lag + 1):
        wgt = 2.0 * (1.0 - l / (max_lag + 1.0))
        lrv = lrv + F.lit(wgt) * (F.col(f"__c{l}").cast("double")
                                  / F.lit(1e6) / nd)
    eta = (F.col("__ss2").cast("double") / F.lit(1e2)
           / (nd * nd) / lrv)
    ok = (F.col("n") > max_lag + 1) & (lrv > 0)
    return per.select(
        F.col("__g").alias(group_col), "n",
        F.when(ok, pin(eta)).alias("eta"))


def _kpss_oracle(max_lag: int = _HAC_L) -> str:
    leads = ",\n             ".join(
        f"lead(v, {l}) OVER w AS v{l}" for l in range(1, max_lag + 1))
    csums = ",\n             ".join(
        f"sum(CASE WHEN v{l} IS NOT NULL THEN CAST(floor("
        f"(v - m) * (v{l} - m) * 1e6) AS BIGINT) END) AS c{l}"
        for l in range(1, max_lag + 1))
    lrv = "CAST(c0 AS DOUBLE) / 1e6 / n"
    for l in range(1, max_lag + 1):
        wgt = repr(2.0 * (1.0 - l / (max_lag + 1.0)))
        lrv += f" + {wgt} * (CAST(c{l} AS DOUBLE) / 1e6 / n)"
    return f"""
    WITH {EVENT_CENTS_SRC_SQL},
    means AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(v) AS DOUBLE) / count(*) AS m
      FROM src GROUP BY g
    ),
    led AS (
      SELECT g, v,
             row_number() OVER w AS i,
             sum(v) OVER (PARTITION BY g ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS cs,
             {leads}
      FROM src
      WINDOW w AS (PARTITION BY g ORDER BY ts, event_id)
    ),
    per AS (
      SELECT l.g, max(n) AS n,
             sum(CAST(floor((cs - i * m) * (cs - i * m) * 1e2)
                      AS HUGEINT)) AS ss2,
             sum(CAST(floor((v - m) * (v - m) * 1e6) AS BIGINT))
               AS c0,
             {csums}
      FROM led l JOIN means USING (g) GROUP BY l.g
    )
    SELECT g AS user_id, n,
           CASE WHEN n > {max_lag + 1} AND ({lrv}) > 0 THEN
             {pin_sql(f"CAST(ss2 AS DOUBLE) / 1e2"
                      f" / (CAST(n AS DOUBLE) * n) / ({lrv})")}
           END AS eta
    FROM per
    """


@query("q322_kpss", oracle=_kpss_oracle())
def q322_kpss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user KPSS level-stationarity statistic over the events
    value series — the stationary-null mirror of q313's Dickey-Fuller
    (run both: the textbook confirmatory protocol); every
    (user, n, eta) row hash-checked."""
    return event_cents_query(spark, sf_dir, kpss_level)


# ---------------------------------------------------------------------------
# Granger causality, lag 1 (Granger 1969): does knowing x_{t-1}
# improve the forecast of y_t beyond y's own history?  The DIRECTED
# sibling of q315's CCF (which is symmetric evidence); the standard
# screen before promoting an exogenous signal into a forecasting
# model (here: does props.k lead value?).
#
#     restricted:    y_t ~ 1 + y_{t-1}           -> SSR_r
#     unrestricted:  y_t ~ 1 + y_{t-1} + x_{t-1} -> SSR_u
#     F = (SSR_r - SSR_u) / (SSR_u / (m - 3))    ~ F(1, m-3) under H0
#
# Exactness (the q311 AR(2) recipe with z = x_{t-1}): demean over the
# REGRESSION rows, quantize every centered product to floor(x*1e4)
# BIGINT, solve the 2x2 system by Cramer's rule over exact
# DECIMAL(38,0)/HUGEINT integers, pin b1/bx at 1e-6, and read both
# SSRs back from the PINNED coefficients — reproducible from the
# emitted columns.  One window pass + two aggregates.
def granger_lag1(df: DataFrame, group_col: str, order: str,
                 y_value: Column, x_value: Column,
                 tie_break: str | None = None) -> DataFrame:
    """(group, m, bx, f_stat): lag-1 Granger test of x -> y per
    series.  m < 5, a singular system, or a non-positive SSR_u
    reports bx/f_stat NULL-by-contract (one row per series when any
    regression row exists)."""
    ob = [F.asc(order)] + ([F.asc(tie_break)] if tie_break else [])
    w = Window.partitionBy("__g").orderBy(*ob)
    src = df.select(F.col(group_col).alias("__g"),
                    F.col(order).alias(order),
                    *([F.col(tie_break).alias(tie_break)]
                      if tie_break else []),
                    y_value.cast("long").alias("__y"),
                    x_value.cast("long").alias("__x")).filter(
        F.col("__y").isNotNull() & F.col("__x").isNotNull())
    lagged = src.select(
        "__g", F.col("__y").alias("__y0"),
        F.lag("__y", 1).over(w).alias("__yl"),
        F.lag("__x", 1).over(w).alias("__xl")).filter(
        F.col("__yl").isNotNull() & F.col("__xl").isNotNull())
    means = lagged.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        (F.sum("__y0").cast("double") / F.count(F.lit(1)))
        .alias("__my"),
        (F.sum("__yl").cast("double") / F.count(F.lit(1)))
        .alias("__myl"),
        (F.sum("__xl").cast("double") / F.count(F.lit(1)))
        .alias("__mxl"))
    j = lagged.join(means, "__g")
    cy = F.col("__y0") - F.col("__my")
    ca = F.col("__yl") - F.col("__myl")
    cb = F.col("__xl") - F.col("__mxl")
    # decimal(38,0) per TERM (not just the finished sum) so the
    # accumulator matches the oracle's HUGEINT headroom — a long
    # accumulator caps at ~9.2e18, reachable by ~1e14 terms × ~1e5
    # rows/series at larger SFs.
    q = lambda c: dec(F.floor(c * F.lit(1e4)))  # noqa: E731
    per = j.groupBy("__g").agg(
        F.max("m").alias("m"),
        dec(F.sum(q(ca * ca))).alias("__saa"),
        dec(F.sum(q(cb * cb))).alias("__sbb"),
        dec(F.sum(q(ca * cb))).alias("__sab"),
        dec(F.sum(q(ca * cy))).alias("__say"),
        dec(F.sum(q(cb * cy))).alias("__sby"),
        dec(F.sum(q(cy * cy))).alias("__syy"))
    det = (F.col("__saa") * F.col("__sbb")
           - F.col("__sab") * F.col("__sab"))
    num1 = (F.col("__sbb") * F.col("__say")
            - F.col("__sab") * F.col("__sby"))
    num2 = (F.col("__saa") * F.col("__sby")
            - F.col("__sab") * F.col("__say"))
    det_d = F.when(det.cast("double") > 0, det.cast("double"))
    b1 = pin(num1.cast("double") / det_d)
    bx = pin(num2.cast("double") / det_d)
    saa_d = F.when(F.col("__saa").cast("double") > 0,
                   F.col("__saa").cast("double"))
    br = pin(F.col("__say").cast("double") / saa_d)
    ssr_u = (F.col("__syy").cast("double")
             - b1 * F.col("__say").cast("double")
             - bx * F.col("__sby").cast("double"))
    ssr_r = (F.col("__syy").cast("double")
             - br * F.col("__say").cast("double"))
    md = F.col("m").cast("double")
    f_stat = (ssr_r - ssr_u) / (ssr_u / (md - 3))
    ok = (F.col("m") >= 5) & (det.cast("double") > 0) \
        & (F.col("__saa").cast("double") > 0) & (ssr_u > 0)
    return per.select(
        F.col("__g").alias(group_col), "m",
        F.when(ok, bx).alias("bx"),
        F.when(ok, pin(f_stat)).alias("f_stat"))


_GRANGER_ORACLE = f"""
    WITH src AS (
      SELECT user_id AS g, ts, event_id,
             {cents_sql("value")} AS y,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS x
      FROM events
      WHERE value IS NOT NULL
        AND json_extract_string(props, '$.k') IS NOT NULL
    ),
    lagged AS (
      SELECT g, y AS y0,
             lag(y, 1) OVER w AS yl,
             lag(x, 1) OVER w AS xl
      FROM src
      WINDOW w AS (PARTITION BY g ORDER BY ts, event_id)
    ),
    kept AS (
      SELECT * FROM lagged WHERE yl IS NOT NULL AND xl IS NOT NULL
    ),
    means AS (
      SELECT g, CAST(count(*) AS BIGINT) AS m,
             CAST(sum(y0) AS DOUBLE) / count(*) AS my,
             CAST(sum(yl) AS DOUBLE) / count(*) AS myl,
             CAST(sum(xl) AS DOUBLE) / count(*) AS mxl
      FROM kept GROUP BY g
    ),
    per AS (
      SELECT k.g, max(m) AS m,
             sum(CAST(floor((yl - myl) * (yl - myl) * 1e4)
                      AS HUGEINT)) AS saa,
             sum(CAST(floor((xl - mxl) * (xl - mxl) * 1e4)
                      AS HUGEINT)) AS sbb,
             sum(CAST(floor((yl - myl) * (xl - mxl) * 1e4)
                      AS HUGEINT)) AS sab,
             sum(CAST(floor((yl - myl) * (y0 - my) * 1e4)
                      AS HUGEINT)) AS say,
             sum(CAST(floor((xl - mxl) * (y0 - my) * 1e4)
                      AS HUGEINT)) AS sby,
             sum(CAST(floor((y0 - my) * (y0 - my) * 1e4)
                      AS HUGEINT)) AS syy
      FROM kept k JOIN means USING (g) GROUP BY k.g
    ),
    pinned AS (
      SELECT g, m, saa, say, sby, syy,
             saa * sbb - sab * sab AS det,
             CASE WHEN CAST(saa * sbb - sab * sab AS DOUBLE) > 0 THEN
               {pin_sql("(sbb * say - sab * sby)"
                        " / CAST(saa * sbb - sab * sab AS DOUBLE)")} END AS b1,
             CASE WHEN CAST(saa * sbb - sab * sab AS DOUBLE) > 0 THEN
               {pin_sql("(saa * sby - sab * say)"
                        " / CAST(saa * sbb - sab * sab AS DOUBLE)")} END AS bx,
             CASE WHEN CAST(saa AS DOUBLE) > 0 THEN
               {pin_sql("CAST(say AS DOUBLE) / CAST(saa AS DOUBLE)")} END AS br
      FROM per
    ),
    ssr AS (
      SELECT g, m, det, saa, bx,
             CAST(syy AS DOUBLE) - b1 * CAST(say AS DOUBLE)
               - bx * CAST(sby AS DOUBLE) AS ssr_u,
             CAST(syy AS DOUBLE) - br * CAST(say AS DOUBLE) AS ssr_r
      FROM pinned
    )
    SELECT g AS user_id, m,
           CASE WHEN m >= 5 AND CAST(det AS DOUBLE) > 0
                AND CAST(saa AS DOUBLE) > 0 AND ssr_u > 0
             THEN bx END AS bx,
           CASE WHEN m >= 5 AND CAST(det AS DOUBLE) > 0
                AND CAST(saa AS DOUBLE) > 0 AND ssr_u > 0 THEN
             {pin_sql("(ssr_r - ssr_u) / (ssr_u / (CAST(m AS DOUBLE) - 3))")}
           END AS f_stat
    FROM ssr
    """


@query("q324_granger_lag1", oracle=_GRANGER_ORACLE)
def q324_granger_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lag-1 Granger test of props.k -> value — the directed
    lead/lag screen beside q315's symmetric CCF; every
    (user, m, bx, f_stat) row hash-checked with both regressions
    solved in exact integer arithmetic."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & F.get_json_object("props", "$.k").isNotNull())
    return granger_lag1(
        ev, "user_id", "ts",
        cents("value"),
        F.get_json_object("props", "$.k").cast("long"),
        tie_break="event_id")


# ---------------------------------------------------------------------------
# HBOS — Histogram-Based Outlier Score (Goldstein & Dengel 2012): the
# densest cheap anomaly detector for sensor rows — score each event by
# the inverse (log) density of its feature bins, features assumed
# independent.  Complements the SERIES detectors (q60 rolling-z, q184
# MAD, q107 CUSUM, q317 Page–Hinkley): those flag deviations from a
# series' own history; HBOS flags globally rare (value, channel)
# COMBINATIONS without any per-series state, which is what a fleetwide
# triage pass wants first.
#
#     hbos(row) = Σ_f ln( max_count_f / count_f(bin_f(row)) )
#
# (the standard normalized form: the modal bin scores 0, rarer bins
# score positive).  Exactness: bin ids are exact integer arithmetic
# over the cents domain (floor((v - min) * B / (max - min + 1)) —
# denominator +1 keeps the max in-range with no clamp branch); bin
# counts and max counts are exact integers; ONE ln per feature per
# row over an integer ratio, pinned at 1e-6.  Scale shape: two global
# min/max aggregates (map-side), one groupBy per feature over B-bound
# bins, broadcast of the tiny (B-row) histogram tables back onto the
# row stream — no window, no per-series state, embarrassingly
# parallel scoring.
# ---------------------------------------------------------------------------

_HBOS_BINS = 10


def hbos_scores(df: DataFrame, id_col: str,
                features: dict[str, Column],
                nbins: int = _HBOS_BINS,
                joint_cells: int = 10_000) -> DataFrame:
    """(id, bin_<f>..., hbos): histogram-based outlier score per row
    over integer-valued feature columns.  Rows with any NULL feature
    are dropped (each feature owns its histogram; a NULL has no bin);
    a feature with zero range puts every row in bin 0 and contributes
    0 to every score.  ``joint_cells`` is the B^N ceiling below which
    the joint-bin aggregate feeds the marginals (one source scan for
    all features); past it, per-feature histograms aggregate the rows
    directly.  The two routes compute the SAME marginal counts — the
    knob prices the plan, never the scores (asserted by
    tests/test_round14_wave.py's branch-equality fixture)."""
    if not features:
        raise ValueError("hbos_scores needs at least one feature")
    names = sorted(features)
    src = df.select(
        F.col(id_col).alias("__id"),
        *[v.cast("long").alias(f"__f_{k}") for k, v in features.items()])
    for k in names:
        src = src.filter(F.col(f"__f_{k}").isNotNull())
    # The (id, feature...) projection feeds three passes (range stats,
    # bin counts, per-row scoring). Persist the NARROW frame so the
    # source — typically a JSON-parsing scan, the expensive part — is
    # decoded once, not once per pass (guide §1.2/§5: cache only what
    # is reused and slim).
    src = keep(src)
    stats = src.agg(*[a for k in names for a in (
        F.min(f"__f_{k}").alias(f"__lo_{k}"),
        F.max(f"__f_{k}").alias(f"__hi_{k}"))])
    binned = src.join(F.broadcast(stats))
    for k in names:
        span = F.col(f"__hi_{k}") - F.col(f"__lo_{k}") + F.lit(1)
        binned = binned.withColumn(
            f"bin_{k}",
            F.floor((F.col(f"__f_{k}") - F.col(f"__lo_{k}"))
                    * F.lit(nbins) / span).cast("int"))
    out = binned.select("__id", *[f"bin_{k}" for k in names])
    # ONE joint-bin aggregate (≤ B^N rows — tiny for the 2-3 feature
    # fleet-triage case) feeds every per-feature marginal, so the
    # JSON-parsing source is scanned once for stats, once for the
    # joint counts, once for scoring — not once per feature
    # (measured: 4.68 → 3.26 s at sf0.1).  Past B^N = joint_cells the
    # joint stops being tiny and per-feature histograms win.
    score = None
    if nbins ** len(names) <= joint_cells:
        # ≤ joint_cells rows, read twice per feature (marginal sum +
        # its max) — persist so the joint aggregate runs once
        joint = keep(out.groupBy(*[f"bin_{k}" for k in names]).agg(
            F.count(F.lit(1)).cast("long").alias("__jc")))
        for k in names:
            hist = joint.groupBy(f"bin_{k}").agg(
                F.sum("__jc").cast("long").alias(f"__c_{k}"))
            hist = hist.join(F.broadcast(
                hist.agg(F.max(f"__c_{k}").alias(f"__m_{k}"))))
            out = out.join(F.broadcast(hist), f"bin_{k}")
            term = F.log(F.col(f"__m_{k}").cast("double")
                         / F.col(f"__c_{k}").cast("double"))
            score = term if score is None else score + term
    else:
        for k in names:
            hist = (out.groupBy(f"bin_{k}")
                    .agg(F.count(F.lit(1)).cast("long")
                         .alias(f"__c_{k}")))
            hist = hist.join(F.broadcast(
                hist.agg(F.max(f"__c_{k}").alias(f"__m_{k}"))))
            out = out.join(F.broadcast(hist), f"bin_{k}")
            term = F.log(F.col(f"__m_{k}").cast("double")
                         / F.col(f"__c_{k}").cast("double"))
            score = term if score is None else score + term
    return out.select(
        F.col("__id").alias(id_col), *[f"bin_{k}" for k in names],
        pin(score).alias("hbos"))


_HBOS_ORACLE = f"""
    WITH src AS (
      SELECT event_id,
             {cents_sql("value")} AS fv,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS fk
      FROM events
      WHERE value IS NOT NULL
        AND json_extract_string(props, '$.k') IS NOT NULL
    ),
    stats AS (
      SELECT min(fv) AS lov, max(fv) AS hiv,
             min(fk) AS lok, max(fk) AS hik
      FROM src
    ),
    binned AS (
      SELECT event_id,
             CAST(floor((fk - lok) * {_HBOS_BINS}
                        / (hik - lok + 1)) AS INT) AS bin_chan,
             CAST(floor((fv - lov) * {_HBOS_BINS}
                        / (hiv - lov + 1)) AS INT) AS bin_cents
      FROM src, stats
    ),
    hv AS (SELECT bin_cents, CAST(count(*) AS BIGINT) AS cv
           FROM binned GROUP BY bin_cents),
    hk AS (SELECT bin_chan, CAST(count(*) AS BIGINT) AS ck
           FROM binned GROUP BY bin_chan),
    mv AS (SELECT max(cv) AS mvv FROM hv),
    mk AS (SELECT max(ck) AS mkk FROM hk)
    SELECT b.event_id, b.bin_chan, b.bin_cents,
           {pin_sql("(ln(CAST(mkk AS DOUBLE) / ck)"
                    " + ln(CAST(mvv AS DOUBLE) / cv))")}
             AS hbos
    FROM binned b
    JOIN hv USING (bin_cents) JOIN hk USING (bin_chan), mv, mk
    """


@query("q338_hbos_scores", oracle=_HBOS_ORACLE)
def q338_hbos_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HBOS anomaly score for every event over the (value-cents,
    props.k) feature pair, 10 equal-width bins each — the stateless
    fleetwide triage detector beside the per-series ones; every
    (event, bin, bin, hbos) row hash-checked over exact integer bins
    and counts."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & F.get_json_object("props", "$.k").isNotNull())
    return hbos_scores(
        ev, "event_id",
        {"cents": cents("value"),
         "chan": F.get_json_object("props", "$.k").cast("long")})


# ---------------------------------------------------------------------------
# q340 — classical seasonal DECOMPOSITION (the moving-average STL-lite
# every TS textbook opens with): v = trend + seasonal + remainder at
# the declared period m = 8.  q290 (trend/seasonal STRENGTH) reports
# one ratio per series; this emits the decomposition ITSELF — the
# table an analyst plots and the input detrended modeling wants.
#
#   trend_t    = 2x8 centered MA: (v_{t-4} + 2 Σ_{j=-3..3} v_{t+j}
#                + v_{t+4}) / 16   (defined on interior rows)
#   seasonal_p = mean of detrended over phase p, CENTERED so the 8
#                phase effects sum ~0
#   remainder  = v - trend - seasonal (from the PINNED components —
#                the documented readout contract)
#
# Exactness discipline: the MA numerator T2 and the detrended value
# 16 v - T2 are exact integers; each phase mean pins to integer
# MICRO-units via floor(x*1e6 + 0.5) BEFORE the centering sum, so the
# center is a sum of 8 exact integers (float summation ORDER of the
# phase means can never matter — the q295 lesson applied to
# decomposition).  One window pass (±4 lags/leads), one (g, phase)
# aggregate, one per-g centering aggregate, two joins back.
# ---------------------------------------------------------------------------

_STL_PERIOD = 8


def seasonal_decompose_ma(df: DataFrame, group_col: str, order: str,
                          value: Column,
                          tie_break: str | None = None) -> DataFrame:
    """(group, i, cents, trend, seasonal, remainder): classical
    additive decomposition at period 8 per series.  Edge rows (no
    full ±4 window) report trend/remainder NULL; a phase with no
    interior rows reports seasonal/remainder NULL for its rows."""
    m = _STL_PERIOD
    src, w = ordered_series(df, group_col, order, value, tie_break)
    lagged = src.select(
        "__g", F.col("__v").alias("cents"),
        F.row_number().over(w).alias("i"),
        *[F.lag("__v", j).over(w).alias(f"__m{j}") for j in (4, 3, 2, 1)],
        *[F.lead("__v", j).over(w).alias(f"__p{j}")
          for j in (1, 2, 3, 4)])
    t2 = (F.col("__m4") + F.col("__p4")
          + 2 * (F.col("__m3") + F.col("__m2") + F.col("__m1")
                 + F.col("cents")
                 + F.col("__p1") + F.col("__p2") + F.col("__p3")))
    interior = F.col("__m4").isNotNull() & F.col("__p4").isNotNull()
    base = lagged.select(
        "__g", "i", "cents",
        ((F.col("i") - 1) % m).cast("int").alias("__ph"),
        F.when(interior, t2).alias("__t2"))
    d16 = F.lit(16) * F.col("cents") - F.col("__t2")
    ph = base.groupBy("__g", "__ph").agg(
        F.floor(F.sum(d16).cast("double") / F.count(d16)
                / F.lit(16.0) * F.lit(1e6) + F.lit(0.5))
        .alias("__pm"))
    ctr = ph.groupBy("__g").agg(
        F.floor(F.sum("__pm").cast("double") / F.lit(float(m))
                + F.lit(0.5)).alias("__ctr"))
    trend = pin(F.col("__t2").cast("double") / F.lit(16.0))
    seasonal = (F.col("__pm") - F.col("__ctr")) / F.lit(1e6)
    return (base.join(ph, ["__g", "__ph"])
            .join(ctr, "__g")
            .select(F.col("__g").alias(group_col), "i", "cents",
                    trend.alias("trend"),
                    seasonal.alias("seasonal"),
                    pin(F.col("cents") - trend - seasonal)
                    .alias("remainder")))


_STL_ORACLE = f"""
    WITH {EVENT_CENTS_SRC_SQL},
    lagged AS (
      SELECT g, v AS cents,
             row_number() OVER w AS i,
             lag(v, 4) OVER w AS m4, lag(v, 3) OVER w AS m3,
             lag(v, 2) OVER w AS m2, lag(v, 1) OVER w AS m1,
             lead(v, 1) OVER w AS p1, lead(v, 2) OVER w AS p2,
             lead(v, 3) OVER w AS p3, lead(v, 4) OVER w AS p4
      FROM src
      WINDOW w AS (PARTITION BY g ORDER BY ts, event_id)
    ),
    base AS (
      SELECT g, i, cents, CAST((i - 1) % {_STL_PERIOD} AS INT) AS ph,
             CASE WHEN m4 IS NOT NULL AND p4 IS NOT NULL THEN
               m4 + p4 + 2 * (m3 + m2 + m1 + cents + p1 + p2 + p3)
             END AS t2
      FROM lagged
    ),
    phm AS (
      SELECT g, ph,
             floor(CAST(sum(16 * cents - t2) AS DOUBLE)
                   / count(16 * cents - t2) / 16.0 * 1e6 + 0.5) AS pm
      FROM base GROUP BY g, ph
    ),
    ctr AS (
      SELECT g, floor(CAST(sum(pm) AS DOUBLE) / {_STL_PERIOD}.0 + 0.5)
               AS c
      FROM phm GROUP BY g
    )
    SELECT b.g AS user_id, b.i, b.cents,
           {pin_sql("CAST(b.t2 AS DOUBLE) / 16.0")}
             AS trend,
           (p.pm - k.c) / 1e6 AS seasonal,
           {pin_sql(f"b.cents - {pin_sql('CAST(b.t2 AS DOUBLE) / 16.0')}"
                    " - (p.pm - k.c) / 1e6")}
             AS remainder
    FROM base b JOIN phm p ON b.g = p.g AND b.ph = p.ph
                JOIN ctr k ON b.g = k.g
    """


@query("q340_seasonal_decompose", oracle=_STL_ORACLE)
def q340_seasonal_decompose(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Classical additive decomposition of every user's value series
    at period 8 (2x8 centered-MA trend, centered phase means,
    remainder) — the table behind q290's strength ratio and q328's
    seasonal forecast; every (user, i, cents, trend, seasonal,
    remainder) row hash-checked."""
    return event_cents_query(spark, sf_dir, seasonal_decompose_ma)


# ---------------------------------------------------------------------------
# q344 — COLLECTIVE anomaly windows over the q340 residuals: the
# "detect the failing engine" read the reference demos
# (/root/reference/README.md:40-47) that the point-outlier tier (HBOS
# q338, MAD q184, Grubbs q304) cannot express — a degrading sensor
# shows a RUN of moderately-large residuals, not one extreme value.
#
# Definition: decompose each series at period 8 (q340's pinned
# trend/seasonal/remainder), take the interior rows' remainders in
# exact micro-units, and flag every width-W window whose |remainder|
# sum exceeds k× the series' own mean — the strict integer
# cross-multiply  S_w * n  >  k * W * T  (S_w = window abs-sum,
# n/T = series row count / abs-sum), so the decision needs no
# division and no epsilon.  Exactness: remainder is q340's pinned
# 1e-6 readout, so floor(remainder*1e6 + 0.5) recovers the exact
# micro-unit integer both engines agree on; sums/products run in
# decimal(38,0) (Spark) / HUGEINT (DuckDB).  Scale shape: the q340
# passes + ONE more ordered window per series (rowsBetween W-1
# preceding) + one slim per-series total joined back — series-keyed
# shuffles only, no global sort, no UDF.
# ---------------------------------------------------------------------------

_RAW_WIDTH = 8        # window width = one season: a full period of
#                       elevated residuals is the collective shape
_RAW_K = 2            # flag when window mean |r| > 2x series mean |r|
#                       (k=3 flags nothing on the fixture — the
#                       noise-window ratio tops out at ~2.6 — while
#                       k=2 keeps the flag rate at 36/15k windows at
#                       sf0.01: selective but witnessable)


def residual_anomaly_windows(df: DataFrame, group_col: str, order: str,
                             value: Column, width: int = _RAW_WIDTH,
                             k: int = _RAW_K,
                             tie_break: str | None = None) -> DataFrame:
    """(group, i_end, win_abs_micro, series_abs_micro, n_interior):
    every width-row residual window (full windows over the interior
    rows, ordered by the q340 index i) whose |remainder| sum S
    satisfies S * n > k * width * T.  A series whose remainder is
    identically zero flags nothing; series with fewer than `width`
    interior rows emit nothing."""
    decomp = seasonal_decompose_ma(df, group_col, order, value,
                                   tie_break=tie_break)
    rem = (decomp.filter(F.col("remainder").isNotNull())
           .select(F.col(group_col).alias("__g"), "i",
                   F.abs(F.floor(F.col("remainder") * 1e6 + F.lit(0.5))
                         .cast("long")).alias("__ra")))
    # series totals as UNBOUNDED-window aggregates over the SAME
    # g-partitioning the rolling sum needs — one scan, one shuffle.
    # The first cut used groupBy(g)+join for (n, T) and Spark
    # recomputed the whole decomposition lineage THREE times (window
    # side, totals side, join probe), each with its own g-shuffle;
    # the fused plan's audit shows ONE Exchange feeding all three
    # window specs.
    w = Window.partitionBy("__g").orderBy(F.asc("i"))
    ws = w.rowsBetween(-(width - 1), 0)
    wall = Window.partitionBy("__g")
    ord_ = rem.select(
        "__g", "i", "__ra",
        F.row_number().over(w).alias("__j"),
        F.sum("__ra").over(ws).alias("__s"),
        F.count(F.lit(1)).over(wall).cast("long").alias("n_interior"),
        F.sum("__ra").over(wall).alias("__t"))
    return (ord_
            .filter((F.col("__j") >= width)
                    & (dec(F.col("__s")) * F.col("n_interior")
                       > F.lit(k * width) * dec(F.col("__t"))))
            .select(F.col("__g").alias(group_col),
                    F.col("i").alias("i_end"),
                    F.col("__s").alias("win_abs_micro"),
                    F.col("__t").alias("series_abs_micro"),
                    "n_interior"))


def _residual_anomaly_oracle(width: int = _RAW_WIDTH,
                             k: int = _RAW_K) -> str:
    return f"""
    WITH rem AS (
      SELECT user_id AS g, i,
             CAST(abs(CAST(floor(remainder * 1e6 + 0.5) AS BIGINT))
               AS BIGINT) AS ra
      FROM ({_STL_ORACLE})
      WHERE remainder IS NOT NULL
    ),
    ord_ AS (
      SELECT g, i, ra,
             row_number() OVER (PARTITION BY g ORDER BY i) AS j,
             sum(ra) OVER (PARTITION BY g ORDER BY i
                           ROWS BETWEEN {width - 1} PRECEDING
                           AND CURRENT ROW) AS s
      FROM rem
    ),
    tot AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n_interior,
             sum(ra) AS t
      FROM rem GROUP BY g
    )
    SELECT o.g AS user_id, o.i AS i_end,
           CAST(o.s AS BIGINT) AS win_abs_micro,
           CAST(t.t AS BIGINT) AS series_abs_micro,
           t.n_interior
    FROM ord_ o JOIN tot t ON o.g = t.g
    WHERE o.j >= {width} AND o.s * t.n_interior > {k * width} * t.t
    """


@query("q344_residual_anomaly_windows", oracle=_residual_anomaly_oracle())
def q344_residual_anomaly_windows(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Collective-anomaly windows per user: q340's seasonal
    decomposition feeding the width-8 residual-run detector — the
    fleet-triage read that flags a DEGRADING series (a sustained
    residual run) rather than a point outlier; every (user, i_end,
    win_abs_micro, series_abs_micro, n_interior) row hash-checked."""
    return event_cents_query(spark, sf_dir, residual_anomaly_windows)


# ---------------------------------------------------------------------------
# q345 — matrix-profile-lite DISCORD per series: the other half of the
# collective-anomaly story (q344 flags residual RUNS against the
# series' own mean; the matrix profile flags the window UNLIKE EVERY
# OTHER window — the classic discord definition, Yeh et al. 2016,
# computed exactly here on raw integer windows rather than z-normed
# floats so both engines agree bit-for-bit).
#
#   mp(j)   = min over |i-j| >= W of  dist²(w_j, w_i)
#   discord = argmax_j mp(j)          (ties to the smallest j)
#
# where w_j is the W-row window ENDING at j and the |i-j| >= W
# exclusion zone removes trivial self-matches.  Exactness: windows
# are W lagged cents values; dist² is a sum of W squared integer
# diffs (≤ 8·(2e6)² ≈ 3e13 « 2^63) — min and argmax over exact
# integers.  Scale shape: ONE window pass builds the lag vectors,
# then a per-series self-join (g-keyed shuffle).  The pair work is
# quadratic IN THE SERIES LENGTH and linear in #series — the 100 TB
# axis is series count (fleet size), not series length (bounded by
# the sensor's retention window), which is what a triage pass wants.
# A longer-retention deployment would band the join by value-range
# the way the near-dup tier bands Hamming space.
# ---------------------------------------------------------------------------

_MP_W = 8


def matrix_profile_discord(df: DataFrame, group_col: str, order: str,
                           value: Column, width: int = _MP_W,
                           tie_break: str | None = None) -> DataFrame:
    """(group, discord_i, mp_dist2, n_windows): per series, the window
    (ending at row index discord_i, 1-based over non-null rows) whose
    nearest non-overlapping neighbor is FARTHEST — the exact
    non-normalized matrix-profile discord.  Series too short for any
    admissible pair emit nothing: the first admissible pair is the
    windows ending at rows width and 2*width (exactly width apart), so
    that means n < 2*width rows."""
    src, w = ordered_series(df, group_col, order, value, tie_break)
    win = (src.select(
        "__g", F.row_number().over(w).alias("__i"),
        F.col("__v").alias("__l0"),
        *[F.lag("__v", j).over(w).alias(f"__l{j}")
          for j in range(1, width)])
        .filter(F.col(f"__l{width - 1}").isNotNull()))
    a = win.select(F.col("__g"),
                   F.col("__i").alias("__ia"),
                   *[F.col(f"__l{j}").alias(f"__a{j}")
                     for j in range(width)])
    b = win.select(F.col("__g"),
                   F.col("__i").alias("__ib"),
                   *[F.col(f"__l{j}").alias(f"__b{j}")
                     for j in range(width)])
    dist2 = None
    for j in range(width):
        d = F.col(f"__a{j}") - F.col(f"__b{j}")
        dist2 = d * d if dist2 is None else dist2 + d * d
    mp = (a.join(b, "__g")
          .filter(F.abs(F.col("__ia") - F.col("__ib")) >= width)
          .groupBy("__g", "__ia")
          .agg(F.min(dist2).alias("mp_dist2")))
    # n_windows as an unbounded window count over the SAME g-keyed mp
    # frame the rank needs — a groupBy(g)+join here made Spark
    # recompute the whole pair join a second time for the count side
    rk = Window.partitionBy("__g").orderBy(F.desc("mp_dist2"),
                                           F.asc("__ia"))
    return (mp.select(
                "__g", "__ia", "mp_dist2",
                F.count(F.lit(1)).over(Window.partitionBy("__g"))
                .cast("long").alias("n_windows"),
                F.row_number().over(rk).alias("__r"))
            .filter(F.col("__r") == 1)
            .select(F.col("__g").alias(group_col),
                    F.col("__ia").alias("discord_i"),
                    "mp_dist2", "n_windows"))


def _matrix_profile_oracle(width: int = _MP_W) -> str:
    lags = ", ".join(
        f"lag(v, {j}) OVER (PARTITION BY g ORDER BY ts, event_id)"
        f" AS l{j}" for j in range(1, width))
    dist2 = " + ".join(
        f"(a.l{j} - b.l{j}) * (a.l{j} - b.l{j})" for j in range(width))
    return f"""
    WITH {EVENT_CENTS_SRC_SQL},
    win AS (
      SELECT * FROM (
        SELECT g,
               row_number() OVER (PARTITION BY g ORDER BY ts, event_id)
                 AS i,
               v AS l0, {lags}
        FROM src
      ) WHERE l{width - 1} IS NOT NULL
    ),
    mp AS (
      SELECT a.g, a.i AS ia, min({dist2}) AS mp_dist2
      FROM win a JOIN win b
        ON a.g = b.g AND abs(a.i - b.i) >= {width}
      GROUP BY a.g, a.i
    ),
    nw AS (SELECT g, CAST(count(*) AS BIGINT) AS n_windows
           FROM mp GROUP BY g)
    SELECT m.g AS user_id, m.ia AS discord_i,
           CAST(m.mp_dist2 AS BIGINT) AS mp_dist2, n.n_windows
    FROM (SELECT *, row_number() OVER (PARTITION BY g
            ORDER BY mp_dist2 DESC, ia ASC) AS r FROM mp) m
    JOIN nw n ON m.g = n.g
    WHERE m.r = 1
    """


@query("q345_matrix_profile_discord", oracle=_matrix_profile_oracle())
def q345_matrix_profile_discord(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Exact matrix-profile discord per user series at width 8: the
    window farthest from its nearest non-overlapping neighbor — the
    subsequence-anomaly read q344's residual-run detector cannot
    express (a discord can be REGULAR in level but unlike every other
    window in shape); every (user, discord_i, mp_dist2, n_windows)
    row hash-checked against the brute-force SQL."""
    return event_cents_query(spark, sf_dir, matrix_profile_discord)


# ---------------------------------------------------------------------------
# q346 — FLEET TRIAGE: the three anomaly reads joined into the one
# table the reference's monitoring story actually needs
# (/root/reference/README.md:40-47 — "which engine is failing?"):
# per series, the POINT evidence (q184 MAD outlier count), the
# COLLECTIVE evidence (q344 flagged residual windows), and the SHAPE
# evidence (q345 discord distance), ranked lexicographically
# (collective first — a sustained run beats isolated spikes — then
# point count, then discord, id ascending for determinism).
#
# Scale shape: three series-keyed aggregates (each operator's own
# documented plan) LEFT-joined onto the distinct-series frame — one
# row per series, so the joins and the final rank operate on fleet
# cardinality, not event cardinality.  The rank is a single ordered
# window over that per-series frame; a fleet too large for one
# partition would swap it for the q128 two-pass range-partitioned
# prefix rank — the evidence columns are unchanged.
# ---------------------------------------------------------------------------


def fleet_evidence(df: DataFrame, group_col: str, order: str,
                   id_col: str, value_col: str,
                   value: Column,
                   tie_break: str | None = None) -> DataFrame:
    """(group, n_collective, n_point, discord_dist2): one row per
    series carrying all three anomaly reads, UNRANKED — the per-series
    state the streaming triage loop (q350) maintains incrementally;
    ``fleet_triage`` applies the rank for the batch read. Series
    lacking an evidence row report 0 (counts) / NULL (discord)."""
    from auto_ml_platform_with_timeseries_data_spark.operators.sessionize \
        import mad_outliers

    base = df.select(F.col(group_col).alias("__g")).distinct()
    coll = (residual_anomaly_windows(df, group_col, order, value,
                                     tie_break=tie_break)
            .groupBy(F.col(group_col).alias("__g"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_collective")))
    pt = (mad_outliers(df, group_col, id_col, value_col)
          .groupBy(F.col(group_col).alias("__g"))
          .agg(F.count(F.lit(1)).cast("long").alias("n_point")))
    disc = (matrix_profile_discord(df, group_col, order, value,
                                   tie_break=tie_break)
            .select(F.col(group_col).alias("__g"),
                    F.col("mp_dist2").alias("discord_dist2")))
    return (base.join(coll, "__g", "left")
            .join(pt, "__g", "left")
            .join(disc, "__g", "left")
            .select(F.col("__g").alias(group_col),
                    F.coalesce("n_collective", F.lit(0)).cast("long")
                    .alias("n_collective"),
                    F.coalesce("n_point", F.lit(0)).cast("long")
                    .alias("n_point"),
                    "discord_dist2"))


def triage_rank(evidence: DataFrame, group_col: str) -> DataFrame:
    """Rank a fleet-evidence frame lexicographically (collective runs
    first, then point count, then discord distance, id ascending for
    determinism) — one ordered window over fleet cardinality."""
    rk = Window.orderBy(F.desc("n_collective"), F.desc("n_point"),
                        F.desc(F.coalesce("discord_dist2", F.lit(-1))),
                        F.asc(group_col))
    return evidence.select(
        F.row_number().over(rk).cast("long").alias("triage_rank"),
        group_col, "n_collective", "n_point", "discord_dist2")


def fleet_triage(df: DataFrame, group_col: str, order: str,
                 id_col: str, value_col: str,
                 value: Column,
                 tie_break: str | None = None) -> DataFrame:
    """(triage_rank, group, n_collective, n_point, discord_dist2):
    one row per series carrying all three anomaly reads; series
    lacking an evidence row report 0 (counts) / NULL (discord)."""
    return triage_rank(
        fleet_evidence(df, group_col, order, id_col, value_col, value,
                       tie_break=tie_break), group_col)


def _fleet_triage_oracle() -> str:
    from auto_ml_platform_with_timeseries_data_spark.operators.sessionize \
        import _MAD_ORACLE

    return f"""
    WITH coll AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_collective
      FROM ({_residual_anomaly_oracle()}) GROUP BY user_id
    ),
    pt AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_point
      FROM ({_MAD_ORACLE}) GROUP BY user_id
    ),
    disc AS (
      SELECT user_id, mp_dist2 AS discord_dist2
      FROM ({_matrix_profile_oracle()})
    ),
    base AS (SELECT DISTINCT user_id FROM events
             WHERE value IS NOT NULL)
    SELECT CAST(row_number() OVER (
             ORDER BY coalesce(c.n_collective, 0) DESC,
                      coalesce(p.n_point, 0) DESC,
                      coalesce(d.discord_dist2, -1) DESC,
                      b.user_id ASC) AS BIGINT) AS triage_rank,
           b.user_id,
           CAST(coalesce(c.n_collective, 0) AS BIGINT) AS n_collective,
           CAST(coalesce(p.n_point, 0) AS BIGINT) AS n_point,
           d.discord_dist2
    FROM base b
    LEFT JOIN coll c ON b.user_id = c.user_id
    LEFT JOIN pt p ON b.user_id = p.user_id
    LEFT JOIN disc d ON b.user_id = d.user_id
    """


@query("q346_fleet_triage", oracle=_fleet_triage_oracle())
def q346_fleet_triage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fleet-triage table: every user series ranked by (collective
    residual windows, MAD point outliers, matrix-profile discord) —
    the composed 'which engine is failing' read over q344/q184/q345;
    every (triage_rank, user, n_collective, n_point, discord_dist2)
    row hash-checked against the composed oracle."""
    # The four evidence subtrees (distinct-series base, residual
    # windows, MAD, matrix profile) each re-scan events; all of them
    # consume only these four columns, so persist the narrow filtered
    # projection and scan the source once (guide §5: cache only what
    # is reused, slim). SIZE-GATED (keep(source=...)): at sf0.1
    # the 3 saved re-scans of a ~3 MB source are cheaper than the
    # cache barrier (paired A/B 1.95 vs 2.36 s); at production sizes
    # they are not. The streaming epoch loop (q350) passes its own
    # per-epoch delta frames to fleet_evidence directly.
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull())
          .select("user_id", "ts", "event_id", "value"))
    ev = keep(ev, source=ev)
    return fleet_triage(
        ev, "user_id", "ts", "event_id", "value",
        cents("value"),
        tie_break="event_id")
