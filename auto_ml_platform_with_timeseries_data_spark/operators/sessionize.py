"""Event-time windowing & sessionization on the `events` table
(SURVEY.md §2.10 / §7 — the batch twins of the streaming operators in
streaming/; identical window semantics, oracle-checkable in SQL).

Scale notes: tumbling-window agg is a plain groupBy on a derived bucket
column — map-side combine, one shuffle of (buckets × types) rows.
Sessionization is the classic lag-gap + running-sum pattern: ONE window
pass per user partition, no self-join, no driver loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from auto_ml_platform_with_timeseries_data_spark.operators.timeseries import (
    pin,
    pin_sql,
)
from auto_ml_platform_with_timeseries_data_spark.registry import query
from auto_ml_platform_with_timeseries_data_spark.tables import load_table

_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


def tumbling_window_agg(df: DataFrame, ts: str, width: str,
                        group_cols: list[str]) -> DataFrame:
    """count/sum/avg per (tumbling event-time window × groups).

    The 2-dp `value` doubles sum through DECIMAL so the aggregate is
    exact regardless of accumulation order (float sums diverge from the
    oracle in the 6th decimal once partitions grow — observed at sf0.1);
    the avg is then a bit-identical double quotient on both engines, and
    floor(x·1e6 + 0.5) pins away the round()-at-ulp-boundary divergence
    (Spark rounds the shortest decimal repr, DuckDB the binary value)."""
    sum_dec = F.sum(F.col("value").cast("decimal(18,4)"))
    n = F.count(F.lit(1))
    avg6 = pin(sum_dec.cast("double") / n)
    return (
        df.groupBy(F.window(ts, width).alias("w"), *group_cols)
        .agg(
            n.alias("n"),
            F.round(sum_dec, 4).cast("double").alias("sum_value"),
            avg6.alias("avg_value"),
        )
        .select(
            F.date_format("w.start", _TS_FMT_SPARK).alias("window_start"),
            *group_cols, "n", "sum_value", "avg_value",
        )
    )


def sessionize(df: DataFrame, key: str, ts: str, gap_minutes: int,
               tie_break: str | None = None) -> DataFrame:
    """Assign session ids: a new session starts when the gap from the
    previous event of the same key exceeds `gap_minutes`. Adds
    `session_id` (1-based per key)."""
    order_cols = [ts] + ([tie_break] if tie_break else [])
    w = Window.partitionBy(key).orderBy(*order_cols)
    gap_s = gap_minutes * 60
    prev = F.lag(ts).over(w)
    # epoch seconds WITH fractional part (cast ts→double), matching
    # DuckDB's epoch(); unix_timestamp() would truncate to seconds.
    new_sess = F.when(
        prev.isNull()
        | ((F.col(ts).cast("double") - prev.cast("double")) > gap_s),
        1,
    ).otherwise(0)
    running = Window.partitionBy(key).orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return df.withColumn("__new", new_sess).withColumn(
        "session_id", F.sum("__new").over(running)
    ).drop("__new")


@query(
    "q24_window_agg",
    oracle=f"""
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '{_TS_FMT_DUCK}') AS window_start,
           event_type,
           count(*) AS n,
           CAST(ROUND(sum(CAST(value AS DECIMAL(18,4))), 4) AS DOUBLE) AS sum_value,
           {pin_sql("CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)"
                    " / count(*)")} AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q24_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return tumbling_window_agg(ev, "ts", "1 hour", ["event_type"])


@query(
    "q25_sessionize",
    oracle=f"""
    WITH g AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                  THEN 1 ELSE 0 END AS new_sess
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, event_id,
             CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id,
             ts
      FROM g
    )
    SELECT user_id, session_id,
           count(*) AS n_events,
           strftime(min(ts), '{_TS_FMT_DUCK}') AS session_start,
           strftime(max(ts), '{_TS_FMT_DUCK}') AS session_end
    FROM s GROUP BY user_id, session_id
    """,
)
def q25_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sess = sessionize(ev, "user_id", "ts", 30, tie_break="event_id")
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.min("ts"), _TS_FMT_SPARK).alias("session_start"),
        F.date_format(F.max("ts"), _TS_FMT_SPARK).alias("session_end"),
    )


@query(
    "q45_rolling_stats",
    oracle=f"""
    SELECT user_id, event_id,
           ROUND(avg(value) OVER w, 6) AS rolling_avg,
           ROUND(sum(value) OVER w, 4) AS rolling_sum,
           CAST(count(*) OVER w AS BIGINT) AS n_in_window
    FROM events
    WHERE user_id <= 50
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    """,
)
def q45_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key rolling statistics (10-row trailing window) — ONE window
    pass computes all three aggregates; the shuffle is keyed by user and
    AQE handles key skew. The user_id filter is pushed to the scan."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") <= 50)
    w = (
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(-9, 0)
    )
    return ev.select(
        "user_id", "event_id",
        F.round(F.avg("value").over(w), 6).alias("rolling_avg"),
        F.round(F.sum("value").over(w), 4).alias("rolling_sum"),
        F.count(F.lit(1)).over(w).alias("n_in_window"),
    )


def resample_ffill(df: DataFrame, group_col: str, ts_col: str,
                   value_col: str, interval_seconds: int = 3600) -> DataFrame:
    """Regularize an irregular series onto a fixed grid with forward
    fill — the canonical prep step for the reference's time-series
    branch (lag features and LSTM windows assume evenly spaced rows).

    Per group: bucket → agg, dense grid via sequence(min, max, step),
    left join observed buckets, then ONE ordered window pass carries the
    last observed value forward (F.last ignorenulls). Grid explosion is
    a narrow generate per group; the only shuffles are the bucket agg
    and the per-group window."""
    step = F.expr(f"INTERVAL {interval_seconds} SECONDS")
    bucket = F.timestamp_seconds(
        (F.unix_timestamp(F.col(ts_col)) / interval_seconds).cast("bigint")
        * interval_seconds
    )
    observed = (
        df.select(F.col(group_col).alias("g"), bucket.alias("bucket"),
                  F.col(value_col).alias("v"))
        .groupBy("g", "bucket")
        .agg(F.round(F.avg("v"), 6).alias("v"), F.count(F.lit(1)).alias("n"))
    )
    grid = (
        observed.groupBy("g")
        .agg(F.min("bucket").alias("__mn"), F.max("bucket").alias("__mx"))
        .select("g", F.explode_outer(
            F.sequence(F.col("__mn"), F.col("__mx"), step)).alias("bucket"))
    )
    w = (
        Window.partitionBy("g").orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(observed, ["g", "bucket"], "left")
        .select(
            F.col("g").alias(group_col),
            F.date_format("bucket", _TS_FMT_SPARK).alias("bucket"),
            F.coalesce("n", F.lit(0)).alias("n_obs"),
            F.last("v", ignorenulls=True).over(w).alias("value_ffill"),
        )
    )


@query(
    "q59_resample_ffill",
    oracle=f"""
    WITH b AS (
      SELECT user_id AS g, time_bucket(INTERVAL '1 hour', ts) AS bucket,
             ROUND(avg(value), 6) AS v, count(*) AS n
      FROM events WHERE user_id <= 20 GROUP BY 1, 2
    ),
    grid AS (
      SELECT g, unnest(generate_series(min(bucket), max(bucket),
                                       INTERVAL '1 hour')) AS bucket
      FROM b GROUP BY g
    )
    SELECT grid.g AS user_id,
           strftime(grid.bucket, '{_TS_FMT_DUCK}') AS bucket,
           COALESCE(b.n, 0) AS n_obs,
           last_value(b.v IGNORE NULLS) OVER (
             PARTITION BY grid.g ORDER BY grid.bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill
    FROM grid LEFT JOIN b ON grid.g = b.g AND grid.bucket = b.bucket
    """,
)
def q59_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") <= 20)
    return resample_ffill(ev, "user_id", "ts", "value", 3600)


def zscore_outliers(df: DataFrame, group_col: str, ts_col: str,
                    order_tiebreak: str, value_col: str,
                    window_rows: int = 20, z_threshold: float = 2.5
                    ) -> DataFrame:
    """Trailing-window anomaly detection: flag points whose value is
    > z_threshold sample-stddevs from the trailing window mean (window
    EXCLUDES the current row, so the point under test doesn't dilute
    its own baseline — the standard online-monitoring convention).
    One window pass per group; sensors (C-MAPSS), metrics, and data
    quality monitors all reduce to this shape."""
    w = (
        Window.partitionBy(group_col).orderBy(ts_col, order_tiebreak)
        .rowsBetween(-window_rows, -1)
    )
    mean = F.avg(value_col).over(w)
    sd = F.stddev_samp(value_col).over(w)
    # a constant trailing window has sd 0: no baseline spread means no
    # outlier verdict (NULL z, filtered out) — and no ANSI divide error
    z = F.when(sd > 0, (F.col(value_col) - mean) / sd)
    return (
        df.select(
            F.col(group_col), F.col(order_tiebreak), F.col(value_col),
            F.round(mean, 6).alias("trailing_mean"),
            F.round(z, 6).alias("zscore"),
        )
        .filter(F.abs(F.col("zscore")) > z_threshold)
    )


@query(
    "q60_zscore_outliers",
    oracle="""
    SELECT user_id, event_id, value, trailing_mean, zscore FROM (
      SELECT user_id, event_id, value,
             ROUND(avg(value) OVER w, 6) AS trailing_mean,
             ROUND(CASE WHEN stddev_samp(value) OVER w > 0 THEN
               (value - avg(value) OVER w) / stddev_samp(value) OVER w
             END, 6) AS zscore
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    ) WHERE abs(zscore) > 2.5
    """,
)
def q60_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return zscore_outliers(ev, "user_id", "ts", "event_id", "value",
                           window_rows=20, z_threshold=2.5)


@query(
    "q120_sliding_window",
    oracle=f"""
    WITH w AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts)
               - k.k * INTERVAL '30 minutes' AS window_start,
             event_type, value
      FROM events, (SELECT unnest(range(2)) AS k) k
    )
    SELECT strftime(window_start, '{_TS_FMT_DUCK}') AS window_start,
           event_type, count(*) AS n,
           CAST(ROUND(sum(CAST(value AS DECIMAL(18,4))), 4) AS DOUBLE)
             AS sum_value
    FROM w GROUP BY 1, 2
    """,
)
def q120_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (overlapping) event-time windows — width 1 h, slide
    30 min, so every event lands in exactly width/slide = 2 windows.
    Spark's F.window generates the window set per row (a narrow
    generator, no self-join); the oracle enumerates the same 2 window
    starts per event arithmetically. The decimal sum keeps the
    aggregate independent of accumulation order (see
    tumbling_window_agg)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"),
                   "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 4)
            .cast("double").alias("sum_value"),
        )
        .select(
            F.date_format("w.start", _TS_FMT_SPARK).alias("window_start"),
            "event_type", "n", "sum_value",
        )
    )


@query(
    "q122_window_heavy_hitters",
    oracle=f"""
    WITH c AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS w, event_type,
             count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT strftime(w, '{_TS_FMT_DUCK}') AS window_start, event_type, n,
           CAST(rank AS INT) AS rank
    FROM (
      SELECT w, event_type, n,
             row_number() OVER (PARTITION BY w ORDER BY n DESC, event_type)
               AS rank
      FROM c
    ) WHERE rank <= 3
    """,
)
def q122_window_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 event types per hourly window — the windowed heavy-hitters
    shape every metrics/abuse pipeline needs. Count agg partial-combines
    map-side; the rank is a window over the (windows × types) aggregate,
    which is orders of magnitude smaller than the input, so the second
    shuffle is negligible at any scale (at extreme cardinality swap in
    approx counting per window — q81's sketch twin)."""
    ev = load_table(spark, sf_dir, "events")
    counts = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rank = F.row_number().over(
        Window.partitionBy("w").orderBy(F.desc("n"), F.asc("event_type"))
    )
    return (
        counts.withColumn("rank", rank)
        .filter(F.col("rank") <= 3)
        .select(
            F.date_format("w.start", _TS_FMT_SPARK).alias("window_start"),
            "event_type", "n", "rank",
        )
    )


@query(
    "q127_event_transitions",
    oracle=f"""
    WITH t AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    c AS (
      SELECT prev_type, event_type AS next_type, count(*) AS n
      FROM t WHERE prev_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT prev_type, next_type, n,
           {pin_sql("(CAST(n AS DOUBLE)"
                    " / sum(n) OVER (PARTITION BY prev_type))")}
             AS p
    FROM c
    """,
)
def q127_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types per user
    stream: one lag window pass for (prev, next) pairs, one count
    aggregate, then the row-normalized probability from a window over
    the tiny (types × types) count table. The probability quotient is
    exact-integer-derived, floor-rounded (ulp-boundary rationale in
    lag_features)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = ev.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).filter(F.col("prev_type").isNotNull())
    c = t.groupBy("prev_type", "next_type").agg(F.count(F.lit(1)).alias("n"))
    tot = Window.partitionBy("prev_type")
    p = pin(F.col("n").cast("double") / F.sum("n").over(tot))
    return c.select("prev_type", "next_type", "n", p.alias("p"))


# ---------------------------------------------------------------------------
# q184 — MAD (median absolute deviation) robust outliers: the
# heavy-tail-safe complement to q60's trailing z-score
# ---------------------------------------------------------------------------


def mad_outliers(df: DataFrame, group_col: str, id_col: str,
                 value_col: str, z_threshold: float = 3.5) -> DataFrame:
    """Per-group robust outliers by modified z-score (Iglewicz-Hoaglin):
    0.6745·(x − median) / MAD, flag |z| > threshold. Mean/stddev (q60)
    are themselves dragged by the outliers they hunt — a few extreme
    points inflate σ until nothing is 2.5σ out; median and MAD have
    50% breakdown, the standard robust alternative for heavy-tailed
    telemetry.

    Exactness: both medians are rank-based middle-element (or exact
    middle-two average) selections over the SAME parquet doubles on
    both engines — no accumulation, nothing order-dependent (the q123
    contract); the z expression is then one fixed double formula,
    pinned floor(x·1e6+0.5). Groups with MAD = 0 (≥ half the values
    identical) are dropped — robust z is undefined there.

    Scale: two groupBy passes over (group) + one broadcast-size join
    of per-group medians; no window over raw rows, no sort beyond the
    aggregate's internal one."""
    med = df.groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("__med"))
    dev = (df.join(med, group_col)
           .withColumn("__ad", F.abs(F.col(value_col) - F.col("__med"))))
    mad = dev.groupBy(group_col).agg(
        F.expr("percentile(__ad, 0.5)").alias("__mad"))
    z = (F.lit(0.6745) * (F.col(value_col) - F.col("__med"))
         / F.col("__mad"))
    return (
        dev.join(mad, group_col)
        .filter(F.col("__mad") > 0)
        .select(
            F.col(group_col), F.col(id_col), F.col(value_col),
            pin(z).alias("robust_z"),
        )
        .filter(F.abs(F.col("robust_z")) > z_threshold)
    )


# shared with q346's fleet-triage composition (ts_features.py)
_MAD_ORACLE = f"""
    WITH m AS (
      SELECT user_id, median(value) AS med FROM events GROUP BY user_id
    ),
    d AS (
      SELECT e.user_id, e.event_id, e.value, m.med,
             abs(e.value - m.med) AS ad
      FROM events e JOIN m ON e.user_id = m.user_id
    ),
    md AS (
      SELECT user_id, median(ad) AS mad FROM d GROUP BY user_id
    )
    SELECT d.user_id, d.event_id, d.value,
           {pin_sql("0.6745 * (d.value - d.med) / md.mad")}
             AS robust_z
    FROM d JOIN md ON d.user_id = md.user_id
    WHERE md.mad > 0
      AND abs({pin_sql("0.6745 * (d.value - d.med) / md.mad")}) > 3.5
    """


@query("q184_mad_outliers", oracle=_MAD_ORACLE)
def q184_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-user outliers over event values at modified-z 3.5 —
    every flagged row's pinned z value-hash-checked."""
    ev = load_table(spark, sf_dir, "events")
    return mad_outliers(ev, "user_id", "event_id", "value")
