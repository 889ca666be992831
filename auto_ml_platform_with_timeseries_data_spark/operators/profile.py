"""Data-profiling operators (SURVEY.md §2.2, §2.4 — Q1-Q5, Q13, Q14).

Reference semantics reproduced here (citations into /root/reference):

- head/LIMIT preview            data_analysis.py:58 via app.py:54-60
- drop all-NaN columns          data_analysis.py:23-28
- drop named columns            data_analysis.py:30-40
- fixed-width histogram         data_analysis.py:49 (numpy hist)
- Pearson corr vs label         data_analysis.py:125-129 (corrwith)
- distinct group keys           data_analysis.py:57,98
- min/max of a column           data_analysis.py:175
- importance ranking            data_analysis.py:186-187 (sort desc)

Scale notes: every profile query is a single Catalyst plan — one scan,
map-side partial aggregation, no driver-side loops. The per-column
null-count and per-feature correlation are each ONE ``agg`` over the
table (k aggregate expressions), then an ``unpivot`` of the single
result row — at 100 TB this is one pass with partial combine, not k
passes. A histogram takes its column's bounds as arguments: one
``column_stats`` aggregate collects the non-null count of every column
and the min/max of every numeric one (one row of at most 3·k scalars,
never data-sized), so the bucket aggregate is the histogram's only
scan. The catalog Task runs ``column_stats`` once per upload and
serves every later histogram from it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType
from pyspark.sql.window import Window

from auto_ml_platform_with_timeseries_data_spark.operators.timeseries import (
    cents,
    cents_sql,
    dec,
    pin,
    pin_sql,
)
from auto_ml_platform_with_timeseries_data_spark.registry import query
from auto_ml_platform_with_timeseries_data_spark.tables import (
    LINEITEM_FEATURES,
    LINEITEM_LABEL,
    keep,
    load_table,
    release,
)

# ---------------------------------------------------------------------------
# Reusable operators (work on any DataFrame)
# ---------------------------------------------------------------------------


def head(df: DataFrame, n: int = 5, order_by: list[str] | None = None) -> DataFrame:
    """First-n preview (data_analysis.py:58). pandas head() relies on file
    order; distributed semantics require an explicit sort key."""
    if order_by:
        df = df.orderBy(*order_by)
    return df.limit(n)


def null_profile(df: DataFrame) -> DataFrame:
    """Per-column (n_nulls, n_non_null, is_all_null) in ONE aggregation pass.

    Generalizes the reference's dropna(axis=1, how='all') detection
    (data_analysis.py:23-28): a column is all-NaN iff n_non_null == 0.
    """
    total = F.count(F.lit(1))
    agg = df.agg(
        total.alias("__total"),
        *[F.count(F.col(c)).alias(c) for c in df.columns],
    )
    pairs = ", ".join(f"'{c}', `{c}`" for c in df.columns)
    n = len(df.columns)
    return agg.selectExpr("__total", f"stack({n}, {pairs}) as (column_name, n_non_null)").select(
        F.col("column_name"),
        (F.col("__total") - F.col("n_non_null")).alias("n_nulls"),
        F.col("n_non_null"),
        F.when(F.col("n_non_null") == 0, F.lit(1)).otherwise(F.lit(0)).alias("is_all_null"),
    )


def all_nan_columns(df: DataFrame) -> list[str]:
    """Names of all-null columns (the reference's `nan_columns` report)."""
    non_null, _ = column_stats(df)
    return [c for c, n in non_null.items() if n == 0]


def drop_all_nan_columns(df: DataFrame) -> tuple[DataFrame, list[str]]:
    """dropna(axis=1, how='all') → (new df, removed column names)
    (data_analysis.py:23-28). Returns a rebound DataFrame — no mutation."""
    removed = all_nan_columns(df)
    return df.drop(*removed), removed


def remove_features(df: DataFrame, features: list[str]) -> DataFrame:
    """Drop named columns, silently ignoring missing names
    (data_analysis.py:30-40; Spark's drop is already tolerant)."""
    return df.drop(*features)


def column_stats(df: DataFrame, cols: list[str] | None = None
                 ) -> tuple[dict[str, int], dict[str, tuple]]:
    """({column: non-null count}, {numeric column: (min, max)}) of
    ``cols`` (default: every column), from ONE aggregate collected as
    one row. min/max are None for an all-null column."""
    fields = df.select(*(cols or df.columns)).schema.fields
    numeric = [f.name for f in fields if isinstance(f.dataType, NumericType)]
    row = df.agg(*[F.count(F.col(f.name)) for f in fields],
                 *[F.min(F.col(c)) for c in numeric],
                 *[F.max(F.col(c)) for c in numeric]).collect()[0]
    k, m = len(fields), len(numeric)
    non_null = {f.name: row[i] for i, f in enumerate(fields)}
    bounds = {c: (row[k + i], row[k + m + i]) for i, c in enumerate(numeric)}
    return non_null, bounds


def histogram(df: DataFrame, col: str, nbins: int, lo, hi) -> DataFrame:
    """Fixed-width histogram of ``col`` over [lo, hi], its min and max
    (``column_stats``): (bin, bin_lo, bin_hi, cnt).

    The reference uses numpy bins='auto' (data_analysis.py:49); the engine
    standardizes on explicit fixed-width bins (parity on bin *contents*
    given the same edges). The bounds enter the plan as two literals of
    the column's type, so the table is scanned once, map-side combined;
    no collect.
    """
    t = df.select(col).schema.fields[0].dataType
    x, mn, mx = F.col(col), F.lit(lo).cast(t), F.lit(hi).cast(t)
    # constant column: zero span puts everything in bin 0 (numpy's
    # behavior for constant data), instead of an ANSI divide error
    bucket = F.when(
        mx > mn,
        F.least(F.floor((x - mn) * nbins / (mx - mn)).cast("int"),
                F.lit(nbins - 1)),
    ).otherwise(F.lit(0))
    return (
        df.groupBy(bucket.alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "bin",
            F.round(mn + F.col("bin") * (mx - mn) / nbins, 6).alias("bin_lo"),
            F.round(mn + (F.col("bin") + 1) * (mx - mn) / nbins, 6).alias("bin_hi"),
            "cnt",
        )
    )


def histogram_auto(df: DataFrame, col: str) -> DataFrame:
    """numpy bins='auto' parity (SURVEY A3, data_analysis.py:49): bin
    count = max(Sturges, Freedman-Diaconis), derived from ONE stats
    aggregate (n, min, max, IQR) whose single row — nbins, min, max —
    is collected and handed to `histogram`.

    numpy: sturges_bins = ceil(log2(n)) + 1; fd width h = 2·IQR/∛n,
    fd_bins = ceil((max−min)/h); auto = max of the two (FD falls back to
    Sturges when IQR = 0). Output: `histogram`'s columns plus nbins.
    """
    stats = df.agg(
        F.count(col).alias("__n"),
        F.min(col).alias("__mn"),
        F.max(col).alias("__mx"),
        (F.expr(f"percentile({col}, 0.75)")
         - F.expr(f"percentile({col}, 0.25)")).alias("__iqr"),
    )
    n, mn, mx, iqr = (F.col("__n"), F.col("__mn"), F.col("__mx"),
                      F.col("__iqr"))
    sturges = F.ceil(F.log2(n)) + 1
    fd_width = F.lit(2.0) * iqr / F.pow(n, 1.0 / 3.0)
    fd = F.when(iqr > 0, F.ceil((mx - mn) / fd_width)).otherwise(F.lit(0))
    nbins, lo, hi = stats.select(
        F.greatest(sturges, fd).cast("int"), mn, mx).collect()[0]
    return histogram(df, col, nbins, lo, hi).select(
        "bin", F.lit(nbins).alias("nbins"), "bin_lo", "bin_hi", "cnt")


def corr_with_label(df: DataFrame, features: list[str], label: str,
                    round_to: int = 6) -> DataFrame:
    """Pearson r of each feature vs the label — ONE aggregation
    (data_analysis.py:125-129 `corrwith`). Output: (feature, corr).
    A feature (or label) that is constant over the rows where both are
    non-NULL has no correlation: NULL, as pandas' NaN. Spark's corr
    cannot say so — its final division runs before any CASE sees the
    result, so it raises under ANSI on a zero variance and returns
    noise when merging partial aggregates leaves a rounding residue —
    hence r = cov / (sd_x * sd_y) over the same rows, evaluated only
    when min < max on both sides (the exact constancy test)."""
    def paired(a: str, b: str) -> Column:
        return F.when(F.col(b).isNotNull(), F.col(a))

    def corr(c: str) -> Column:
        x, y = paired(c, label), paired(label, c)
        return F.when((F.min(x) < F.max(x)) & (F.min(y) < F.max(y)),
                      F.covar_pop(c, label)
                      / (F.stddev_pop(x) * F.stddev_pop(y)))

    agg = df.agg(*[F.round(corr(c), round_to).alias(c) for c in features])
    pairs = ", ".join(f"'{c}', `{c}`" for c in features)
    return agg.selectExpr(f"stack({len(features)}, {pairs}) as (feature, corr)")


def importance_rank(df: DataFrame, features: list[str], label: str) -> DataFrame:
    """Features ranked by |corr vs label| desc (deterministic stand-in for
    the model-dependent ranking of data_analysis.py:186-187; the ML-based
    ranking lives in ml/automl.py). Output: (rank, feature, abs_corr)."""
    corr = corr_with_label(df, features, label).select(
        "feature", F.round(F.abs(F.col("corr")), 6).alias("abs_corr")
    )
    w = Window.orderBy(F.desc("abs_corr"), F.asc("feature"))
    return corr.select(F.row_number().over(w).alias("rank"), "feature", "abs_corr")


def distinct_groups(df: DataFrame, group_col: str) -> DataFrame:
    """Distinct group keys (data_analysis.py:57) — map-side partial distinct."""
    return df.select(group_col).distinct()


def min_max(df: DataFrame, col: str) -> DataFrame:
    """(min, max) of one column (data_analysis.py:175)."""
    return df.agg(F.min(col).alias("min_value"), F.max(col).alias("max_value"))


# ---------------------------------------------------------------------------
# Registered queries + DuckDB oracles (driver tables, FIXTURES.md §3)
# ---------------------------------------------------------------------------

_LI_COLS = (
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
    "l_shipdate",
)


@query(
    "q01_head",
    oracle="SELECT * FROM lineitem ORDER BY ALL LIMIT 5",
)
def q01_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """head() needs a TOTAL order to be deterministic on a multi-file
    table — (l_orderkey, l_linenumber) is not unique in this synthetic
    lineitem, and Spark vs DuckDB break sort ties by scan order, which
    diverges as soon as the table has >1 file (sf0.1 exposed this;
    sf0.01 is a single file). Ordering by every column in schema order
    matches DuckDB's ORDER BY ALL."""
    li = load_table(spark, sf_dir, "lineitem")
    return head(li, 5, order_by=list(li.columns))


@query(
    "q02_null_profile",
    oracle=" UNION ALL ".join(
        f"SELECT '{c}' AS column_name, count(*) - count({c}) AS n_nulls, "
        f"count({c}) AS n_non_null, "
        f"CASE WHEN count({c}) = 0 THEN 1 ELSE 0 END AS is_all_null FROM lineitem"
        for c in _LI_COLS
    ),
)
def q02_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return null_profile(load_table(spark, sf_dir, "lineitem"))


@query(
    "q03_histogram",
    oracle="""
    WITH s AS (SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx FROM lineitem)
    SELECT CAST(LEAST(CAST(FLOOR((l_extendedprice - mn) * 10 / (mx - mn)) AS INT), 9) AS INT) AS bin,
           ROUND(mn + LEAST(CAST(FLOOR((l_extendedprice - mn) * 10 / (mx - mn)) AS INT), 9) * (mx - mn) / 10, 6) AS bin_lo,
           ROUND(mn + (LEAST(CAST(FLOOR((l_extendedprice - mn) * 10 / (mx - mn)) AS INT), 9) + 1) * (mx - mn) / 10, 6) AS bin_hi,
           count(*) AS cnt
    FROM lineitem, s
    GROUP BY 1, 2, 3
    """,
)
def q03_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    _, bounds = column_stats(li, [LINEITEM_LABEL])
    return histogram(li, LINEITEM_LABEL, 10, *bounds[LINEITEM_LABEL])


@query(
    "q04_corr_with_label",
    oracle=" UNION ALL ".join(
        f"SELECT '{c}' AS feature, ROUND(corr({c}, {LINEITEM_LABEL}), 6) AS corr "
        f"FROM lineitem"
        for c in LINEITEM_FEATURES
    ),
)
def q04_corr_with_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corr_with_label(
        load_table(spark, sf_dir, "lineitem"), list(LINEITEM_FEATURES), LINEITEM_LABEL
    )


@query("q05_groups", oracle="SELECT DISTINCT user_id FROM events")
def q05_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return distinct_groups(load_table(spark, sf_dir, "events"), "user_id")


@query(
    "q13_importance_rank",
    oracle="""
    WITH c AS ({corr_union})
    SELECT CAST(row_number() OVER (ORDER BY abs_corr DESC, feature ASC) AS INT) AS rank,
           feature, abs_corr
    FROM (SELECT feature, ROUND(ABS(corr), 6) AS abs_corr FROM c)
    """.format(
        corr_union=" UNION ALL ".join(
            f"SELECT '{c}' AS feature, ROUND(corr({c}, {LINEITEM_LABEL}), 6) AS corr FROM lineitem"
            for c in LINEITEM_FEATURES
        )
    ),
)
def q13_importance_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return importance_rank(
        load_table(spark, sf_dir, "lineitem"), list(LINEITEM_FEATURES), LINEITEM_LABEL
    )


@query(
    "q14_min_max",
    oracle=f"SELECT min({LINEITEM_LABEL}) AS min_value, max({LINEITEM_LABEL}) AS max_value FROM lineitem",
)
def q14_min_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    return min_max(load_table(spark, sf_dir, "lineitem"), LINEITEM_LABEL)


@query(
    "q48_histogram_auto",
    oracle=f"""
    WITH s AS (
      SELECT count({LINEITEM_LABEL}) AS n,
             min({LINEITEM_LABEL}) AS mn,
             max({LINEITEM_LABEL}) AS mx,
             quantile_cont({LINEITEM_LABEL}, 0.75)
               - quantile_cont({LINEITEM_LABEL}, 0.25) AS iqr
      FROM lineitem
    ),
    p AS (
      SELECT n, mn, mx,
             CAST(GREATEST(
               CEIL(log2(n)) + 1,
               CASE WHEN iqr > 0
                    THEN CEIL((mx - mn) / (2.0 * iqr / pow(n, 1.0/3.0)))
                    ELSE 0 END
             ) AS INT) AS nbins
      FROM s
    )
    SELECT CAST(LEAST(CAST(FLOOR(({LINEITEM_LABEL} - mn) * nbins / (mx - mn)) AS INT), nbins - 1) AS INT) AS bin,
           nbins,
           ROUND(mn + LEAST(CAST(FLOOR(({LINEITEM_LABEL} - mn) * nbins / (mx - mn)) AS INT), nbins - 1) * (mx - mn) / nbins, 6) AS bin_lo,
           ROUND(mn + (LEAST(CAST(FLOOR(({LINEITEM_LABEL} - mn) * nbins / (mx - mn)) AS INT), nbins - 1) + 1) * (mx - mn) / nbins, 6) AS bin_hi,
           count(*) AS cnt
    FROM lineitem, p
    GROUP BY 1, 2, 3, 4
    """,
)
def q48_histogram_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    return histogram_auto(load_table(spark, sf_dir, "lineitem"), LINEITEM_LABEL)


def key_skew_stats(df: DataFrame, key_col: str, label: str) -> DataFrame:
    """Join/agg-key skew diagnosis: per-key cardinality reduced to the
    numbers that decide a physical plan at scale — key count, max and
    mean per-key rows, the hottest key's share, and skew factor
    (max/mean). skew_factor >> 1 on a join key means salting or AQE
    skew-join handling; ~1 means plain hash partitioning is balanced.
    Two aggregates total (per-key count, then the summary) — the
    second input is |keys| rows, negligible at any scale."""
    counts = df.groupBy(F.col(key_col).alias("k")).agg(
        F.count(F.lit(1)).alias("n"))
    return counts.agg(
        F.lit(label).alias("key"),
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("max_per_key"),
        pin(F.sum("n").cast("double") / F.count(F.lit(1))).alias("avg_per_key"),
        pin(F.max("n").cast("double") * F.count(F.lit(1)) / F.sum("n"))
        .alias("skew_factor"),
        pin(F.max("n").cast("double") / F.sum("n")).alias("top_key_share"),
    )


@query(
    "q125_key_skew",
    oracle=f"""
    WITH s AS (
      SELECT 'events.user_id' AS key, count(*) AS n
      FROM events GROUP BY user_id
      UNION ALL
      SELECT 'documents.lang', count(*) FROM documents GROUP BY lang
      UNION ALL
      SELECT 'lineitem.l_suppkey', count(*) FROM lineitem GROUP BY l_suppkey
    )
    SELECT key, count(*) AS n_keys,
           -- DuckDB widens sum(BIGINT) to HUGEINT, which lands in pandas
           -- as float64 and breaks the driver's int-vs-float value hash
           -- (the round-2 red row); pin it back to BIGINT like Spark.
           CAST(sum(n) AS BIGINT) AS n_rows,
           max(n) AS max_per_key,
           {pin_sql("(CAST(sum(n) AS DOUBLE) / count(*))")}
             AS avg_per_key,
           {pin_sql("(CAST(max(n) AS DOUBLE) * count(*) / sum(n))")}
             AS skew_factor,
           {pin_sql("(CAST(max(n) AS DOUBLE) / sum(n))")}
             AS top_key_share
    FROM s GROUP BY key
    """,
)
def q125_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnostics across the three canonical join/agg keys."""
    ev = load_table(spark, sf_dir, "events")
    docs = load_table(spark, sf_dir, "documents")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        key_skew_stats(ev, "user_id", "events.user_id")
        .unionAll(key_skew_stats(docs, "lang", "documents.lang"))
        .unionAll(key_skew_stats(li, "l_suppkey", "lineitem.l_suppkey"))
    )


# ---------------------------------------------------------------------------
# Approximate quantiles (Greenwald-Khanna sketch) with a self-measured
# rank-error gate against the exact answer — the q81→q132 sketch-twin
# pattern applied to percentiles.
# ---------------------------------------------------------------------------


def quantile_sketch_gate(df: DataFrame, group_col: str, val_col: str,
                         ps: list[float] | None = None,
                         accuracy: int = 10_000) -> DataFrame:
    """Per-group quantiles two ways: `percentile` (exact — needs the
    group's values materialized for interpolation, the thing you CANNOT
    afford per-group at 100 TB) and `percentile_approx` (Greenwald-
    Khanna: one-pass, mergeable, O(1/eps) memory per group — the scale
    path). Each approximate value is then rank-checked against the data
    in one extra broadcast-join pass: its true rank must sit within
    eps·n (+2 for the nearest-rank vs interpolated-position offset) of
    the target position. Output: one row per (group, decile) with the
    EXACT value (oracle-checkable) and the sketch's pass/fail verdict —
    green rows certify the sketch path, exact twin certifies the values.
    """
    ps = ps or [i / 10.0 for i in range(1, 10)]
    eps = 1.0 / accuracy
    parr = F.array(*[F.lit(p) for p in ps])
    both = df.groupBy(group_col).agg(
        F.count(val_col).alias("__n"),
        F.expr(f"percentile({val_col}, array({','.join(map(str, ps))}))")
        .alias("__exact"),
        F.percentile_approx(val_col, parr, F.lit(accuracy)).alias("__approx"),
    )
    decile = both.select(
        group_col, "__n",
        F.posexplode(F.arrays_zip("__exact", "__approx")),
    ).select(
        group_col, "__n",
        (F.col("pos") + 1).alias("decile"),
        F.col("col.__exact").alias("__ev"),
        F.col("col.__approx").cast("double").alias("__av"),
    )
    # one corpus pass: true rank of every approximate value
    ranks = (
        df.select(group_col, F.col(val_col).alias("__v"))
        .join(F.broadcast(decile), on=group_col)
        .groupBy(group_col, "decile", "__n", "__ev", "__av")
        .agg(
            F.sum(F.when(F.col("__v") < F.col("__av"), 1).otherwise(0))
            .alias("__r_lt"),
            F.sum(F.when(F.col("__v") <= F.col("__av"), 1).otherwise(0))
            .alias("__r_le"),
        )
    )
    target = (F.col("decile") / 10.0) * (F.col("__n") - 1) + 1
    slack = F.lit(eps) * F.col("__n") + F.lit(2.0)
    return ranks.select(
        group_col,
        F.col("decile").cast("int").alias("decile"),
        F.round("__ev", 6).alias("exact_val"),
        ((F.col("__r_lt") <= target + slack)
         & (F.col("__r_le") >= target - slack)).alias("approx_ok"),
    )


_QUANTILE_GATE_DUCK = """
    WITH q AS (
      SELECT lang,
             quantile_cont(n_chars,
               [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
      FROM documents GROUP BY lang
    )
    SELECT lang, CAST(i AS INT) AS decile,
           ROUND(qs[i], 6) AS exact_val, TRUE AS approx_ok
    FROM q, (SELECT unnest(generate_series(1, 9)) AS i)
"""


@query("q156_quantile_sketch", oracle=_QUANTILE_GATE_DUCK)
def q156_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang document-length deciles: exact values oracle-checked,
    Greenwald-Khanna sketch rank-gated in the same result."""
    docs = load_table(spark, sf_dir, "documents")
    return quantile_sketch_gate(docs, "lang", "n_chars")


# ---------------------------------------------------------------------------
# q207 — single-pass pairwise correlation matrix (feature profiling)
# ---------------------------------------------------------------------------

_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def corr_matrix(df: DataFrame, cols: list[str],
                quantize: bool = True) -> DataFrame:
    """Full Pearson correlation matrix over k numeric columns in ONE
    aggregation pass: quantize every column to integer cents up front
    (one deterministic double op), accumulate all k sums, k squares,
    and k·(k−1)/2 cross-products as exact DECIMAL(38,0) integers in a
    single map-side-combined global agg — one scan, one 1-row shuffle,
    regardless of k or corpus size (vs k² separate corr() passes).
    The correlation itself is then one token-identical double
    expression over those exact integers, pinned at 1e-6 — the q164
    exactness contract extended to products that overflow BIGINT
    (price-cents² sums reach ~6e19 at sf0.1; DECIMAL(38,0) in Spark,
    HUGEINT in the oracle, both exact).

    ``quantize=False`` skips the cents step for inputs that are
    ALREADY exact integers (e.g. the 2×average-rank columns Spearman
    feeds in) — the sufficient-statistics pass and the final double
    expression are shared verbatim, so both correlations carry the
    same exactness contract."""
    if quantize:
        q = {c: cents(c).cast("long") for c in cols}
    else:
        q = {c: F.col(c).cast("long") for c in cols}
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in cols:
        aggs.append(F.sum(dec(q[c])).alias(f"s_{c}"))
        aggs.append(F.sum(dec(q[c] * q[c]))
                    .alias(f"ss_{c}"))
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    for a, b in pairs:
        aggs.append(F.sum(dec(q[a] * q[b]))
                    .alias(f"sp_{a}_{b}"))
    stats = df.agg(*aggs)

    def corr_expr(a: str, b: str) -> Column:
        n = F.col("n").cast("double")
        sa = F.col(f"s_{a}").cast("double")
        sb = F.col(f"s_{b}").cast("double")
        ssa = F.col(f"ss_{a}").cast("double")
        ssb = F.col(f"ss_{b}").cast("double")
        sab = F.col(f"sp_{a}_{b}").cast("double")
        den = (n * ssa - sa * sa) * (n * ssb - sb * sb)
        r = (n * sab - sa * sb) / F.sqrt(den)
        # a constant column makes den 0 and r NaN; floor(NaN) throws
        # under ANSI, so the undefined correlation is NULL by contract
        return F.when(den > 0, pin(r))

    rows = F.array(*[
        F.struct(F.lit(a).alias("col_a"), F.lit(b).alias("col_b"),
                 corr_expr(a, b).alias("corr"))
        for a, b in pairs])
    return (stats.select(F.col("n").cast("long").alias("n"),
                         F.explode(rows).alias("r"))
            .select("n", "r.col_a", "r.col_b", "r.corr"))


def _corr_oracle(cols=_CORR_COLS) -> str:
    qs = {c: cents_sql(c) for c in cols}
    sums = ",\n             ".join(
        f"CAST(sum({qs[c]}) AS HUGEINT) AS s_{c},\n             "
        f"CAST(sum({qs[c]} * {qs[c]}) AS HUGEINT) AS ss_{c}"
        for c in cols)
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    prods = ",\n             ".join(
        f"CAST(sum({qs[a]} * {qs[b]}) AS HUGEINT) AS sp_{a}_{b}"
        for a, b in pairs)
    def den(a: str, b: str) -> str:
        return (f"(CAST(n AS DOUBLE) * CAST(ss_{a} AS DOUBLE)"
                f" - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))"
                f" * (CAST(n AS DOUBLE) * CAST(ss_{b} AS DOUBLE)"
                f" - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE))")

    sel = "\n    UNION ALL\n".join(f"""
    SELECT n, '{a}' AS col_a, '{b}' AS col_b,
           CASE WHEN {den(a, b)} > 0 THEN
             {pin_sql(f"(CAST(n AS DOUBLE) * CAST(sp_{a}_{b} AS DOUBLE)"
                      f" - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
                      f" / sqrt({den(a, b)})")}
           END AS corr
    FROM stats""" for a, b in pairs)
    return f"""
    WITH stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             {sums},
             {prods}
      FROM lineitem
    )
    {sel}
    """


@query("q207_corr_matrix", oracle=_corr_oracle())
def q207_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All six pairwise Pearson correlations over lineitem's numeric
    measures from one single-pass sufficient-statistics aggregate —
    every (pair, corr) row value-hash-checked at 1e-6."""
    li = load_table(spark, sf_dir, "lineitem")
    return corr_matrix(li, list(_CORR_COLS))


# ---------------------------------------------------------------------------
# q217 — Spearman rank-correlation matrix (robust sibling of q207:
# monotone association, insensitive to outliers and monotone
# transforms — the drift-analysis companion to q90/q136)
# ---------------------------------------------------------------------------


def _ordinal_spans(lv: DataFrame) -> DataFrame:
    """From a melted (__ci, __v) long frame: one row per distinct
    (column, value) carrying its occurrence count ``__c`` and
    strictly-smaller row count ``__s`` — i.e. the value's ordinal span
    [__s+1, __s+__c] in its column's sorted order. Fully distributed:
    the distinct-value counting is a single shuffle regardless of k,
    and the strictly-smaller count is the q128 two-pass prefix sum
    over the DISTINCT-value frame: range-partition on (col_idx, value)
    — partitions may span column boundaries, which the per-(col_idx,
    pid) offsets absorb — cumulative-sum per partition in parallel,
    collect one (k·P)-row partial-total table, broadcast the exact
    offsets back. No global single-task window anywhere."""
    spark = lv.sparkSession
    dv = lv.groupBy("__ci", "__v").agg(F.count(F.lit(1)).alias("__c"))
    nparts = spark.sparkContext.defaultParallelism
    ranged = keep(dv.repartitionByRange(nparts, F.asc("__ci"), F.asc("__v"))
                  .withColumn("__pid", F.spark_partition_id()))
    totals = (ranged.groupBy("__ci", "__pid")
              .agg(F.sum("__c").alias("__t")).collect())
    acc: dict[int, int] = {}
    offs = []
    for r in sorted(totals, key=lambda r: (r["__ci"], r["__pid"])):
        offs.append((r["__ci"], r["__pid"], acc.get(r["__ci"], 0)))
        acc[r["__ci"]] = acc.get(r["__ci"], 0) + r["__t"]
    off = spark.createDataFrame(offs or [(0, 0, 0)],
                                "__ci int, __pid int, __off long")
    wcum = (Window.partitionBy("__ci", "__pid").orderBy("__v")
            .rowsBetween(Window.unboundedPreceding, -1))
    smaller = F.coalesce(F.sum("__c").over(wcum), F.lit(0)) + F.col("__off")
    spans = keep(ranged.join(F.broadcast(off), ["__ci", "__pid"])
                 .select("__ci", "__v",
                         F.col("__c").cast("long").alias("__c"),
                         smaller.cast("long").alias("__s")))
    # Eagerly materialize, THEN drop the upstream cache (r15, guide
    # §3.2/§5.4): persist-and-count instead of localCheckpoint — a
    # LogicalRDD reports no statistics, so every downstream join of the
    # distinct-value-sized span/rank maps fell back to sort-merge with
    # a full corpus exchange PER JOIN (q217 re-shuffled lineitem once
    # per column). InMemoryRelation carries exact in-memory sizes, so
    # the small maps auto-broadcast again. The cache is an intra-query
    # intermediate (distinct-value-sized).
    spans.count()
    release(ranged)
    return spans


def _rank2_maps(df: DataFrame, cols: list[str]) -> DataFrame:
    """(col_idx, value → 2×average rank) long map for EVERY column
    from ONE corpus scan, fully distributed.

    Average ranks handle ties exactly (Spearman's standard treatment)
    and doubling keeps them INTEGER: for a value v with c occurrences
    and s strictly-smaller rows, avg rank = s + (c+1)/2, so
    2·avg = 2s + c + 1 — BIGINT end to end, no float ranks. All k
    columns posexplode into one (col_idx, value) long frame; the span
    machinery (``_ordinal_spans``) does the distributed counting.
    Each map's size is its column's distinct cardinality, and the
    corpus only ever joins it by value."""
    lv = df.select(F.posexplode(F.array(
        *[F.col(c).cast("double") for c in cols])).alias("__ci", "__v"))
    spans = _ordinal_spans(lv)
    return spans.select(
        "__ci", "__v",
        (F.lit(2) * F.col("__s") + F.col("__c") + 1).alias("__r2"))


def spearman_matrix(df: DataFrame, cols: list[str]) -> DataFrame:
    """All pairwise Spearman rank correlations in one sufficient-
    statistics pass: replace every column by its exact 2×average-rank
    integers, then run the SAME one-scan DECIMAL(38,0) machinery as
    Pearson (``corr_matrix(quantize=False)``). ρ is Pearson on average
    ranks — the tie-correct definition — and doubling ranks scales
    both numerator and denominator by 4, leaving ρ unchanged.

    Rank substitution is k value-keyed map joins — MEASURED as the
    right shape here, not assumed: the melt alternative (narrow
    (row_id, col_idx, value) long frame, ONE join against the combined
    rank map, re-pivot by row id — shuffle count independent of k) was
    implemented and benched at 5.6 s vs 3.4 s for the k joins at
    sf0.1. The k joins win because rank-map size is each column's
    DISTINCT cardinality: low-cardinality columns (quantity/discount/
    tax here — 50/11/9 values) broadcast, so only the genuinely
    continuous column's map join shuffles the corpus at all, while the
    melt forces every column's tag through that one big shuffle AND
    adds an N-group re-pivot. With many high-cardinality columns the
    melt shape would win; at the profiling-matrix shape (few measures,
    mostly discretized) it strictly loses."""
    src = df.na.drop(subset=list(cols)).select(
        *[F.col(c).cast("double").alias(c) for c in cols])
    allmaps = _rank2_maps(src, list(cols))
    out = src
    for i, c in enumerate(cols):
        cmap = (allmaps.filter(F.col("__ci") == i)
                .select(F.col("__v").alias(c),
                        F.col("__r2").alias(f"__r2_{c}")))
        out = out.join(cmap, c)
    ranked = out.select(*[F.col(f"__r2_{c}").alias(c) for c in cols])
    return corr_matrix(ranked, list(cols), quantize=False)


def _spearman_oracle(cols=_CORR_COLS) -> str:
    notnull = " AND ".join(f"{c} IS NOT NULL" for c in cols)
    ranks = ",\n             ".join(
        f"2 * rank() OVER (ORDER BY {c})"
        f" + count(*) OVER (PARTITION BY {c}) - 1 AS q_{c}"
        for c in cols)
    sums = ",\n             ".join(
        f"CAST(sum(q_{c}) AS HUGEINT) AS s_{c},\n             "
        f"CAST(sum(q_{c} * q_{c}) AS HUGEINT) AS ss_{c}"
        for c in cols)
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    prods = ",\n             ".join(
        f"CAST(sum(q_{a} * q_{b}) AS HUGEINT) AS sp_{a}_{b}"
        for a, b in pairs)

    def den(a: str, b: str) -> str:
        return (f"(CAST(n AS DOUBLE) * CAST(ss_{a} AS DOUBLE)"
                f" - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))"
                f" * (CAST(n AS DOUBLE) * CAST(ss_{b} AS DOUBLE)"
                f" - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE))")

    sel = "\n    UNION ALL\n".join(f"""
    SELECT n, '{a}' AS col_a, '{b}' AS col_b,
           CASE WHEN {den(a, b)} > 0 THEN
             {pin_sql(f"(CAST(n AS DOUBLE) * CAST(sp_{a}_{b} AS DOUBLE)"
                      f" - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
                      f" / sqrt({den(a, b)})")}
           END AS corr
    FROM stats""" for a, b in pairs)
    return f"""
    WITH src AS (
      SELECT {", ".join(cols)} FROM lineitem WHERE {notnull}
    ),
    r AS (
      SELECT {ranks}
      FROM src
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             {sums},
             {prods}
      FROM r
    )
    {sel}
    """


@query("q217_spearman_matrix", oracle=_spearman_oracle())
def q217_spearman_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All six pairwise Spearman rank correlations over lineitem's
    numeric measures — exact integer 2×average ranks through the q207
    single-pass machinery, every (pair, ρ) row value-hash-checked at
    1e-6 against the oracle's window-rank formulation."""
    li = load_table(spark, sf_dir, "lineitem")
    return spearman_matrix(li, list(_CORR_COLS))


# ---------------------------------------------------------------------------
# q229 — mutual-information feature ranking: MI(X; label) per feature
# from exact contingency counts — the information-theoretic sibling of
# q135's chi-square and the model-free cousin of q13's impurity
# importances; what an AutoML feature-selection stage runs before
# committing to a training grid.
# ---------------------------------------------------------------------------


def mutual_information(df: DataFrame, features: dict[str, Column],
                       label: Column) -> DataFrame:
    """(feature, n_cells, mi_nats) for each feature expression against
    a label expression. ALL features melt into one (feature, bin,
    label) long frame via posexplode, so the contingency counting is a
    single shuffle regardless of k; marginals come from two further
    group-bys of the (already tiny) cell table, joined back. MI =
    Σ (c_xy/N)·ln(c_xy·N/(c_x·c_y)) over exact BIGINT counts — the
    only doubles are the final per-cell terms, pinned at 1e-6. Cells
    are (feature cardinality × label cardinality) rows — bounded by
    the bin design, never by data."""
    names = list(features)
    melted = df.select(
        label.cast("string").alias("__y"),
        F.posexplode(F.array(*[
            features[c].cast("string") for c in names])).alias("__fi",
                                                               "__x"))
    cells = (melted.groupBy("__fi", "__x", "__y")
             .agg(F.count(F.lit(1)).alias("__cxy")))
    fx = cells.groupBy("__fi", "__x").agg(F.sum("__cxy").alias("__cx"))
    fy = cells.groupBy("__fi", "__y").agg(F.sum("__cxy").alias("__cy"))
    n = cells.groupBy("__fi").agg(F.sum("__cxy").alias("__n"))
    # __n / __cy promote to DOUBLE before multiplying — token-mirror of
    # the oracle's cxy * CAST(n AS DOUBLE): at corpus scale the BIGINT
    # products would silently wrap in non-ANSI Spark while DuckDB errors,
    # so both engines must do the multiplication in double space.
    term = ((F.col("__cxy") / F.col("__n")) *
            F.log((F.col("__cxy") * F.col("__n").cast("double")) /
                  (F.col("__cx") * F.col("__cy").cast("double"))))
    mi = (cells.join(fx, ["__fi", "__x"]).join(fy, ["__fi", "__y"])
          .join(n, "__fi")
          .groupBy("__fi")
          .agg(F.count(F.lit(1)).cast("long").alias("n_cells"),
               F.sum(term).alias("__mi")))
    name_map = F.array(*[F.lit(c) for c in names])
    return mi.select(
        F.element_at(name_map, F.col("__fi") + 1).alias("feature"),
        "n_cells",
        pin(F.col("__mi"))
        .alias("mi_nats"))


_MI_FEATURES_SQL = {
    "quantity": "CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)",
    "discount_pct": f"CAST({cents_sql('l_discount')} AS VARCHAR)",
    "tax_pct": f"CAST({cents_sql('l_tax')} AS VARCHAR)",
    "linestatus": "l_linestatus",
}


def _mi_oracle() -> str:
    per_feature = "\n    UNION ALL\n".join(f"""
    SELECT '{name}' AS feature, {expr} AS x,
           CAST(l_returnflag = 'R' AS VARCHAR) AS y
    FROM lineitem""" for name, expr in _MI_FEATURES_SQL.items())
    return f"""
    WITH m AS ({per_feature}),
    cells AS (
      SELECT feature, x, y, CAST(count(*) AS BIGINT) AS cxy
      FROM m GROUP BY 1, 2, 3
    ),
    fx AS (SELECT feature, x, sum(cxy) AS cx FROM cells GROUP BY 1, 2),
    fy AS (SELECT feature, y, sum(cxy) AS cy FROM cells GROUP BY 1, 2),
    n AS (SELECT feature, sum(cxy) AS n FROM cells GROUP BY 1)
    SELECT cells.feature, CAST(count(*) AS BIGINT) AS n_cells,
           {pin_sql("sum((cxy / CAST(n AS DOUBLE))"
                    " * ln((cxy * CAST(n AS DOUBLE))"
                    " / (cx * CAST(cy AS DOUBLE))))")} AS mi_nats
    FROM cells
    JOIN fx ON cells.feature = fx.feature AND cells.x = fx.x
    JOIN fy ON cells.feature = fy.feature AND cells.y = fy.y
    JOIN n ON cells.feature = n.feature
    GROUP BY cells.feature
    """


@query("q229_mutual_info", oracle=_mi_oracle())
def q229_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MI of four lineitem features (integer quantity, discount and
    tax percent bins, linestatus) against the returned-flag label —
    every (feature, cell count, MI nats) row value-hash-checked at
    1e-6."""
    li = load_table(spark, sf_dir, "lineitem")
    feats = {
        "quantity": F.col("l_quantity").cast("long"),
        "discount_pct": cents("l_discount").cast("long"),
        "tax_pct": cents("l_tax").cast("long"),
        "linestatus": F.col("l_linestatus"),
    }
    return mutual_information(li, feats,
                              (F.col("l_returnflag") == "R"))


def gini_coefficient(df: DataFrame, value: Column) -> DataFrame:
    """One-row (n, total, gini): the Gini concentration coefficient of
    a non-negative INTEGER quantity (pass cents, tokens, counts) —
    the inequality audit a mixture designer runs on per-source token
    budgets or per-customer revenue. G = (2·Σ i·x_(i) − (n+1)·Σx)
    / (n·Σx) with ranks over the ascending sort; the rank-weighted sum
    reads off the distributed ordinal spans EXACTLY (a distinct value
    v spanning ordinals [s+1, s+c] contributes v·(c·s + c(c+1)/2) — an
    exact BIGINT), so there is no sort and no float accumulation; the
    coefficient is one pinned double. Ties take consecutive ranks and
    the formula is tie-invariant (equal values commute). Zero total
    reports gini NULL-by-contract.

    Width contract: the rank-weighted sum tops out near v_max·n², which
    crosses int64 already at sf1 lineitem cents (~1.9e20), so it runs
    at DECIMAL(38,0) here and HUGEINT (int128) in the oracle — exact to
    1e38, i.e. any realistic scale. Inputs must still satisfy
    Σv < 2^63 (the `total` output column is a BIGINT — for cents that
    is $9.2e16, far past 100 TB) and no single distinct value may
    repeat > 3e9 times (c·(c+1)/2 stays in int64)."""
    lv = df.select(F.lit(0).alias("__ci"),
                   value.cast("long").alias("__v")).filter(
        F.col("__v").isNotNull() & (F.col("__v") >= 0))
    spans = _ordinal_spans(lv.select("__ci",
                                     F.col("__v").cast("double")
                                     .alias("__v")))
    # pure integer arithmetic: c·(c+1) is even so the div is exact, and
    # nothing ever passes through a double before the final ratio
    contrib = (dec(F.col("__v"))
               * (dec(F.col("__c")) * dec(F.col("__s"))
                  + dec(F.expr("(__c * (__c + 1)) div 2"))))
    agg = spans.agg(
        F.sum("__c").cast("long").alias("n"),
        F.sum(F.col("__v").cast("long") * F.col("__c")).cast("long")
        .alias("total"),
        F.sum(contrib).alias("__rs"))
    g = ((2.0 * F.col("__rs") - (F.col("n") + 1).cast("double")
          * F.col("total"))
         / (F.col("n").cast("double") * F.col("total")))
    return agg.select(
        "n", "total",
        F.when(F.col("total") > 0,
               pin(g)).alias("gini"))


@query(
    "q263_gini_coefficient",
    oracle=f"""
    WITH s AS (
      SELECT {cents_sql("l_extendedprice")} AS v
      FROM lineitem WHERE l_extendedprice IS NOT NULL
    ),
    f AS (SELECT v FROM s WHERE v >= 0),
    vv AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM f GROUP BY v),
    sp AS (
      SELECT v, c,
             CAST(coalesce(sum(c) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS BIGINT) AS st
      FROM vv
    ),
    agg AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(v * c) AS BIGINT) AS total,
             sum(CAST(v AS HUGEINT)
                 * (CAST(c AS HUGEINT) * st + (c * (c + 1)) // 2))
               AS rs
      FROM sp
    )
    SELECT n, total,
           CASE WHEN total > 0 THEN
             {pin_sql("(2.0 * rs - CAST(n + 1 AS DOUBLE) * total)"
                      " / (CAST(n AS DOUBLE) * total)")}
           END AS gini
    FROM agg
    """,
)
def q263_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of lineitem revenue in exact cents: one
    (n, total, gini) row, the rank-weighted sum exact at int128 width
    in both engines (HUGEINT oracle / DECIMAL(38,0) here), the
    coefficient one pinned hash-checked double."""
    li = load_table(spark, sf_dir, "lineitem")
    return gini_coefficient(
        li, cents("l_extendedprice").cast("long"))


def hhi_concentration(df: DataFrame, dim_col: str) -> DataFrame:
    """One-row (k, n, hhi, effective_n): the Herfindahl–Hirschman
    concentration of a categorical dimension — HHI = Σ (n_i/N)² over
    the category shares, and effective_n = 1/HHI, the 'equivalent
    number of equal categories'. The number a mixture designer reads
    next to the Gini: is the token budget spread over many sources or
    secretly three? One map-side-combined cell group-by, then a
    k-row aggregate. HHI = Σn_i² / N² with the squared sum carried at
    DECIMAL(38,0) / HUGEINT (Σn_i² tops int64 once N > ~3e9 rows —
    gini's width discipline); both ratios are single pinned doubles
    over exact integers."""
    cells = (df.filter(F.col(dim_col).isNotNull())
             .groupBy(dim_col)
             .agg(F.count(F.lit(1)).cast("long").alias("__n")))
    agg = cells.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("__n").cast("long").alias("n"),
        F.sum(dec(F.col("__n")) * F.col("__n"))
        .alias("__s2"))
    nn = F.col("n").cast("double") * F.col("n")
    return agg.select(
        "k", "n",
        F.when(F.col("n") > 0, pin(F.col("__s2") / nn)).alias("hhi"),
        F.when(F.col("n") > 0,
               pin(nn / F.col("__s2"))).alias("effective_n"))


@query(
    "q269_hhi_concentration",
    oracle=f"""
    WITH c AS (
      SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n
      FROM lineitem WHERE l_suppkey IS NOT NULL GROUP BY l_suppkey
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n) AS BIGINT) AS n,
             sum(CAST(n AS HUGEINT) * n) AS s2
      FROM c
    )
    SELECT k, n,
           CASE WHEN n > 0 THEN
             {pin_sql("s2 / (CAST(n AS DOUBLE) * n)")}
           END AS hhi,
           CASE WHEN n > 0 THEN
             {pin_sql("(CAST(n AS DOUBLE) * n) / s2")}
           END AS effective_n
    FROM agg
    """,
)
def q269_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier concentration of lineitem volume: one hash-checked
    (k, n, hhi, effective_n) row — the market-concentration companion
    to q101's share table and q263's Gini."""
    li = load_table(spark, sf_dir, "lineitem")
    return hhi_concentration(li, "l_suppkey")


def lorenz_curve(df: DataFrame, value: Column,
                 nbins: int = 10) -> DataFrame:
    """(decile, n_rows, bin_value, cum_rows, cum_value, cum_share):
    the Lorenz curve behind q263's Gini — how much of the total a
    bottom value-decile holds. Deciles are VALUE-KEYED off the
    distributed ordinal spans ((s·nbins) div N — q256's contract:
    deterministic under ties, no global sort; bin sizes deviate from
    N/nbins only at value boundaries). Per-bin sums are exact BIGINTs
    under gini's Σv < 2^63 input contract; the cumulative walk is a
    window over ≤ nbins rows; cum_share is one pinned double per
    row."""
    lv = df.select(F.lit(0).alias("__ci"),
                   value.cast("long").alias("__v")).filter(
        F.col("__v").isNotNull() & (F.col("__v") >= 0))
    spans = _ordinal_spans(lv.select("__ci",
                                     F.col("__v").cast("double")
                                     .alias("__v")))
    tot = spans.agg(F.sum("__c").cast("long").alias("__tn"),
                    F.sum(F.col("__v").cast("long") * F.col("__c"))
                    .cast("long").alias("__tv"))
    binned = (spans.crossJoin(F.broadcast(tot))
              .withColumn("decile",
                          F.expr(f"cast((__s * {nbins}) div __tn as int)")))
    agg = (binned.groupBy("decile")
           .agg(F.sum("__c").cast("long").alias("n_rows"),
                F.sum(F.col("__v").cast("long") * F.col("__c"))
                .cast("long").alias("bin_value"),
                F.max("__tv").alias("__tv")))
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0)
    out = agg.select(
        "decile", "n_rows", "bin_value",
        F.sum("n_rows").over(w).cast("long").alias("cum_rows"),
        F.sum("bin_value").over(w).cast("long").alias("cum_value"),
        F.col("__tv").alias("__tv"))
    return out.select(
        "decile", "n_rows", "bin_value", "cum_rows", "cum_value",
        F.when(F.col("__tv") > 0,
               pin(F.col("cum_value").cast("double") / F.col("__tv")))
        .alias("cum_share"))


@query(
    "q270_lorenz_curve",
    oracle=f"""
    WITH s AS (
      SELECT {cents_sql("l_extendedprice")} AS v
      FROM lineitem WHERE l_extendedprice IS NOT NULL
    ),
    f AS (SELECT v FROM s WHERE v >= 0),
    vv AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM f GROUP BY v),
    sp AS (
      SELECT v, c,
             CAST(coalesce(sum(c) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS BIGINT) AS st
      FROM vv
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS tn,
                   CAST(sum(v * c) AS BIGINT) AS tv FROM vv),
    agg AS (
      SELECT CAST((st * 10) // tn AS INT) AS decile,
             CAST(sum(c) AS BIGINT) AS n_rows,
             CAST(sum(v * c) AS BIGINT) AS bin_value
      FROM sp, tot GROUP BY 1
    )
    SELECT decile, n_rows, bin_value,
           CAST(sum(n_rows) OVER (ORDER BY decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_rows,
           CAST(sum(bin_value) OVER (ORDER BY decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_value,
           CASE WHEN tv > 0 THEN
             {pin_sql("CAST(sum(bin_value) OVER (ORDER BY decile"
                      " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
                      " AS DOUBLE) / tv")}
           END AS cum_share
    FROM agg, tot
    """,
)
def q270_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of lineitem revenue in exact cents (q263's Gini,
    point by point): ten value-keyed decile rows with exact integer
    cumulative rows/value and a pinned cumulative share — every value
    hash-checked."""
    li = load_table(spark, sf_dir, "lineitem")
    return lorenz_curve(
        li, cents("l_extendedprice").cast("long"))
