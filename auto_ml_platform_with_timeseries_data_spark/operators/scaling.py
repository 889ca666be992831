"""Feature scaling operators (SURVEY.md §2.8 F1/F2, §2.4 A7/A8 — Q9).

Reference semantics (citations into /root/reference):

- StandardScaler fit/transform   auto_machine_learning.py:15-16,45 and
  data_analysis.py:160 (fit on TRAIN, reuse on test). sklearn uses the
  POPULATION std (ddof=0); MLlib's StandardScaler uses the sample std
  (ddof=1) — the engine reports both and standardizes on ddof=0 for
  reference parity.
- MinMaxScaler                   auto_machine_learning.py:101-102

Scale notes: parameter fitting is ONE aggregation over the train table
(4 partial aggregates per feature, map-side combined). The transform
broadcast-joins the 1-row parameter table — never a collect, never a
driver-side literal, so the same plan works when "train" is 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from auto_ml_platform_with_timeseries_data_spark.operators.timeseries import (
    cents,
    cents_sql,
    pin,
    pin_sql,
)
from auto_ml_platform_with_timeseries_data_spark.registry import query
from auto_ml_platform_with_timeseries_data_spark.tables import (
    LINEITEM_FEATURES,
    load_table,
)


def scale_params(df: DataFrame, features: list[str], round_to: int = 6) -> DataFrame:
    """Per-feature (mean, std_pop, std_samp, min, max) in ONE pass (Q9).

    Output: (feature, mean, std_pop, std_samp, min_value, max_value).
    """
    aggs = []
    for c in features:
        aggs += [
            F.round(F.avg(c), round_to).alias(f"__avg_{c}"),
            F.round(F.stddev_pop(c), round_to).alias(f"__sdp_{c}"),
            F.round(F.stddev_samp(c), round_to).alias(f"__sds_{c}"),
            F.min(c).cast("double").alias(f"__min_{c}"),
            F.max(c).cast("double").alias(f"__max_{c}"),
        ]
    agg = df.agg(*aggs)
    pairs = ", ".join(
        f"'{c}', __avg_{c}, __sdp_{c}, __sds_{c}, __min_{c}, __max_{c}"
        for c in features
    )
    return agg.selectExpr(
        f"stack({len(features)}, {pairs}) as "
        "(feature, mean, std_pop, std_samp, min_value, max_value)"
    )


def standard_scale(train: DataFrame, apply_to: DataFrame,
                   features: list[str], ddof: int = 0) -> DataFrame:
    """(x − μ)/σ per feature; μ/σ fitted on `train`, applied to `apply_to`
    (the reference's fit-on-train / transform-on-test contract,
    data_analysis.py:159-160). Appends `<c>_scaled` columns."""
    std = F.stddev_pop if ddof == 0 else F.stddev_samp
    stats = train.agg(
        *[F.avg(c).alias(f"__mu_{c}") for c in features],
        *[std(c).alias(f"__sigma_{c}") for c in features],
    )
    out = apply_to.crossJoin(F.broadcast(stats))
    for c in features:
        # constant train column: sigma 0 -> scaled value NULL by
        # contract (sklearn emits 0 there; NULL keeps "no information"
        # visible), never an ANSI divide error
        out = out.withColumn(
            f"{c}_scaled",
            F.when(F.col(f"__sigma_{c}") > 0,
                   (F.col(c) - F.col(f"__mu_{c}"))
                   / F.col(f"__sigma_{c}")))
    return out.drop(*[f"__mu_{c}" for c in features],
                    *[f"__sigma_{c}" for c in features])


def min_max_scale(train: DataFrame, apply_to: DataFrame,
                  features: list[str]) -> DataFrame:
    """(x − min)/(max − min) (F2, auto_machine_learning.py:101-102)."""
    stats = train.agg(
        *[F.min(c).alias(f"__mn_{c}") for c in features],
        *[F.max(c).alias(f"__mx_{c}") for c in features],
    )
    out = apply_to.crossJoin(F.broadcast(stats))
    for c in features:
        out = out.withColumn(
            f"{c}_scaled",
            F.when(F.col(f"__mx_{c}") > F.col(f"__mn_{c}"),
                   (F.col(c) - F.col(f"__mn_{c}"))
                   / (F.col(f"__mx_{c}") - F.col(f"__mn_{c}"))),
        )
    return out.drop(*[f"__mn_{c}" for c in features],
                    *[f"__mx_{c}" for c in features])


# ---------------------------------------------------------------------------
# Registered queries + oracles
# ---------------------------------------------------------------------------


@query(
    "q09_scale_params",
    oracle=" UNION ALL ".join(
        f"SELECT '{c}' AS feature, ROUND(avg({c}), 6) AS mean, "
        f"ROUND(stddev_pop({c}), 6) AS std_pop, "
        f"ROUND(stddev_samp({c}), 6) AS std_samp, "
        f"CAST(min({c}) AS DOUBLE) AS min_value, "
        f"CAST(max({c}) AS DOUBLE) AS max_value FROM lineitem"
        for c in LINEITEM_FEATURES
    ),
)
def q09_scale_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scale_params(load_table(spark, sf_dir, "lineitem"),
                        list(LINEITEM_FEATURES))


@query(
    "q29_minmax_scaled",
    oracle="""
    WITH s AS (SELECT min(l_quantity) AS mn, max(l_quantity) AS mx FROM lineitem)
    SELECT l_orderkey, l_linenumber,
           ROUND((l_quantity - mn) / (mx - mn), 6) AS l_quantity_scaled
    FROM lineitem, s
    """,
)
def q29_minmax_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return min_max_scale(li, li, ["l_quantity"]).select(
        "l_orderkey", "l_linenumber",
        F.round(F.col("l_quantity_scaled"), 6).alias("l_quantity_scaled"),
    )


# ---------------------------------------------------------------------------
# q239 — quantile normalization: force every feature onto the SAME
# distribution (the mean of the per-column sorted profiles) — the
# batch-effect remover of bioinformatics (Bolstad et al. 2003) and the
# cross-feature calibration step ML preprocessing uses when models
# need rank-comparable features. Completes the scaling family:
# standard (F1), min-max (F2), and now distribution-level.
# ---------------------------------------------------------------------------

_QN_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
_QN_CHUNK = 4096   # tie-block ordinal expansion chunk width


def quantile_normalize_map(df: DataFrame, cols: list[str]) -> DataFrame:
    """(feature, value_cents, n, norm_micro): the quantile-normalization
    MAPPING table — each distinct value of each column mapped to the
    mean of the cross-column sorted profile over its ordinal span,
    with ties averaged (the standard policy: tied values share the
    mean of the reference values their positions cover).

    All arithmetic is exact integers end to end: values quantize to
    cents once, the reference profile at ordinal i is
    floordiv(Σ_col cents_col(i) · 10000, k) micro-units, and a tie
    block averages by one more floored integer division. Division is
    FLOORED explicitly — `(a − pymod(a, b)) div b` with
    pymod = ((a % b) + b) % b, identical text in both engines — not
    the bare `div`/`//` operators, because those truncate toward zero
    on negative dividends in Spark while Python floors (the property
    test caught the one-unit divergence on negative-valued columns;
    the q215 positive-only `div` discipline is insufficient here since
    arbitrary feature columns can be negative).

    Scale shape: columns melt into ONE long frame; distinct-value
    ordinal spans come from the distributed two-pass prefix sum
    (``_ordinal_spans`` — no global sort, no single-task window);
    ordinal expansion is linear in total ROWS (k·N) and chunks each
    tie block's span into ≤4096-wide sequences so no single row ever
    materializes a giant array (a billion-row tie block at 100 TB
    expands through 250k chunk rows, not one array); the profile
    group-by keys on ordinal (≤N groups); the final mapping table is
    Σ distinct-cardinality rows — the thing you persist and
    broadcast-join onto serving data. Output is the mapping, not the
    transformed corpus: applying it is one value-keyed join, and the
    mapping IS the model artifact."""
    from auto_ml_platform_with_timeseries_data_spark.operators.profile import (
        _ordinal_spans,
    )

    k = len(cols)
    lv = df.na.drop(subset=list(cols)).select(
        F.posexplode(F.array(
            *[cents(c).cast("long")
              for c in cols])).alias("__ci", "__v"))
    spans = _ordinal_spans(lv)
    chunks = spans.select(
        "__ci", "__v", "__s", "__c",
        F.explode(F.sequence(
            F.col("__s") + 1, F.col("__s") + F.col("__c"),
            F.lit(_QN_CHUNK))).alias("__cs"))
    ordinals = chunks.select(
        "__ci", "__v",
        F.explode(F.sequence(
            F.col("__cs"),
            F.least(F.col("__cs") + _QN_CHUNK - 1,
                    F.col("__s") + F.col("__c")))).alias("__i"))
    # floored division, sign-safe: numerator minus python-mod is an
    # exact multiple of the divisor, so the truncating `div` is exact
    prof = (ordinals.groupBy("__i")
            .agg(F.sum("__v").alias("__sv"))
            .select("__i", F.expr(
                f"(__sv * 10000 - (((__sv * 10000) % {k} + {k}) % {k}))"
                f" div {k}").alias("__rm")))
    blk = (ordinals.join(prof, "__i")
           .groupBy("__ci", "__v")
           .agg(F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("__rm").alias("__sm")))
    names = F.array(*[F.lit(c) for c in cols])
    return blk.select(
        F.element_at(names, F.col("__ci") + 1).alias("feature"),
        F.col("__v").alias("value_cents"), "n",
        F.expr("(__sm - ((__sm % n + n) % n)) div n")
        .cast("long").alias("norm_micro"))


def _qn_oracle(cols=_QN_COLS) -> str:
    k = len(cols)
    notnull = " AND ".join(f"{c} IS NOT NULL" for c in cols)
    melt = "\n      UNION ALL\n".join(
        f"      SELECT {i} AS ci,"
        f" {cents_sql(c)} AS vc"
        f" FROM lineitem WHERE {notnull}"
        for i, c in enumerate(cols))
    case = " ".join(f"WHEN {i} THEN '{c}'" for i, c in enumerate(cols))
    return f"""
    WITH m AS (
{melt}
    ),
    ranked AS (
      SELECT ci, vc, row_number() OVER (PARTITION BY ci ORDER BY vc)
               AS i
      FROM m
    ),
    prof AS (
      SELECT i, CAST((sv - ((sv % {k} + {k}) % {k})) // {k} AS BIGINT)
               AS rm
      FROM (SELECT i, sum(vc) * 10000 AS sv FROM ranked GROUP BY i)
    ),
    blk AS (
      SELECT ci, vc, CAST(count(*) AS BIGINT) AS n,
             sum(rm) AS sm
      FROM ranked JOIN prof USING (i)
      GROUP BY 1, 2
    )
    SELECT CASE ci {case} END AS feature,
           vc AS value_cents, n,
           CAST((sm - ((sm % n + n) % n)) // n AS BIGINT) AS norm_micro
    FROM blk
    """


@query("q239_quantile_normalize", oracle=_qn_oracle())
def q239_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-normalize lineitem's four numeric measures onto their
    shared sorted-profile mean: the full (feature, value, n, mapped
    micro-value) mapping table, every row integer-exact and
    value-hash-checked against the oracle's window-rank formulation."""
    li = load_table(spark, sf_dir, "lineitem")
    return quantile_normalize_map(li, list(_QN_COLS))


# ---------------------------------------------------------------------------
# q241 — robust scaling parameters (median / IQR) via EXACT
# interpolated quantiles computed WITHOUT any per-group sort: q43
# documents that Spark's exact `percentile` buffers the whole column;
# this is the distributed alternative — quantiles read off the
# distinct-value ordinal spans (one shuffle, the _ordinal_spans
# two-pass prefix sum), so the plan survives a column that does not
# fit one task. The robust (median, IQR) pair is the outlier-immune
# sibling of standard scaling (F1) — what you fit when q60's z-scores
# would be dragged by the tails.
# ---------------------------------------------------------------------------

_RQ_QS = (0.25, 0.5, 0.75)


def robust_quantile_params(df: DataFrame, cols: list[str]) -> DataFrame:
    """(feature, p25, p50, p75, iqr) with linear-interpolation
    quantiles (the percentile_cont definition: position (n−1)·q,
    value v1 + (v2 − v1)·frac) — but evaluated from the distinct-value
    span table instead of a sort: the ordinal k's value is the span
    row with s < k ≤ s+c, so each quantile is TWO bounded lookups
    against a frame the prefix machinery already built. The lookup
    join's build side is the (k·|qs|·2)-row target table — a bounds
    broadcast, the audited BNLJ pattern. frac is exact in binary for
    quartiles, the interpolation expression is token-identical in the
    oracle, and every output pins at 1e-6; iqr subtracts the PINNED
    quartiles, so it is exact given them."""
    from auto_ml_platform_with_timeseries_data_spark.operators.profile import (
        _ordinal_spans,
    )

    lv = df.na.drop(subset=list(cols)).select(
        F.posexplode(F.array(
            *[F.col(c).cast("double") for c in cols])).alias("__ci",
                                                             "__v"))
    spans = _ordinal_spans(lv)
    ns = spans.groupBy("__ci").agg(F.sum("__c").alias("__n"))
    pos = {qi: (F.col("__n") - 1) * F.lit(q)
           for qi, q in enumerate(_RQ_QS)}
    tgt = ns.select(F.col("__ci").alias("__tci"), F.explode(F.array(*[
        F.struct(F.lit(qi).alias("__qi"),
                 (F.floor(pos[qi]) + 1).cast("long").alias("__k1"),
                 (pos[qi] - F.floor(pos[qi])).alias("__frac"))
        for qi in range(len(_RQ_QS))])).alias("t")).select("__tci", "t.*")
    # span (s, s+c] holds ordinal k1 or k1+1 ⟺ s ≤ k1 ∧ k1 ≤ s+c
    hits = (spans.join(
        F.broadcast(tgt),
        (F.col("__ci") == F.col("__tci")) &
        (F.col("__s") < F.col("__k1") + 1) &
        (F.col("__k1") + 1 <= F.col("__s") + F.col("__c") + 1))
        .select("__ci", "__qi", "__frac",
                F.when(F.col("__k1") > F.col("__s"), F.col("__v"))
                .alias("__v1"),
                F.when(F.col("__k1") + 1 <= F.col("__s") + F.col("__c"),
                       F.col("__v")).alias("__v2")))
    vv = (hits.groupBy("__ci", "__qi", "__frac")
          .agg(F.max("__v1").alias("__v1"), F.max("__v2").alias("__v2")))
    val = pin(F.col("__v1") + (F.coalesce("__v2", "__v1") - F.col("__v1"))
              * F.col("__frac"))
    qcols = vv.groupBy("__ci").agg(*[
        F.max(F.when(F.col("__qi") == qi, val)).alias(f"__q{qi}")
        for qi in range(len(_RQ_QS))])
    names = F.array(*[F.lit(c) for c in cols])
    return qcols.select(
        F.element_at(names, F.col("__ci") + 1).alias("feature"),
        F.col("__q0").alias("p25"), F.col("__q1").alias("p50"),
        F.col("__q2").alias("p75"),
        (F.col("__q2") - F.col("__q0")).alias("iqr"))


def _rq_oracle(cols=_QN_COLS) -> str:
    notnull = " AND ".join(f"{c} IS NOT NULL" for c in cols)
    melt = "\n      UNION ALL\n".join(
        f"      SELECT {i} AS ci, CAST({c} AS DOUBLE) AS v"
        f" FROM lineitem WHERE {notnull}"
        for i, c in enumerate(cols))
    tsel = "\n      UNION ALL\n".join(
        f"      SELECT ci, {qi} AS qi,"
        f" CAST(floor((n - 1) * {q}) AS BIGINT) + 1 AS k1,"
        f" (n - 1) * {q} - floor((n - 1) * {q}) AS frac FROM n"
        for qi, q in enumerate(_RQ_QS))
    case = " ".join(f"WHEN {i} THEN '{c}'" for i, c in enumerate(cols))
    return f"""
    WITH m AS (
{melt}
    ),
    ranked AS (
      SELECT ci, v, row_number() OVER (PARTITION BY ci ORDER BY v) AS i
      FROM m
    ),
    n AS (SELECT ci, CAST(count(*) AS BIGINT) AS n FROM m GROUP BY ci),
    t AS (
{tsel}
    ),
    vv AS (
      SELECT t.ci, t.qi, t.frac,
             max(CASE WHEN r.i = t.k1 THEN r.v END) AS v1,
             max(CASE WHEN r.i = t.k1 + 1 THEN r.v END) AS v2
      FROM t JOIN ranked r
        ON r.ci = t.ci AND (r.i = t.k1 OR r.i = t.k1 + 1)
      GROUP BY 1, 2, 3
    ),
    q AS (
      SELECT ci, qi,
             {pin_sql("(v1 + (coalesce(v2, v1) - v1) * frac)")} AS val
      FROM vv
    ),
    piv AS (
      SELECT ci,
             max(CASE WHEN qi = 0 THEN val END) AS p25,
             max(CASE WHEN qi = 1 THEN val END) AS p50,
             max(CASE WHEN qi = 2 THEN val END) AS p75
      FROM q GROUP BY ci
    )
    SELECT CASE ci {case} END AS feature,
           p25, p50, p75, p75 - p25 AS iqr
    FROM piv
    """


@query("q241_robust_quantiles", oracle=_rq_oracle())
def q241_robust_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust-scaling parameters (quartiles + IQR) for lineitem's four
    numeric measures, exact interpolated quantiles from the
    distributed span machinery (no per-column sort) — every value
    pinned at 1e-6 and value-hash-checked against the oracle's
    window-rank interpolation with the token-identical expression."""
    li = load_table(spark, sf_dir, "lineitem")
    return robust_quantile_params(li, list(_QN_COLS))


# ---------------------------------------------------------------------------
# q339 — PER-SERIES robust scaler (median/IQR), the outlier-proof
# sibling of the reference's standard scaler (F1: operators/scaling.py
# standard_scale) and q241's GLOBAL robust parameters: predictive-
# maintenance sensors carry spikes that poison mean/std, so production
# preprocessing scales each unit's channel by ITS OWN median and IQR.
#
# Exactness: quartiles are EXACT ORDER STATISTICS (percentile_disc
# convention — the element at rank ceil(p*n), no interpolation), so
# median/IQR are exact integers in the cents domain; the scaled value
# is one pinned double division per row.  Scale shape: one rank
# window per series + one slim conditional aggregate joined back —
# series-keyed shuffles only, no global sort.
# ---------------------------------------------------------------------------


def robust_scale(df: DataFrame, group_col: str, id_col: str,
                 value: Column) -> DataFrame:
    """(group, id, median, iqr, scaled): per-group robust scaling of
    an integer-valued column.  rank ceil(p*n) picks q1/median/q3;
    iqr = 0 (over half the series identical) reports scaled
    NULL-by-contract; NULL values drop (each operator owns its
    filter)."""
    from pyspark.sql.window import Window

    src = df.select(F.col(group_col).alias("__g"),
                    F.col(id_col).alias("__id"),
                    value.cast("long").alias("__v")).filter(
        F.col("__v").isNotNull())
    w = Window.partitionBy("__g").orderBy(F.asc("__v"), F.asc("__id"))
    ranked = src.select(
        "__g", "__id", "__v",
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(Window.partitionBy("__g")).alias("__n"))
    at = lambda p_num, p_den: F.floor(  # noqa: E731
        (F.lit(float(p_num)) * F.col("__n") + F.lit(float(p_den - 1)))
        / F.lit(float(p_den)))
    per = ranked.groupBy("__g").agg(
        F.max(F.when(F.col("__rn") == at(1, 4), F.col("__v")))
        .alias("__q1"),
        F.max(F.when(F.col("__rn") == at(2, 4), F.col("__v")))
        .alias("__med"),
        F.max(F.when(F.col("__rn") == at(3, 4), F.col("__v")))
        .alias("__q3"))
    iqr = F.col("__q3") - F.col("__q1")
    return (src.join(per, "__g")
            .select(F.col("__g").alias(group_col),
                    F.col("__id").alias(id_col),
                    F.col("__med").alias("median"),
                    iqr.alias("iqr"),
                    F.when(iqr > 0, pin(
                        (F.col("__v") - F.col("__med")).cast("double")
                        / iqr.cast("double"))).alias("scaled")))


_ROBUST_SCALE_ORACLE = f"""
    WITH src AS (
      SELECT user_id AS g, event_id,
             {cents_sql("value")} AS v
      FROM events WHERE value IS NOT NULL
    ),
    ranked AS (
      SELECT g, event_id, v,
             row_number() OVER (PARTITION BY g
                                ORDER BY v, event_id) AS rn,
             count(*) OVER (PARTITION BY g) AS n
      FROM src
    ),
    per AS (
      SELECT g,
             max(CASE WHEN rn = floor((1.0 * n + 3) / 4.0)
                 THEN v END) AS q1,
             max(CASE WHEN rn = floor((2.0 * n + 3) / 4.0)
                 THEN v END) AS med,
             max(CASE WHEN rn = floor((3.0 * n + 3) / 4.0)
                 THEN v END) AS q3
      FROM ranked GROUP BY g
    )
    SELECT s.g AS user_id, s.event_id,
           p.med AS median, p.q3 - p.q1 AS iqr,
           CASE WHEN p.q3 - p.q1 > 0 THEN
             {pin_sql("CAST(s.v - p.med AS DOUBLE) / (p.q3 - p.q1)")}
           END AS scaled
    FROM src s JOIN per p ON s.g = p.g
    """


@query("q339_robust_scale", oracle=_ROBUST_SCALE_ORACLE)
def q339_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust-scale every event's value (cents) by its OWN user's
    median and IQR (exact order statistics) — the spike-proof
    per-unit preprocessing the reference's standard scaler story
    implies for sensor fleets; every (user, event, median, iqr,
    scaled) row hash-checked."""
    ev = load_table(spark, sf_dir, "events")
    return robust_scale(
        ev, "user_id", "event_id",
        cents("value"))
