"""Evaluation operators (SURVEY.md §2.4 A9-A11, §2.8 F3 — Q10-Q12).

Reference semantics (citations into /root/reference):

- RMSE                         data_analysis.py:167 (mean_squared_error squared=False)
- threshold binarization       data_analysis.py:200-201 — strictly `<`
  (RUL < threshold → positive class 1; note NOT MLlib Binarizer's `>`)
- binary F1                    data_analysis.py:203 (f1 = 2TP/(2TP+FP+FN))
- confusion matrix             data_analysis.py:204 (2×2 counts)

All metrics are single aggregation passes (map-side combined); the
confusion matrix is a groupBy-pivot that produces 4 counts — at any
scale these reduce to one tiny result row.

The registered queries use a deterministic, model-free "prediction"
(a fixed linear formula of l_quantity) so the oracle can reproduce the
metric math exactly; the model-backed path lives in ml/automl.py and
produces the same shapes via these same functions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from auto_ml_platform_with_timeseries_data_spark.operators.timeseries import (
    cents,
    cents_sql,
    dec,
    dec_sq,
    pin,
    pin_sql,
)
from auto_ml_platform_with_timeseries_data_spark.registry import query
from auto_ml_platform_with_timeseries_data_spark.tables import load_table

# ---------------------------------------------------------------------------
# Reusable operators
# ---------------------------------------------------------------------------


def rmse(df: DataFrame, truth: str, pred: str, round_to: int = 6) -> DataFrame:
    """sqrt(mean((truth − pred)²)) as a 1-row DataFrame (A11)."""
    d = F.col(truth) - F.col(pred)
    return df.agg(F.round(F.sqrt(F.avg(d * d)), round_to).alias("rmse"))


def binarize(col: str | Column, threshold: float) -> Column:
    """1 iff value < threshold else 0 (F3, data_analysis.py:200-201).

    Direction is strictly `<` — the reference binarizes RUL so that
    "fails within `threshold` cycles" is the positive class. MLlib's
    Binarizer uses `>`, hence the explicit `when`.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c < F.lit(threshold), 1).otherwise(0)


def confusion_and_f1(df: DataFrame, truth_bin: str, pred_bin: str,
                     round_to: int = 6) -> DataFrame:
    """2×2 confusion counts + binary F1 in ONE pass (A9+A10).

    Output columns: tp, fp, fn, tn, f1 (positive class = 1).
    binary F1 = 2TP / (2TP + FP + FN) — exactly sklearn's
    f1_score(average='binary'), not the weighted variant.
    """
    t, p = F.col(truth_bin), F.col(pred_bin)
    # coalesce: F.sum over ZERO rows is NULL — an empty frame must
    # yield a (0,0,0,0, 0.0) row, not None counts
    zero = F.lit(0).cast("long")
    tp = F.coalesce(F.sum(((t == 1) & (p == 1)).cast("long")), zero).alias("tp")
    fp = F.coalesce(F.sum(((t == 0) & (p == 1)).cast("long")), zero).alias("fp")
    fn = F.coalesce(F.sum(((t == 1) & (p == 0)).cast("long")), zero).alias("fn")
    tn = F.coalesce(F.sum(((t == 0) & (p == 0)).cast("long")), zero).alias("tn")
    denom = 2 * F.col("tp") + F.col("fp") + F.col("fn")
    return df.agg(tp, fp, fn, tn).select(
        "tp", "fp", "fn", "tn",
        F.round(
            # all-negative truth AND prediction → denom 0; sklearn's
            # zero_division=0 scores 0.0 (ANSI mode would raise)
            F.when(denom != 0, 2 * F.col("tp") / denom).otherwise(F.lit(0.0)),
            round_to,
        ).alias("f1"),
    )


def confusion_matrix_pivot(df: DataFrame, truth_bin: str, pred_bin: str) -> DataFrame:
    """Long-form confusion matrix via groupBy-pivot (A9): rows = truth,
    columns pred_0/pred_1 — the 2×2 table the reference heatmaps."""
    return (
        df.groupBy(F.col(truth_bin).alias("truth"))
        .pivot(pred_bin, [0, 1])
        .count()
        .na.fill(0)
        .withColumnsRenamed({"0": "pred_0", "1": "pred_1"})
    )


# ---------------------------------------------------------------------------
# Registered queries + oracles
# ---------------------------------------------------------------------------

# deterministic stand-in prediction for l_extendedprice
_PRED = "l_quantity * 1000.0"
_THRESHOLD = 20000.0


@query(
    "q10_rmse",
    oracle=f"""
    SELECT ROUND(SQRT(AVG((l_extendedprice - ({_PRED})) * (l_extendedprice - ({_PRED})))), 6) AS rmse
    FROM lineitem
    """,
)
def q10_rmse(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "pred", F.expr(_PRED)
    )
    return rmse(li, "l_extendedprice", "pred")


@query(
    "q11_binarize",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_extendedprice < {_THRESHOLD} THEN 1 ELSE 0 END AS truth_bin,
           CASE WHEN ({_PRED}) < {_THRESHOLD} THEN 1 ELSE 0 END AS pred_bin
    FROM lineitem
    """,
)
def q11_binarize(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber",
        binarize("l_extendedprice", _THRESHOLD).alias("truth_bin"),
        binarize(F.expr(_PRED), _THRESHOLD).alias("pred_bin"),
    )


@query(
    "q12_f1_confusion",
    oracle=f"""
    WITH b AS (
      SELECT CASE WHEN l_extendedprice < {_THRESHOLD} THEN 1 ELSE 0 END AS truth_bin,
             CASE WHEN ({_PRED}) < {_THRESHOLD} THEN 1 ELSE 0 END AS pred_bin
      FROM lineitem
    )
    SELECT tp, fp, fn, tn,
           ROUND(2.0 * tp / (2.0 * tp + fp + fn), 6) AS f1
    FROM (SELECT
            CAST(sum(CASE WHEN truth_bin = 1 AND pred_bin = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
            CAST(sum(CASE WHEN truth_bin = 0 AND pred_bin = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
            CAST(sum(CASE WHEN truth_bin = 1 AND pred_bin = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
            CAST(sum(CASE WHEN truth_bin = 0 AND pred_bin = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
          FROM b)
    """,
)
def q12_f1_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        binarize("l_extendedprice", _THRESHOLD).alias("truth_bin"),
        binarize(F.expr(_PRED), _THRESHOLD).alias("pred_bin"),
    )
    return confusion_and_f1(li, "truth_bin", "pred_bin")


# ---------------------------------------------------------------------------
# q243 — ROC AUC (Mann–Whitney U with tie-corrected average ranks):
# the threshold-free ranking metric the evaluation tier lacked next to
# RMSE (A11) and F1 (A10) — what model selection actually compares
# when classes are imbalanced. Exact integers end to end through the
# 2×average-rank identity (the q217 discipline).
# ---------------------------------------------------------------------------


def roc_auc(df: DataFrame, score: Column, label: Column) -> DataFrame:
    """One-row (n, n_pos, n_neg, auc): AUC = (Σ_pos avgrank −
    n_pos(n_pos+1)/2) / (n_pos·n_neg), ties handled by average ranks —
    the exact Mann–Whitney estimator. Doubled average ranks are exact
    BIGINTs (2·avg = 2s + c + 1 for a value with s strictly-smaller
    rows and c occurrences), accumulated per DISTINCT score value, so
    the only shuffles are the distinct-value count and the
    ``_ordinal_spans`` two-pass prefix — no global sort, no per-row
    rank window. The final ratio is one token-identical double
    expression over exact integers, pinned at 1e-6; degenerate inputs
    (no positives or no negatives) report auc NULL-by-contract."""
    from auto_ml_platform_with_timeseries_data_spark.operators.profile import (
        _ordinal_spans,
    )

    lv = df.select(F.lit(0).alias("__ci"),
                   score.cast("double").alias("__v"),
                   label.cast("int").alias("__y")).filter(
        F.col("__v").isNotNull() & F.col("__y").isNotNull())
    spans = _ordinal_spans(lv.select("__ci", "__v"))
    dv = lv.groupBy("__v").agg(
        F.sum("__y").cast("long").alias("__npos_v"))
    joined = spans.join(dv, "__v")
    agg = joined.agg(
        F.sum("__c").cast("long").alias("n"),
        F.sum("__npos_v").cast("long").alias("n_pos"),
        F.sum(F.col("__npos_v") *
              (F.lit(2) * F.col("__s") + F.col("__c") + 1))
        .cast("long").alias("__s2p"))
    auc = ((F.col("__s2p").cast("double")
            - F.col("n_pos") * (F.col("n_pos") + 1))
           / (F.lit(2.0) * F.col("n_pos")
              * (F.col("n") - F.col("n_pos"))))
    return agg.select(
        "n", "n_pos", (F.col("n") - F.col("n_pos")).alias("n_neg"),
        F.when((F.col("n_pos") > 0) & (F.col("n") > F.col("n_pos")),
               pin(auc)).alias("auc"))


@query(
    "q243_roc_auc",
    oracle=f"""
    WITH s AS (
      SELECT CAST(l_discount AS DOUBLE) AS v,
             CAST(l_returnflag = 'R' AS INT) AS y
      FROM lineitem
      WHERE l_discount IS NOT NULL
    ),
    r AS (
      SELECT y, 2 * rank() OVER (ORDER BY v)
               + count(*) OVER (PARTITION BY v) - 1 AS r2
      FROM s
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS n_pos,
             CAST(sum(CASE WHEN y = 1 THEN r2 ELSE 0 END) AS BIGINT)
               AS s2p
      FROM r
    )
    SELECT n, n_pos, n - n_pos AS n_neg,
           CASE WHEN n_pos > 0 AND n > n_pos THEN
             {pin_sql("(CAST(s2p AS DOUBLE) - n_pos * (n_pos + 1))"
                      " / (2.0 * n_pos * (n - n_pos))")}
           END AS auc
    FROM agg
    """,
)
def q243_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUC of the discount 'score' ranking the returned flag — one
    exact-integer Mann–Whitney row, value-hash-checked against the
    oracle's window-rank formulation."""
    li = load_table(spark, sf_dir, "lineitem")
    return roc_auc(li, F.col("l_discount"),
                   (F.col("l_returnflag") == "R").cast("int"))


# ---------------------------------------------------------------------------
# q244 — Cohen's kappa: chance-corrected agreement between two
# annotators — what a labeling pipeline reports before trusting its
# raters (raw agreement overstates quality whenever the label
# distribution is skewed). One contingency aggregate; κ is a single
# pinned double over exact integers.
# ---------------------------------------------------------------------------


def cohens_kappa(df: DataFrame, rater_a: Column,
                 rater_b: Column) -> DataFrame:
    """One-row (n, agree, chance_cross, kappa):
    κ = (p_o − p_e)/(1 − p_e) = (agree·n − Σ_i row_i·col_i)
    / (n² − Σ_i row_i·col_i) with row/col the raters' marginal counts
    — all exact BIGINTs from one (a, b) contingency group-by (cells
    bounded by the label-space product, never by data), the marginal
    cross term from the tiny cell table. Degenerate p_e = 1 (both
    raters constant and equal) reports κ NULL-by-contract."""
    cells = (df.select(rater_a.cast("string").alias("__a"),
                       rater_b.cast("string").alias("__b"))
             .groupBy("__a", "__b")
             .agg(F.count(F.lit(1)).alias("__c")))
    ra = cells.groupBy("__a").agg(F.sum("__c").alias("__ra"))
    rb = cells.groupBy("__b").agg(F.sum("__c").alias("__rb"))
    cross = (ra.join(rb, F.col("__a") == F.col("__b"))
             .agg(F.sum(F.col("__ra") * F.col("__rb"))
                  .cast("long").alias("chance_cross")))
    tot = cells.agg(
        F.sum("__c").cast("long").alias("n"),
        F.sum(F.when(F.col("__a") == F.col("__b"), F.col("__c"))
              .otherwise(0)).cast("long").alias("agree"))
    out = tot.join(F.broadcast(cross), how="cross")
    kappa = ((F.col("agree").cast("double") * F.col("n")
              - F.col("chance_cross"))
             / (F.col("n").cast("double") * F.col("n")
                - F.col("chance_cross")))
    return out.select(
        "n", "agree", "chance_cross",
        F.when(F.col("n") * F.col("n") > F.col("chance_cross"),
               pin(kappa)).alias("kappa"))


@query(
    "q244_cohens_kappa",
    oracle=f"""
    WITH s AS (
      SELECT CASE WHEN n_chars < 200 THEN 'short'
                  WHEN n_chars < 1000 THEN 'mid' ELSE 'long' END AS a,
             CASE WHEN length(text) < 220 THEN 'short'
                  WHEN length(text) < 900 THEN 'mid' ELSE 'long' END
               AS b
      FROM documents
    ),
    cells AS (
      SELECT a, b, CAST(count(*) AS BIGINT) AS c FROM s GROUP BY 1, 2
    ),
    ra AS (SELECT a, sum(c) AS ra FROM cells GROUP BY a),
    rb AS (SELECT b, sum(c) AS rb FROM cells GROUP BY b),
    cross_t AS (
      SELECT CAST(sum(ra.ra * rb.rb) AS BIGINT) AS chance_cross
      FROM ra JOIN rb ON ra.a = rb.b
    ),
    tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT)
               AS agree
      FROM cells
    )
    SELECT n, agree, chance_cross,
           CASE WHEN n * n > chance_cross THEN
             {pin_sql("(CAST(agree AS DOUBLE) * n - chance_cross)"
                      " / (CAST(n AS DOUBLE) * n - chance_cross)")}
           END AS kappa
    FROM tot, cross_t
    """,
)
def q244_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """κ between two synthetic document raters (char-count buckets vs
    raw-length buckets — correlated but not identical, so κ lands
    strictly between 0 and 1) — every value exact-integer-derived and
    value-hash-checked."""
    docs = load_table(spark, sf_dir, "documents")
    bucket_a = (F.when(F.col("n_chars") < 200, "short")
                .when(F.col("n_chars") < 1000, "mid")
                .otherwise("long"))
    bucket_b = (F.when(F.length("text") < 220, "short")
                .when(F.length("text") < 900, "mid")
                .otherwise("long"))
    return cohens_kappa(docs, bucket_a, bucket_b)


# ---------------------------------------------------------------------------
# Round-8 pre-built candidates, registered in round 9 (q245-q247):
# their DuckDB oracles were drafted and driver-gate-compared at two SFs
# in tests/test_round9_candidates.py a round BEFORE registration, so
# the registry edit below carries zero new exactness risk.
# ---------------------------------------------------------------------------


def conformal_quantile(df: DataFrame, score: Column,
                       alpha: float = 0.1) -> DataFrame:
    """One-row (n, k, qhat): the split-conformal calibration threshold
    — the ⌈(n+1)(1−α)⌉-th smallest nonconformity score (Vovk et al.;
    the finite-sample-coverage quantile every conformal predictor
    computes on its calibration split). An EXACT order statistic, read
    off the distributed ordinal spans like q241's quartiles — no sort,
    no interpolation (the ceil index IS the guarantee; interpolating
    would break coverage). k > n (α too small for the sample) reports
    qhat NULL-by-contract: no finite threshold gives the requested
    coverage."""

    from auto_ml_platform_with_timeseries_data_spark.operators.profile import (
        _ordinal_spans,
    )

    lv = df.select(F.lit(0).alias("__ci"),
                   score.cast("double").alias("__v")).filter(
        F.col("__v").isNotNull())
    spans = _ordinal_spans(lv)
    n_df = spans.agg(F.sum("__c").cast("long").alias("n"))
    k = F.ceil((F.col("n") + 1) * F.lit(1.0 - alpha)).cast("long")
    tgt = n_df.select("n", k.alias("k"))
    hit = (spans.join(
        F.broadcast(tgt),
        (F.col("__s") < F.col("k")) &
        (F.col("k") <= F.col("__s") + F.col("__c")))
        .select("n", "k", F.col("__v").alias("qhat")))
    return (tgt.join(hit.select("k", "qhat"), "k", "left")
            .select("n", "k", "qhat"))


def brier_decomposition(df: DataFrame, prob: Column, label: Column,
                        bins: int = 10) -> DataFrame:
    """One-row (n, reliability, resolution, uncertainty, brier) — the
    Murphy (1973) decomposition over `bins` equal-width probability
    bins: REL = Σ n_b(p̄_b − ō_b)²/N (calibration error — the term a
    recalibration removes), RES = Σ n_b(ō_b − ō)²/N (discrimination),
    UNC = ō(1 − ō), Brier = REL − RES + UNC. Counts and sums are exact
    integers from one bin-keyed aggregate (probabilities quantize to
    ppm once); the four outputs are single double expressions over
    those integers, pinned at 1e-6. NOTE: with binned p̄_b this is the
    standard binned estimate — Brier here equals the decomposition
    identity, not the per-sample mean squared error (they differ by
    within-bin variance; the docstringed identity is what the three
    terms reconcile to exactly)."""
    p_ppm = F.floor(prob * 1e6 + F.lit(0.5)).cast("long")
    b = F.least(F.floor(prob * bins).cast("int"), F.lit(bins - 1))
    src = df.select(p_ppm.alias("__p"), b.alias("__b"),
                    label.cast("long").alias("__y")).filter(
        F.col("__p").isNotNull() & F.col("__y").isNotNull())
    cells = (src.groupBy("__b")
             .agg(F.count(F.lit(1)).cast("long").alias("__n"),
                  F.sum("__p").cast("long").alias("__sp"),
                  F.sum("__y").cast("long").alias("__sy")))
    tot = cells.agg(F.sum("__n").cast("long").alias("n"),
                    F.sum("__sy").cast("long").alias("__ty"))
    j = cells.crossJoin(F.broadcast(tot))
    nb = F.col("__n").cast("double")
    pbar = F.col("__sp").cast("double") / F.lit(1e6) / nb
    obar_b = F.col("__sy").cast("double") / nb
    obar = F.col("__ty").cast("double") / F.col("n")
    terms = j.agg(
        F.max("n").alias("n"),
        F.max(F.col("__ty").cast("double") / F.col("n")).alias("__ob"),
        F.sum(nb * (pbar - obar_b) * (pbar - obar_b)).alias("__rel"),
        F.sum(nb * (obar_b - obar) * (obar_b - obar)).alias("__res"))
    rel = F.col("__rel") / F.col("n")
    res = F.col("__res") / F.col("n")
    unc = F.col("__ob") * (1 - F.col("__ob"))
    return terms.select(
        "n", pin(rel).alias("reliability"), pin(res).alias("resolution"),
        pin(unc).alias("uncertainty"),
        pin(rel - res + unc).alias("brier"))


def roc_auc_by_group(df: DataFrame, group_col: str, score: Column,
                     label: Column) -> DataFrame:
    """(group, n, n_pos, n_neg, auc) — q243's tie-corrected
    Mann–Whitney AUC per group. Groups are numerous and small (the
    per-entity evaluation shape), so per-group rank windows are the
    canonical Spark plan here: ONE shuffle keyed by group, then
    per-partition sorted streaming — 2×average ranks stay exact
    BIGINTs via 2·rank + tiecount − 1 (the q217/q243 identity).
    Degenerate groups (single-class) report auc NULL-by-contract."""
    src = df.select(F.col(group_col).alias("__g"),
                    score.cast("double").alias("__v"),
                    label.cast("int").alias("__y")).filter(
        F.col("__v").isNotNull() & F.col("__y").isNotNull())
    wr = Window.partitionBy("__g").orderBy("__v")
    wt = Window.partitionBy("__g", "__v")
    r2 = (F.lit(2) * F.rank().over(wr)
          + F.count(F.lit(1)).over(wt) - 1).cast("long")
    agg = (src.withColumn("__r2", r2)
           .groupBy("__g")
           .agg(F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("__y").cast("long").alias("n_pos"),
                F.sum(F.when(F.col("__y") == 1, F.col("__r2"))
                      .otherwise(0)).cast("long").alias("__s2p")))
    auc = ((F.col("__s2p").cast("double")
            - F.col("n_pos") * (F.col("n_pos") + 1))
           / (F.lit(2.0) * F.col("n_pos")
              * (F.col("n") - F.col("n_pos"))))
    return agg.select(
        F.col("__g").alias(group_col), "n", "n_pos",
        (F.col("n") - F.col("n_pos")).alias("n_neg"),
        F.when((F.col("n_pos") > 0) & (F.col("n") > F.col("n_pos")),
               pin(auc)).alias("auc"))


@query(
    "q245_conformal_quantile",
    oracle="""
    WITH s AS (
      SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem
      WHERE l_extendedprice IS NOT NULL
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s),
    t AS (SELECT n, CAST(ceil((n + 1) * 0.9) AS BIGINT) AS k FROM nn),
    r AS (SELECT v, row_number() OVER (ORDER BY v) AS i FROM s)
    SELECT t.n, t.k, (SELECT v FROM r WHERE r.i = t.k) AS qhat FROM t
    """,
)
def q245_conformal_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal calibration threshold at α = 0.1 over the
    extended-price nonconformity scores: the exact ⌈(n+1)·0.9⌉-th order
    statistic read off distributed ordinal spans (no sort, no
    interpolation — interpolating would break the coverage guarantee),
    vs the oracle's row_number formulation."""
    li = load_table(spark, sf_dir, "lineitem")
    return conformal_quantile(li, F.col("l_extendedprice"), alpha=0.1)


@query(
    "q246_brier_decomposition",
    oracle=f"""
    WITH s AS (
      SELECT CAST(floor(l_discount * 10 * 1e6 + 0.5) AS BIGINT) AS p,
             least(CAST(floor(l_discount * 10 * 10) AS INT), 9) AS b,
             CAST(l_returnflag = 'R' AS BIGINT) AS y
      FROM lineitem
      WHERE l_discount IS NOT NULL
    ),
    cells AS (
      SELECT b, CAST(count(*) AS BIGINT) AS nb,
             CAST(sum(p) AS BIGINT) AS sp, CAST(sum(y) AS BIGINT) AS sy
      FROM s GROUP BY b
    ),
    tot AS (SELECT CAST(sum(nb) AS BIGINT) AS n,
                   CAST(sum(sy) AS BIGINT) AS ty FROM cells),
    terms AS (
      SELECT max(n) AS n,
             max(CAST(ty AS DOUBLE) / n) AS ob,
             sum(CAST(nb AS DOUBLE)
                 * (CAST(sp AS DOUBLE) / 1e6 / CAST(nb AS DOUBLE)
                    - CAST(sy AS DOUBLE) / CAST(nb AS DOUBLE))
                 * (CAST(sp AS DOUBLE) / 1e6 / CAST(nb AS DOUBLE)
                    - CAST(sy AS DOUBLE) / CAST(nb AS DOUBLE))) AS rel,
             sum(CAST(nb AS DOUBLE)
                 * (CAST(sy AS DOUBLE) / CAST(nb AS DOUBLE)
                    - CAST(ty AS DOUBLE) / n)
                 * (CAST(sy AS DOUBLE) / CAST(nb AS DOUBLE)
                    - CAST(ty AS DOUBLE) / n)) AS res
      FROM cells, tot
    )
    SELECT n,
           {pin_sql("rel / n")} AS reliability,
           {pin_sql("res / n")} AS resolution,
           {pin_sql("ob * (1 - ob)")} AS uncertainty,
           {pin_sql("(rel / n - res / n + ob * (1 - ob))")}
             AS brier
    FROM terms
    """,
)
def q246_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the 10×-discount 'probability' against
    the returned flag over 10 equal-width bins — reliability,
    resolution, uncertainty, and their Brier identity, all derived from
    exact bin-keyed integer sums and pinned at 1e-6."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_discount").isNotNull())
    return brier_decomposition(
        li, F.col("l_discount") * 10,
        (F.col("l_returnflag") == "R").cast("int"), bins=10)


@query(
    "q247_group_auc",
    oracle=f"""
    WITH s AS (
      SELECT user_id AS g, CAST(value AS DOUBLE) AS v,
             CAST(event_id % 3 = 0 AS INT) AS y
      FROM events WHERE value IS NOT NULL
    ),
    r AS (
      SELECT g, y,
             2 * rank() OVER (PARTITION BY g ORDER BY v)
             + count(*) OVER (PARTITION BY g, v) - 1 AS r2
      FROM s
    ),
    agg AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS n_pos,
             CAST(sum(CASE WHEN y = 1 THEN r2 ELSE 0 END) AS BIGINT)
               AS s2p
      FROM r GROUP BY g
    )
    SELECT g AS user_id, n, n_pos, n - n_pos AS n_neg,
           CASE WHEN n_pos > 0 AND n > n_pos THEN
             {pin_sql("(CAST(s2p AS DOUBLE) - n_pos * (n_pos + 1))"
                      " / (2.0 * n_pos * (n - n_pos))")}
           END AS auc
    FROM agg
    """,
)
def q247_group_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user tie-corrected Mann-Whitney AUC of event value ranking
    the (event_id % 3 == 0) label — the numerous-small-groups
    evaluation shape (one group-keyed shuffle, per-partition rank
    windows); every (user, n, n_pos, n_neg, auc) row
    value-hash-checked."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull())
    return roc_auc_by_group(
        ev, "user_id", F.col("value"),
        (F.col("event_id") % 3 == 0).cast("int"))


# ---------------------------------------------------------------------------
# Round-9 extensions of the evaluation tier: calibration error (the
# number a recalibration pass actually reports), and the ranking
# metrics every retrieval / reranker training pipeline evaluates with
# (NDCG@k, MRR, average precision) — all exact-integer-derived with
# deterministic tiebreaks so the driver value hash covers them.
# ---------------------------------------------------------------------------


def calibration_error(df: DataFrame, prob: Column, label: Column,
                      bins: int = 10) -> DataFrame:
    """One-row (n, n_bins, ece, max_ce): expected calibration error
    ECE = Σ_b (n_b/N)·|p̄_b − ō_b| and the worst single bin, over
    `bins` equal-width probability bins (q246's cell table — counts
    and ppm-quantized probability sums are exact BIGINTs; the per-bin
    |gap| is one double expression over them, and the weighted sum
    spans ≤ `bins` cells). Pinned at 1e-6."""
    p_ppm = F.floor(prob * 1e6 + F.lit(0.5)).cast("long")
    b = F.least(F.floor(prob * bins).cast("int"), F.lit(bins - 1))
    src = df.select(p_ppm.alias("__p"), b.alias("__b"),
                    label.cast("long").alias("__y")).filter(
        F.col("__p").isNotNull() & F.col("__y").isNotNull())
    cells = (src.groupBy("__b")
             .agg(F.count(F.lit(1)).cast("long").alias("__n"),
                  F.sum("__p").cast("long").alias("__sp"),
                  F.sum("__y").cast("long").alias("__sy")))
    nb = F.col("__n").cast("double")
    gap = F.abs(F.col("__sp").cast("double") / F.lit(1e6) / nb
                - F.col("__sy").cast("double") / nb)
    agg = cells.agg(F.sum("__n").cast("long").alias("n"),
                    F.count(F.lit(1)).cast("long").alias("n_bins"),
                    F.sum(nb * gap).alias("__wce"),
                    F.max(gap).alias("__mce"))
    return agg.select(
        "n", "n_bins",
        pin(F.col("__wce") / F.col("n")).alias("ece"),
        pin(F.col("__mce")).alias("max_ce"))


@query(
    "q252_calibration_error",
    oracle=f"""
    WITH s AS (
      SELECT CAST(floor(l_discount * 10 * 1e6 + 0.5) AS BIGINT) AS p,
             least(CAST(floor(l_discount * 10 * 10) AS INT), 9) AS b,
             CAST(l_returnflag = 'R' AS BIGINT) AS y
      FROM lineitem
      WHERE l_discount IS NOT NULL
    ),
    cells AS (
      SELECT b, CAST(count(*) AS BIGINT) AS nb,
             CAST(sum(p) AS BIGINT) AS sp, CAST(sum(y) AS BIGINT) AS sy
      FROM s GROUP BY b
    ),
    agg AS (
      SELECT CAST(sum(nb) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_bins,
             sum(CAST(nb AS DOUBLE)
                 * abs(CAST(sp AS DOUBLE) / 1e6 / CAST(nb AS DOUBLE)
                       - CAST(sy AS DOUBLE) / CAST(nb AS DOUBLE)))
               AS wce,
             max(abs(CAST(sp AS DOUBLE) / 1e6 / CAST(nb AS DOUBLE)
                     - CAST(sy AS DOUBLE) / CAST(nb AS DOUBLE)))
               AS mce
      FROM cells
    )
    SELECT n, n_bins,
           {pin_sql("wce / n")} AS ece,
           {pin_sql("mce")} AS max_ce
    FROM agg
    """,
)
def q252_calibration_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ECE + max per-bin gap of the 10×-discount 'probability' against
    the returned flag (q246's fixture — the two queries together give
    the full calibration report: decomposition + the headline error
    number)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_discount").isNotNull())
    return calibration_error(
        li, F.col("l_discount") * 10,
        (F.col("l_returnflag") == "R").cast("int"), bins=10)


# NDCG position weights: W[i] = floor(1e9 / log2(i + 1)) precomputed in
# PYTHON and inlined as integer literals in BOTH engines — the q242
# discipline that keeps libm out of the result path entirely. DCG then
# accumulates as an exact BIGINT (gain · W[i]), order-free.
import math as _math  # noqa: E402

_NDCG_K = 5
_NDCG_W = [int(_math.floor(1e9 / _math.log2(i + 1)))
           for i in range(1, _NDCG_K + 1)]


def ndcg_at_k(df: DataFrame, group_col: str, score: Column,
              relevance: Column, k: int = _NDCG_K,
              id_col: str = "event_id") -> DataFrame:
    """(group, n, dcg_scaled, idcg_scaled, ndcg): NDCG@k per query
    group with gain 2^rel − 1, the ranking under (score DESC, id ASC)
    and the ideal ranking under (rel DESC, id ASC) — both total orders,
    so every rank is deterministic. Position weights are the
    precomputed integer constants _NDCG_W, so dcg/idcg are exact
    BIGINT sums (≤ k terms each) and ndcg is ONE pinned double ratio;
    groups with zero ideal gain report ndcg NULL-by-contract.

    Scale shape: one shuffle keyed by group feeds both rank windows
    (same partition key — two sorts, one exchange), the numerous-
    small-groups evaluation shape (q247)."""
    src = df.select(F.col(group_col).alias("__g"),
                    score.cast("double").alias("__v"),
                    relevance.cast("long").alias("__r"),
                    F.col(id_col).alias("__id")).filter(
        F.col("__v").isNotNull() & F.col("__r").isNotNull())
    gain = F.expr("cast(shiftleft(1, cast(__r as int)) as bigint) - 1")
    wr = Window.partitionBy("__g").orderBy(F.desc("__v"), F.asc("__id"))
    wi = Window.partitionBy("__g").orderBy(F.desc("__r"), F.asc("__id"))
    ranked = src.select(
        "__g", gain.alias("__gain"),
        F.row_number().over(wr).alias("__rk"),
        F.row_number().over(wi).alias("__ik"))

    def w_of(c: Column) -> Column:
        out = F.lit(0).cast("long")
        for i, w in enumerate(_NDCG_W):
            out = F.when(c == i + 1, F.lit(w).cast("long")).otherwise(out)
        return out

    dcg = F.sum(F.when(F.col("__rk") <= k,
                       F.col("__gain") * w_of(F.col("__rk")))
                .otherwise(0)).cast("long")
    idcg = F.sum(F.when(F.col("__ik") <= k,
                        F.col("__gain") * w_of(F.col("__ik")))
                 .otherwise(0)).cast("long")
    agg = ranked.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dcg.alias("dcg_scaled"), idcg.alias("idcg_scaled"))
    ndcg = F.col("dcg_scaled").cast("double") / F.col("idcg_scaled")
    return agg.select(
        F.col("__g").alias(group_col), "n", "dcg_scaled", "idcg_scaled",
        F.when(F.col("idcg_scaled") > 0,
               pin(ndcg)).alias("ndcg"))


def _ndcg_oracle() -> str:
    k = _NDCG_K
    w_case = " ".join(f"WHEN {i + 1} THEN {w}"
                      for i, w in enumerate(_NDCG_W))
    return f"""
    WITH s AS (
      SELECT user_id AS g, CAST(value AS DOUBLE) AS v,
             CAST(event_id % 4 AS BIGINT) AS r, event_id AS id
      FROM events WHERE value IS NOT NULL
    ),
    ranked AS (
      SELECT g, (CAST(1 AS BIGINT) << r) - 1 AS gain,
             row_number() OVER (PARTITION BY g
                                ORDER BY v DESC, id ASC) AS rk,
             row_number() OVER (PARTITION BY g
                                ORDER BY r DESC, id ASC) AS ik
      FROM s
    ),
    agg AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN rk <= {k} THEN gain *
                  (CASE rk {w_case} END) ELSE 0 END) AS BIGINT)
               AS dcg_scaled,
             CAST(sum(CASE WHEN ik <= {k} THEN gain *
                  (CASE ik {w_case} END) ELSE 0 END) AS BIGINT)
               AS idcg_scaled
      FROM ranked GROUP BY g
    )
    SELECT g AS user_id, n, dcg_scaled, idcg_scaled,
           CASE WHEN idcg_scaled > 0 THEN
             {pin_sql("CAST(dcg_scaled AS DOUBLE) / idcg_scaled")}
           END AS ndcg
    FROM agg
    """


@query("q253_ndcg_at_k", oracle=_ndcg_oracle())
def q253_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@5 per user over events: value ranks, event_id % 4 is the
    graded relevance (0-3). Integer-weight DCG — every
    (user, n, dcg, idcg, ndcg) row value-hash-checked with zero libm
    in the result path."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull())
    return ndcg_at_k(ev, "user_id", F.col("value"),
                     F.col("event_id") % 4)


def mrr(df: DataFrame, group_col: str, score: Column,
        label: Column, id_col: str = "event_id") -> DataFrame:
    """(group, n, first_pos_rank, rr): reciprocal rank of the first
    positive under the (score DESC, id ASC) total order — groups with
    no positive report NULL-by-contract. One group-keyed shuffle, one
    rank window, a min aggregate."""
    src = df.select(F.col(group_col).alias("__g"),
                    score.cast("double").alias("__v"),
                    label.cast("int").alias("__y"),
                    F.col(id_col).alias("__id")).filter(
        F.col("__v").isNotNull() & F.col("__y").isNotNull())
    wr = Window.partitionBy("__g").orderBy(F.desc("__v"), F.asc("__id"))
    ranked = src.select("__g", "__y",
                        F.row_number().over(wr).alias("__rk"))
    agg = ranked.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min(F.when(F.col("__y") == 1, F.col("__rk")))
        .cast("long").alias("first_pos_rank"))
    rr = F.lit(1.0) / F.col("first_pos_rank")
    return agg.select(
        F.col("__g").alias(group_col), "n", "first_pos_rank",
        F.when(F.col("first_pos_rank").isNotNull(),
               pin(rr)).alias("rr"))


@query(
    "q254_mrr",
    oracle=f"""
    WITH s AS (
      SELECT user_id AS g, CAST(value AS DOUBLE) AS v,
             CAST(event_id % 3 = 0 AS INT) AS y, event_id AS id
      FROM events WHERE value IS NOT NULL
    ),
    ranked AS (
      SELECT g, y, row_number() OVER (PARTITION BY g
                                      ORDER BY v DESC, id ASC) AS rk
      FROM s
    ),
    agg AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n,
             CAST(min(CASE WHEN y = 1 THEN rk END) AS BIGINT)
               AS first_pos_rank
      FROM ranked GROUP BY g
    )
    SELECT g AS user_id, n, first_pos_rank,
           CASE WHEN first_pos_rank IS NOT NULL THEN
             {pin_sql("1.0 / first_pos_rank")}
           END AS rr
    FROM agg
    """,
)
def q254_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-reciprocal-rank inputs per user (the per-group rr rows a
    global MRR averages): first (event_id % 3 == 0) positive under the
    value ranking — every row value-hash-checked."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull())
    return mrr(ev, "user_id", F.col("value"),
               (F.col("event_id") % 3 == 0).cast("int"))


def average_precision_by_group(df: DataFrame, group_col: str,
                               score: Column, label: Column,
                               id_col: str = "event_id") -> DataFrame:
    """(group, n, n_pos, ap): average precision per group under the
    (score DESC, id ASC) total order. Each positive's precision@rank
    quantizes to an exact BIGINT ((cum_pos·1e9) div rank — both
    operands non-negative, so Spark's div and DuckDB's // agree), and
    AP sums those integers ORDER-FREE before one final pinned divide —
    no float accumulation anywhere (the per-subspace-ppm lesson from
    the IVF-PQ certificates). Groups with no positive report
    NULL-by-contract."""
    src = df.select(F.col(group_col).alias("__g"),
                    score.cast("double").alias("__v"),
                    label.cast("long").alias("__y"),
                    F.col(id_col).alias("__id")).filter(
        F.col("__v").isNotNull() & F.col("__y").isNotNull())
    wr = Window.partitionBy("__g").orderBy(F.desc("__v"), F.asc("__id"))
    ranked = src.select(
        "__g", "__y",
        F.row_number().over(wr).alias("__rk"),
        F.sum("__y").over(
            wr.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long").alias("__cum"))
    term = F.expr("(__cum * 1000000000) div __rk")
    agg = (ranked.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__y").cast("long").alias("n_pos"),
        F.sum(F.when(F.col("__y") == 1, term).otherwise(0))
        .cast("long").alias("__s")))
    ap = F.col("__s").cast("double") / F.lit(1e9) / F.col("n_pos")
    return agg.select(
        F.col("__g").alias(group_col), "n", "n_pos",
        F.when(F.col("n_pos") > 0,
               pin(ap)).alias("ap"))


@query(
    "q255_average_precision",
    oracle=f"""
    WITH s AS (
      SELECT user_id AS g, CAST(value AS DOUBLE) AS v,
             CAST(event_id % 3 = 0 AS BIGINT) AS y, event_id AS id
      FROM events WHERE value IS NOT NULL
    ),
    ranked AS (
      SELECT g, y,
             row_number() OVER (PARTITION BY g
                                ORDER BY v DESC, id ASC) AS rk,
             sum(y) OVER (PARTITION BY g ORDER BY v DESC, id ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum
      FROM s
    ),
    agg AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS n_pos,
             CAST(sum(CASE WHEN y = 1
                  THEN (cum * 1000000000) // rk ELSE 0 END) AS BIGINT)
               AS s
      FROM ranked GROUP BY g
    )
    SELECT g AS user_id, n, n_pos,
           CASE WHEN n_pos > 0 THEN
             {pin_sql("CAST(s AS DOUBLE) / 1e9 / n_pos")}
           END AS ap
    FROM agg
    """,
)
def q255_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision per user (value ranking the event_id % 3 == 0
    positives): precision-at-each-positive quantized to exact integers
    before the order-free sum — every row value-hash-checked."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull())
    return average_precision_by_group(
        ev, "user_id", F.col("value"),
        (F.col("event_id") % 3 == 0).cast("long"))


def decile_lift(df: DataFrame, score: Column, label: Column,
                nbins: int = 10) -> DataFrame:
    """(decile, n, n_pos, pos_rate, lift): the gains/lift table model
    validation reads before setting a targeting cutoff. Deciles are
    VALUE-KEYED: every row of one distinct score value lands in the
    decile of the value's START ordinal ((s·nbins) div N over the
    distributed ordinal spans) — deterministic under ties, unlike
    ntile's arbitrary tie splitting, and computed without any global
    sort (the q241/q245 span machinery; bin sizes deviate from N/10
    only at value boundaries). Counts are exact BIGINTs; pos_rate and
    lift = (pos_b/n_b)/(pos/N) are single pinned doubles; an
    all-negative input reports lift NULL-by-contract."""
    from auto_ml_platform_with_timeseries_data_spark.operators.profile import (
        _ordinal_spans,
    )

    lv = df.select(F.lit(0).alias("__ci"),
                   score.cast("double").alias("__v"),
                   label.cast("long").alias("__y")).filter(
        F.col("__v").isNotNull() & F.col("__y").isNotNull())
    spans = _ordinal_spans(lv.select("__ci", "__v"))
    pos_v = lv.groupBy("__v").agg(F.sum("__y").cast("long").alias("__pv"))
    j = spans.join(pos_v, "__v")
    tot = j.agg(F.sum("__c").cast("long").alias("__tn"),
                F.sum("__pv").cast("long").alias("__tp"))
    binned = (j.crossJoin(F.broadcast(tot))
              .withColumn("decile",
                          F.expr(f"cast((__s * {nbins}) div __tn as int)")))
    agg = (binned.groupBy("decile")
           .agg(F.sum("__c").cast("long").alias("n"),
                F.sum("__pv").cast("long").alias("n_pos"),
                F.max("__tn").alias("__tn"), F.max("__tp").alias("__tp")))
    rate = F.col("n_pos").cast("double") / F.col("n")
    lift = rate / (F.col("__tp").cast("double") / F.col("__tn"))
    return agg.select(
        "decile", "n", "n_pos", pin(rate).alias("pos_rate"),
        F.when(F.col("__tp") > 0, pin(lift)).alias("lift"))


@query(
    "q256_decile_lift",
    oracle=f"""
    WITH s AS (
      SELECT CAST(l_extendedprice AS DOUBLE) AS v,
             CAST(l_returnflag = 'R' AS BIGINT) AS y
      FROM lineitem WHERE l_extendedprice IS NOT NULL
    ),
    vv AS (
      SELECT v, CAST(count(*) AS BIGINT) AS c,
             CAST(sum(y) AS BIGINT) AS pv
      FROM s GROUP BY v
    ),
    sp AS (
      SELECT v, c, pv,
             CAST(coalesce(sum(c) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS BIGINT) AS st
      FROM vv
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS tn,
                   CAST(sum(pv) AS BIGINT) AS tp FROM vv),
    agg AS (
      SELECT CAST((st * 10) // tn AS INT) AS decile,
             CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(pv) AS BIGINT) AS n_pos
      FROM sp, tot GROUP BY 1
    )
    SELECT decile, n, n_pos,
           {pin_sql("CAST(n_pos AS DOUBLE) / n")}
             AS pos_rate,
           CASE WHEN tp > 0 THEN
             {pin_sql("(CAST(n_pos AS DOUBLE) / n)"
                      " / (CAST(tp AS DOUBLE) / tn)")}
           END AS lift
    FROM agg, tot
    """,
)
def q256_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lift table over price deciles: does extended price 'score' the
    returned flag? Ten value-keyed decile rows, counts exact,
    rate/lift pinned — each value-hash-checked."""
    li = load_table(spark, sf_dir, "lineitem")
    return decile_lift(li, F.col("l_extendedprice"),
                       (F.col("l_returnflag") == "R").cast("long"))


def threshold_sweep(df: DataFrame, score: Column,
                    label: Column) -> DataFrame:
    """(threshold, tp, fp, fn, tn, f1, youden_j) at EVERY distinct
    score value (predict positive iff score ≥ threshold) — the exact
    sweep a deployment reads to pick an operating point, and the full
    ROC/PR curve's raw points in one pass. The corpus reduces to
    per-distinct-value (pos, neg) counts in one map-side-combined
    group-by; cumulative TP/FP walk the value table top-down (the KS
    window shape — bounded by the score domain, not the data). Counts
    exact BIGINTs; f1/J single pinned doubles; an all-one-class input
    reports the undefined metric NULL-by-contract."""
    src = df.select(score.cast("double").alias("__v"),
                    label.cast("long").alias("__y")).filter(
        F.col("__v").isNotNull() & F.col("__y").isNotNull())
    cells = src.groupBy("__v").agg(
        F.sum("__y").cast("long").alias("__cp"),
        F.sum(F.lit(1) - F.col("__y")).cast("long").alias("__cn"))
    w = Window.orderBy(F.desc("__v")).rowsBetween(
        Window.unboundedPreceding, 0)
    wt = Window.partitionBy()
    m = cells.select(
        F.col("__v").alias("threshold"),
        F.sum("__cp").over(w).alias("tp"),
        F.sum("__cn").over(w).alias("fp"),
        F.sum("__cp").over(wt).alias("__p"),
        F.sum("__cn").over(wt).alias("__n"))
    fn = F.col("__p") - F.col("tp")
    tn = F.col("__n") - F.col("fp")
    f1d = 2 * F.col("tp") + F.col("fp") + fn
    f1 = F.when(f1d > 0, pin(2 * F.col("tp") / f1d))
    j = F.when((F.col("__p") > 0) & (F.col("__n") > 0),
               pin(F.col("tp").cast("double") / F.col("__p")
                   - F.col("fp").cast("double") / F.col("__n")))
    return m.select("threshold", "tp", "fp", fn.alias("fn"),
                    tn.alias("tn"), f1.alias("f1"),
                    j.alias("youden_j"))


@query(
    "q261_threshold_sweep",
    oracle=f"""
    WITH s AS (
      SELECT CAST(l_discount AS DOUBLE) AS v,
             CAST(l_returnflag = 'R' AS BIGINT) AS y
      FROM lineitem WHERE l_discount IS NOT NULL
    ),
    c AS (
      SELECT v, CAST(sum(y) AS BIGINT) AS cp,
             CAST(sum(1 - y) AS BIGINT) AS cn
      FROM s GROUP BY v
    ),
    m AS (
      SELECT v AS threshold,
             sum(cp) OVER (ORDER BY v DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
             sum(cn) OVER (ORDER BY v DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp,
             sum(cp) OVER () AS p, sum(cn) OVER () AS nn
      FROM c
    )
    SELECT threshold, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(p - tp AS BIGINT) AS fn, CAST(nn - fp AS BIGINT) AS tn,
           CASE WHEN 2 * tp + fp + (p - tp) > 0 THEN
             {pin_sql("2 * tp / CAST(2 * tp + fp + (p - tp) AS DOUBLE)")}
           END AS f1,
           CASE WHEN p > 0 AND nn > 0 THEN
             {pin_sql("(CAST(tp AS DOUBLE) / p - CAST(fp AS DOUBLE) / nn)")}
           END AS youden_j
    FROM m
    """,
)
def q261_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full operating-point sweep of 'discount predicts returns':
    one row per distinct l_discount threshold with exact confusion
    counts plus pinned F1 / Youden's J — every value hash-checked
    (the curve a deployment reads to pick its cutoff)."""
    li = load_table(spark, sf_dir, "lineitem")
    return threshold_sweep(li, F.col("l_discount"),
                           (F.col("l_returnflag") == "R").cast("long"))


# ---------------------------------------------------------------------------
# Round-11 registration candidates, fresh batch — agreement tier
# (tests/test_round11_prebuilt.py): Fleiss' kappa (q244's Cohen kappa
# generalized past two raters) and quadratic-weighted kappa (ordinal
# categories where near-misses shouldn't count as full disagreement).
# ---------------------------------------------------------------------------


def fleiss_kappa(df: DataFrame, item_col: str, rating: Column,
                 nraters: int) -> DataFrame:
    """One-row (n_items, n_raters, k_categories, p_bar, p_e, kappa):
    Fleiss' kappa — chance-corrected agreement when EVERY item gets
    `nraters` categorical ratings (annotator pools, label triplets).
    Items without exactly `nraters` rows are dropped by contract.

    P_i per item = (Σ_j c_ij² − n)/(n(n−1)); the corpus reduces to
    (item, category) count cells, so Σ_i Σ_j c_ij² is one exact
    integer and P̄ = (S₂ − N·n)/(N·n·(n−1)) one division. P̄_e = Σ_j
    (m_j/(N·n))² comes from the exact category marginals at
    DECIMAL(38,0)/HUGEINT width (m_j² tops int64 past ~3e9 ratings).
    kappa = (P̄−P̄e)/(1−P̄e); P̄e = 1 (all ratings one category)
    reports kappa NULL-by-contract."""
    src = df.select(F.col(item_col).alias("__i"),
                    rating.alias("__r")).filter(
        F.col("__i").isNotNull() & F.col("__r").isNotNull())
    counts = src.groupBy("__i").agg(F.count(F.lit(1)).alias("__cnt"))
    full = src.join(counts.filter(F.col("__cnt") == nraters)
                    .select("__i"), "__i")
    cells = full.groupBy("__i", "__r").agg(
        F.count(F.lit(1)).cast("long").alias("__c"))
    marg = cells.groupBy("__r").agg(
        F.sum("__c").cast("long").alias("__m"))
    magg = marg.agg(
        F.count(F.lit(1)).cast("long").alias("k_categories"),
        F.sum(dec_sq(F.col("__m"))).alias("__m2"),
        F.sum("__m").cast("long").alias("__tot"))
    iagg = cells.agg(
        F.countDistinct("__i").cast("long").alias("n_items"),
        F.sum(dec_sq(F.col("__c"))).alias("__s2"))
    j = iagg.crossJoin(F.broadcast(magg))
    ni = F.col("n_items").cast("double")
    nn = float(nraters)
    p_bar = ((F.col("__s2").cast("double") - ni * nn)
             / (ni * nn * (nn - 1)))
    p_e = (F.col("__m2").cast("double")
           / (F.col("__tot").cast("double") * F.col("__tot")))
    ok = (F.col("n_items") > 0) & (p_e < 1)
    return j.select(
        "n_items", F.lit(nraters).cast("long").alias("n_raters"),
        "k_categories",
        F.when(F.col("n_items") > 0, pin(p_bar)).alias("p_bar"),
        F.when(F.col("n_items") > 0, pin(p_e)).alias("p_e"),
        F.when(ok, pin((p_bar - p_e) / (1 - p_e))).alias("kappa"))


def weighted_kappa(df: DataFrame, rater_a: Column,
                   rater_b: Column) -> DataFrame:
    """One-row (n, k_a, k_b, kappa_w): quadratic-weighted kappa over
    two INTEGER ordinal ratings — q244's Cohen kappa with near-misses
    penalized by (i−j)² instead of all-or-nothing (the standard for
    ordinal grading agreement). Exactness is total: with w_ij = (i−j)²,
    Σw·O (observed) and Σ_ij (i−j)²·r_i·c_j (N·expected) are both
    exact integers at DECIMAL(38,0)/HUGEINT width, so
    kappa_w = 1 − Σw·O·N / Σ(i−j)²·r_i·c_j is ONE double division of
    two exact integers, pinned once. A diagonal-only expectation
    (either rater constant) reports NULL-by-contract."""
    src = df.select(rater_a.cast("long").alias("__a"),
                    rater_b.cast("long").alias("__b")).filter(
        F.col("__a").isNotNull() & F.col("__b").isNotNull())
    cells = src.groupBy("__a", "__b").agg(
        F.count(F.lit(1)).cast("long").alias("__o"))
    d = F.col("__a") - F.col("__b")
    obs = cells.agg(
        F.sum("__o").cast("long").alias("n"),
        F.countDistinct("__a").cast("long").alias("k_a"),
        F.countDistinct("__b").cast("long").alias("k_b"),
        F.sum(dec(d * d) * dec(F.col("__o"))).alias("__wo"))
    ra = cells.groupBy("__a").agg(F.sum("__o").cast("long").alias("__r"))
    cb = cells.groupBy("__b").agg(F.sum("__o").cast("long").alias("__c"))
    dd = F.col("__a") - F.col("__b")
    # k_a × k_b marginal grid — bounded by the ordinal category count
    # by contract, so the small side broadcasts explicitly
    we = (ra.crossJoin(F.broadcast(cb))
          .agg(F.sum(dec(dd * dd) * dec(F.col("__r")) * dec(F.col("__c")))
               .alias("__we")))
    j = obs.crossJoin(F.broadcast(we))
    ratio = (F.col("__wo").cast("double") * F.col("n")
             / F.col("__we").cast("double"))
    return j.select(
        "n", "k_a", "k_b",
        F.when((F.col("n") > 0) & (F.col("__we") > 0),
               pin(1 - ratio)).alias("kappa_w"))


@query(
    "q285_fleiss_kappa",
    oracle=f"""
    WITH src AS (
      SELECT l_orderkey AS i, l_returnflag AS r
      FROM lineitem WHERE l_linenumber <= 3
    ),
    fl AS (
      SELECT i, r FROM src
      WHERE i IN (SELECT i FROM src GROUP BY i HAVING count(*) = 3)
    ),
    cells AS (
      SELECT i, r, CAST(count(*) AS BIGINT) AS c FROM fl GROUP BY i, r
    ),
    marg AS (SELECT r, CAST(sum(c) AS BIGINT) AS m FROM cells GROUP BY r),
    magg AS (
      SELECT CAST(count(*) AS BIGINT) AS kc,
             sum(CAST(m AS HUGEINT) * m) AS m2,
             CAST(sum(m) AS BIGINT) AS tot
      FROM marg
    ),
    iagg AS (
      SELECT CAST(count(DISTINCT i) AS BIGINT) AS ni,
             sum(CAST(c AS HUGEINT) * c) AS s2
      FROM cells
    ),
    ex AS (
      SELECT ni, kc,
             (CAST(s2 AS DOUBLE) - CAST(ni AS DOUBLE) * 3.0)
             / (CAST(ni AS DOUBLE) * 3.0 * 2.0) AS p_bar,
             CAST(m2 AS DOUBLE) / (CAST(tot AS DOUBLE) * tot) AS p_e
      FROM iagg, magg
    )
    SELECT ni AS n_items, CAST(3 AS BIGINT) AS n_raters,
           kc AS k_categories,
           CASE WHEN ni > 0 THEN {pin_sql("p_bar")} END
             AS p_bar,
           CASE WHEN ni > 0 THEN {pin_sql("p_e")} END
             AS p_e,
           CASE WHEN ni > 0 AND p_e < 1 THEN
             {pin_sql("(p_bar - p_e) / (1 - p_e)")}
           END AS kappa
    FROM ex
    """,
)
def q285_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-rater agreement: treat each order's first three line
    items as three 'raters' labeling the order with a return flag —
    Fleiss' kappa over orders with a full panel, one hash-checked
    (n_items, n_raters, k_categories, p_bar, p_e, kappa) row."""
    li = load_table(spark, sf_dir, "lineitem")
    src = li.filter(F.col("l_linenumber") <= 3).select(
        F.col("l_orderkey").alias("item"),
        F.col("l_returnflag").alias("rating"))
    return fleiss_kappa(src, "item", F.col("rating"), nraters=3)


@query(
    "q286_weighted_kappa",
    oracle=f"""
    WITH s AS (
      SELECT CAST(floor(l_quantity / 10) AS BIGINT) AS a,
             CAST(least(floor(l_extendedprice / 20000), 5) AS BIGINT)
               AS b
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    ),
    cells AS (
      SELECT a, b, CAST(count(*) AS BIGINT) AS o FROM s GROUP BY a, b
    ),
    obs AS (
      SELECT CAST(sum(o) AS BIGINT) AS n,
             CAST(count(DISTINCT a) AS BIGINT) AS ka,
             CAST(count(DISTINCT b) AS BIGINT) AS kb,
             sum(CAST((a - b) * (a - b) AS HUGEINT) * o) AS wo
      FROM cells
    ),
    ra AS (SELECT a, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY a),
    cb AS (SELECT b, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY b),
    we AS (
      SELECT sum(CAST((a - b) * (a - b) AS HUGEINT) * r * c) AS we
      FROM ra, cb
    )
    SELECT n, ka AS k_a, kb AS k_b,
           CASE WHEN n > 0 AND we > 0 THEN
             {pin_sql("(1 - CAST(wo AS DOUBLE) * n / CAST(we AS DOUBLE))")}
           END AS kappa_w
    FROM obs, we
    """,
)
def q286_weighted_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quadratic-weighted kappa between the quantity decile and the
    price band — ordinal agreement where near-misses cost less than
    far misses. One hash-checked (n, k_a, k_b, kappa_w) row."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").isNotNull()
        & F.col("l_extendedprice").isNotNull())
    return weighted_kappa(
        li, F.floor(F.col("l_quantity") / 10).cast("long"),
        F.least(F.floor(F.col("l_extendedprice") / 20000),
                F.lit(5.0)).cast("long"))


# ---------------------------------------------------------------------------
# Round-12 additions: internal-consistency / rank-concordance pair,
# registered as q299/q300 below and gate-compared (plus planted-
# fixture property tests) in tests/test_round12_prebuilt.py.
# ---------------------------------------------------------------------------


def cronbach_alpha(df: DataFrame,
                   items: dict[str, Column]) -> DataFrame:
    """One-row (n, k, alpha): Cronbach's alpha over k INTEGER-valued
    item columns — the internal-consistency read (do these k signals
    measure one underlying thing?) behind any composite quality score
    (q21's document score sums heuristics; alpha says whether summing
    was defensible). α = k/(k−1)·(1 − Σᵢvarᵢ/var_total) with
    var_total the variance of the per-row item SUM.

    One map-side-combined aggregate of 2k+3 exact integer sums at
    DECIMAL(38,0)/HUGEINT width; sample variances and α pin once.
    n < 2, k = 1, or zero total variance reports NULL-by-contract
    (the k/(k−1) factor is guarded BEFORE plan build, so k = 1 never
    divides by zero); k = 0 raises ValueError — there is no row
    contract without at least one item column."""
    names = sorted(items)
    k = len(names)
    if k == 0:
        raise ValueError("cronbach_alpha needs at least one item column")
    src = df.select(*[items[nm].cast("long").alias(f"__i{j}")
                      for j, nm in enumerate(names)])
    for j in range(k):
        src = src.filter(F.col(f"__i{j}").isNotNull())
    tot = None
    for j in range(k):
        tot = F.col(f"__i{j}") if tot is None else tot + F.col(f"__i{j}")
    src = src.withColumn("__t", tot)
    aggs = [F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(dec(F.col("__t"))).alias("__st"),
            F.sum(dec_sq(F.col("__t"))).alias("__qt")]
    for j in range(k):
        c = F.col(f"__i{j}")
        aggs.append(F.sum(dec(c)).alias(f"__s{j}"))
        aggs.append(F.sum(dec_sq(c)).alias(f"__q{j}"))
    agg = src.agg(*aggs)
    n = F.col("n").cast("double")
    # ANSI null-safe divisors (Spark 4 raises on double x/0, and the
    # `ok` condition evaluates var_t eagerly): n < 2 lands NULL, the
    # documented contract; values are unchanged when the guard passes.
    n0 = F.when(n > 0, n)
    n1 = F.when(n > 1, n - 1)
    sv = lambda s, q: ((F.col(q).cast("double")  # noqa: E731
                        - F.col(s).cast("double") * F.col(s) / n0)
                       / n1)
    var_t = sv("__st", "__qt")
    var_sum = None
    for j in range(k):
        v = sv(f"__s{j}", f"__q{j}")
        var_sum = v if var_sum is None else var_sum + v
    if k < 2:
        return agg.select(
            "n", F.lit(k).cast("long").alias("k"),
            F.lit(None).cast("double").alias("alpha"))
    alpha = (k / (k - 1.0)) * (1 - var_sum / var_t)
    ok = (F.col("n") > 1) & (var_t > 0)
    return agg.select(
        "n", F.lit(k).cast("long").alias("k"),
        F.when(ok, pin(alpha)).alias("alpha"))


def kendall_tau_b(df: DataFrame, x: Column, y: Column) -> DataFrame:
    """One-row (n, concordant, discordant, tau_b): Kendall's tau-b
    between two BOUNDED-DOMAIN ordinal columns — the rank-concordance
    sibling of q286's weighted kappa (kappa asks 'do they AGREE',
    tau-b asks 'do they ORDER the same way'), tie-corrected on both
    margins.

    The corpus reduces to |X|·|Y| cells in one map-side-combined
    group-by; concordant/discordant counts come from the CELL-PAIR
    join (x2 > x1 orients each unordered pair once — domain², never
    row²), marginal tie terms t(t−1)/2 from the cell marginals; all
    exact integers at DECIMAL(38,0)/HUGEINT width and tau_b pins
    once. Zero denominator (a constant margin) reports
    NULL-by-contract."""
    src = df.select(x.cast("long").alias("__x"),
                    y.cast("long").alias("__y")).filter(
        F.col("__x").isNotNull() & F.col("__y").isNotNull())
    cells = src.groupBy("__x", "__y").agg(
        F.count(F.lit(1)).cast("long").alias("__c"))
    a = cells.select(F.col("__x").alias("__x1"),
                     F.col("__y").alias("__y1"),
                     F.col("__c").alias("__c1"))
    b = cells.select(F.col("__x").alias("__x2"),
                     F.col("__y").alias("__y2"),
                     F.col("__c").alias("__c2"))
    pairs = a.join(b, F.col("__x2") > F.col("__x1"))
    cd = pairs.agg(
        F.sum(F.when(F.col("__y2") > F.col("__y1"),
                     dec(F.col("__c1")) * dec(F.col("__c2")))
              .otherwise(F.lit(0))).alias("__cc"),
        F.sum(F.when(F.col("__y2") < F.col("__y1"),
                     dec(F.col("__c1")) * dec(F.col("__c2")))
              .otherwise(F.lit(0))).alias("__dd"))
    nx = (cells.groupBy("__x")
          .agg(F.sum("__c").cast("long").alias("__r"))
          .agg(F.sum(dec(F.col("__r")) * (dec(F.col("__r")) - 1))
               .alias("__tx2"),
               F.sum(dec(F.col("__r"))).alias("__n1")))
    ny = (cells.groupBy("__y")
          .agg(F.sum("__c").cast("long").alias("__r"))
          .agg(F.sum(dec(F.col("__r")) * (dec(F.col("__r")) - 1))
               .alias("__ty2")))
    agg = cd.crossJoin(nx).crossJoin(ny)
    n = F.col("__n1").cast("double")
    n0_2 = n * (n - 1)          # 2·n0 — keep everything doubled
    n1_2 = F.col("__tx2").cast("double")
    n2_2 = F.col("__ty2").cast("double")
    diff = F.col("__cc").cast("double") - F.col("__dd").cast("double")
    den = F.sqrt((n0_2 - n1_2) * (n0_2 - n2_2)) / 2
    ok = (n0_2 > n1_2) & (n0_2 > n2_2)
    return agg.select(
        F.col("__n1").cast("long").alias("n"),
        F.col("__cc").cast("long").alias("concordant"),
        F.col("__dd").cast("long").alias("discordant"),
        F.when(ok, pin(diff / den)).alias("tau_b"))


@query(
    "q299_cronbach_alpha",
    oracle=f"""
    WITH s AS (
      SELECT {cents_sql("l_discount")} AS i0,
             CAST(floor(l_extendedprice / 1000) AS BIGINT) AS i1,
             CAST(floor(l_quantity) AS BIGINT) AS i2
      FROM lineitem
      WHERE l_discount IS NOT NULL AND l_extendedprice IS NOT NULL
        AND l_quantity IS NOT NULL
    ),
    a AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(CAST(i0 + i1 + i2 AS HUGEINT)) AS st,
             sum(CAST(i0 + i1 + i2 AS HUGEINT) * (i0 + i1 + i2)) AS qt,
             sum(CAST(i0 AS HUGEINT)) AS s0,
             sum(CAST(i0 AS HUGEINT) * i0) AS q0,
             sum(CAST(i1 AS HUGEINT)) AS s1,
             sum(CAST(i1 AS HUGEINT) * i1) AS q1,
             sum(CAST(i2 AS HUGEINT)) AS s2,
             sum(CAST(i2 AS HUGEINT) * i2) AS q2
      FROM s
    ),
    ex AS (
      SELECT n,
        (CAST(qt AS DOUBLE) - CAST(st AS DOUBLE) * st
          / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) AS vt,
        (CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) * s0
          / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) AS v0,
        (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1
          / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) AS v1,
        (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2
          / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) AS v2
      FROM a
    )
    SELECT n, CAST(3 AS BIGINT) AS k,
      CASE WHEN n > 1 AND vt > 0 THEN
        {pin_sql("1.5 * (1 - (v0 + v1 + v2) / vt)")}
      END AS alpha
    FROM ex
    """,
)
def q299_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Do discount points, price bands, and quantity move as ONE
    underlying 'order size' construct? Cronbach's alpha over the three
    integer items — one hash-checked (n, k, alpha) row."""
    li = load_table(spark, sf_dir, "lineitem")
    return cronbach_alpha(li, {
        "disc": cents("l_discount"),
        "price": F.floor(F.col("l_extendedprice") / 1000),
        "qty": F.floor(F.col("l_quantity")),
    })


@query(
    "q300_kendall_tau_b",
    oracle=f"""
    WITH s AS (
      SELECT CAST(floor(l_quantity / 10) AS BIGINT) AS x,
             CAST(least(floor(l_extendedprice / 20000), 5) AS BIGINT)
               AS y
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    ),
    cells AS (
      SELECT x, y, CAST(count(*) AS BIGINT) AS c FROM s GROUP BY x, y
    ),
    cd AS (
      SELECT
        sum(CASE WHEN b.y > a.y THEN CAST(a.c AS HUGEINT) * b.c
            ELSE 0 END) AS cc,
        sum(CASE WHEN b.y < a.y THEN CAST(a.c AS HUGEINT) * b.c
            ELSE 0 END) AS dd
      FROM cells a JOIN cells b ON b.x > a.x
    ),
    nx AS (
      SELECT sum(CAST(r AS HUGEINT) * (r - 1)) AS tx2,
             CAST(sum(r) AS BIGINT) AS n1
      FROM (SELECT CAST(sum(c) AS BIGINT) AS r FROM cells GROUP BY x)
    ),
    ny AS (
      SELECT sum(CAST(r AS HUGEINT) * (r - 1)) AS ty2
      FROM (SELECT CAST(sum(c) AS BIGINT) AS r FROM cells GROUP BY y)
    ),
    ex AS (
      SELECT n1, cc, dd,
             CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1) AS n0_2,
             CAST(tx2 AS DOUBLE) AS n1_2,
             CAST(ty2 AS DOUBLE) AS n2_2,
             CAST(cc AS DOUBLE) - CAST(dd AS DOUBLE) AS diff
      FROM cd, nx, ny
    )
    SELECT n1 AS n, CAST(cc AS BIGINT) AS concordant,
           CAST(dd AS BIGINT) AS discordant,
           CASE WHEN n0_2 > n1_2 AND n0_2 > n2_2 THEN
             {pin_sql("diff / (sqrt((n0_2 - n1_2) * (n0_2 - n2_2)) / 2)")}
           END AS tau_b
    FROM ex
    """,
)
def q300_kendall_tau_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Do the quantity decile and the price band ORDER lineitems the
    same way? Kendall's tau-b with both tie corrections, counted on
    the |X|x|Y| cell matrix (domain^2 pairs, never row^2) — one
    hash-checked (n, concordant, discordant, tau_b) row."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").isNotNull()
        & F.col("l_extendedprice").isNotNull())
    return kendall_tau_b(
        li, F.floor(F.col("l_quantity") / 10),
        F.least(F.floor(F.col("l_extendedprice") / 20000), F.lit(5.0)))
