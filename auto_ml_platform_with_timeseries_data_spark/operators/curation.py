"""Training-data curation operators: deterministic sampling, hash
splits, class balancing, sequence packing, and benchmark
decontamination over the `documents` table.

The reference stops at single-table AutoML prep (SURVEY.md §2.9); these
are the operations a large-scale pretraining-data pipeline needs
between "raw crawl" and "training shards". Every operator is built on
a DETERMINISTIC integer hash (Knuth multiplicative, pure BIGINT
arithmetic) instead of `rand()`: reruns are reproducible, the same row
always lands in the same split/sample on any engine, and every query
stays oracle-checkable in ANSI SQL.

Scale notes (100 TB):
- Sampling (q73) and split assignment (q74) are MAP-ONLY — a row-local
  hash filter/projection with zero shuffles; they stream through the
  scan at full parquet read bandwidth no matter the cluster size.
- Class balancing (q75) is one shuffle keyed by the (lang, source)
  group; the per-group cap bounds output skew. A hot group degrades to
  one fat sorted partition — rank-by-hash is still a streaming window,
  state O(1).
- Sequence packing (q76) is the concat-then-chunk scheme production
  pretraining pipelines use: one shuffle to co-locate a shard, one
  running-sum window pass, pack id = prefix_tokens // budget. Packs are
  deterministic given the (shard, doc order) contract.
- Decontamination (q77) broadcast-joins the benchmark's (small) gram
  set against the corpus grams — the 100 TB side never shuffles until
  the per-doc match count, which partial aggregation shrinks first.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from auto_ml_platform_with_timeseries_data_spark.functions.text_exprs import (
    normalize_text,
    tokens,
    word_ngrams,
)
from auto_ml_platform_with_timeseries_data_spark.operators.timeseries import (
    dec,
    pin,
    pin_sql,
)
from auto_ml_platform_with_timeseries_data_spark.registry import query
from auto_ml_platform_with_timeseries_data_spark.tables import keep, load_table

# Knuth multiplicative hash over a bounded residue: the pre-mod by
# 1000003 (prime) keeps the product ≤ ~2.6e15, far inside BIGINT, so
# the arithmetic never overflows (DuckDB raises on BIGINT overflow;
# Spark non-ANSI would silently wrap — neither is acceptable).
_KNUTH = 2654435761
_PREMOD = 1000003
_M32 = 4294967296


def hash_u32(id_col: Column | str) -> Column:
    """Deterministic uniform-ish 32-bit hash of a non-negative id."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return (c % _PREMOD) * _KNUTH % _M32


def _hash_u32_sql(col: str) -> str:
    return f"(({col} % {_PREMOD}) * {_KNUTH}) % {_M32}"


# ---------------------------------------------------------------------------
# q73 — stratified deterministic sampling (per-language rates)
# ---------------------------------------------------------------------------

_RATES = {"en": 0.5}          # per-stratum keep rates
_DEFAULT_RATE = 0.25


def stratified_sample(df: DataFrame, id_col: str, stratum_col: str,
                      rates: dict[str, float], default: float) -> DataFrame:
    """Keep a row iff hash(id)/2^32 < rate(stratum). Unlike
    `df.sampleBy` (Bernoulli on a per-task RNG stream, order- and
    partitioning-dependent), this is a pure row-local predicate:
    reproducible across runs, engines, and repartitionings — the
    property a curation pipeline needs so that downstream shards are
    stable. Map-only; no shuffle."""
    rate = F.lit(float(default))
    for k, v in rates.items():
        rate = F.when(F.col(stratum_col) == k, F.lit(float(v))).otherwise(rate)
    return df.filter(hash_u32(id_col) < rate * F.lit(_M32))


@query(
    "q73_stratified_sample",
    oracle=f"""
    SELECT lang, count(*) AS n_kept, count(DISTINCT source) AS n_sources,
           CAST(sum(n_chars) AS BIGINT) AS chars_kept  -- HUGEINT→BIGINT
    FROM documents
    WHERE {_hash_u32_sql('doc_id')} <
          (CASE WHEN lang = 'en' THEN 0.5 ELSE 0.25 END) * {_M32}
    GROUP BY lang
    """,
)
def q73_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    kept = stratified_sample(docs, "doc_id", "lang", _RATES, _DEFAULT_RATE)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("n_chars").alias("chars_kept"),
    )


# ---------------------------------------------------------------------------
# q74 — deterministic train/val/test split assignment
# ---------------------------------------------------------------------------


def hash_split(df: DataFrame, id_col: str,
               train: int = 80, val: int = 10) -> DataFrame:
    """Adds a `split` column from hash(id) % 100: [0,train) → 'train',
    [train,train+val) → 'val', rest → 'test'. Row-local and stable: a
    document keeps its split across reruns and dataset versions (ids
    are sticky; positions are not). Map-only."""
    b = hash_u32(id_col) % 100
    return df.withColumn(
        "split",
        F.when(b < train, "train")
        .when(b < train + val, "val")
        .otherwise("test"),
    )


@query(
    "q74_hash_split",
    oracle=f"""
    SELECT lang,
           CASE WHEN {_hash_u32_sql('doc_id')} % 100 < 80 THEN 'train'
                WHEN {_hash_u32_sql('doc_id')} % 100 < 90 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars  -- HUGEINT→BIGINT
    FROM documents
    GROUP BY 1, 2
    """,
)
def q74_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        hash_split(docs, "doc_id")
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_chars").alias("n_chars"))
    )


# ---------------------------------------------------------------------------
# q75 — class balancing (cap per group, deterministic selection)
# ---------------------------------------------------------------------------


def balance_groups(df: DataFrame, group_cols: list[str], id_col: str,
                   cap: int) -> DataFrame:
    """Downsample every group to ≤ cap rows. Selection is rank-by-hash
    (a deterministic uniform draw), NOT head-of-file — so the kept
    subset is unbiased w.r.t. ingest order. One shuffle on the group
    key; the rank window streams sorted partitions with O(1) state."""
    w = Window.partitionBy(*group_cols).orderBy(
        hash_u32(id_col).asc(), F.col(id_col).asc())
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= cap)
        .drop("__rk")
    )


@query(
    "q75_class_balance",
    oracle=f"""
    SELECT lang, source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars  -- HUGEINT→BIGINT
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY lang, source
               ORDER BY {_hash_u32_sql('doc_id')}, doc_id) AS rk
      FROM documents
    )
    WHERE rk <= 150
    GROUP BY lang, source
    """,
)
def q75_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    kept = balance_groups(docs, ["lang", "source"], "doc_id", cap=150)
    return kept.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
    )


# ---------------------------------------------------------------------------
# q76 — sequence packing (concat-then-chunk, fixed token budget)
# ---------------------------------------------------------------------------

_PACK_BUDGET = 2048


def pack_sequences(df: DataFrame, shard_col: str, order_col: str,
                   tokens_col: Column, budget: int) -> DataFrame:
    """Concat-then-chunk packing: within a shard, documents in a fixed
    order are laid end-to-end in token space and cut every `budget`
    tokens; a document belongs to the pack where its FIRST token lands
    (pack_id = exclusive-prefix-sum // budget). This is the standard
    pretraining packing scheme — O(1) window state, one shuffle per
    shard, and pack membership is a pure function of (shard, order),
    so shards can be re-materialized independently and reproducibly.

    Scale note: the prefix sum streams ONE partition per shard value --
    a whole language as one shard serializes at 100 TB. Pass a
    composite shard (e.g. concat(lang, pmod(xxhash64(doc_id),
    n_buckets))) so each shard is a bounded slice; packing quality is
    unaffected because packs never cross shards by construction."""
    w = (
        Window.partitionBy(shard_col).orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = F.coalesce(F.sum(tokens_col).over(w), F.lit(0))
    return df.withColumn("__tokens", tokens_col).withColumn(
        "pack_id", F.floor(prefix / budget)
    )


@query(
    "q76_pack_sequences",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                              ' ')) AS n_tokens
      FROM documents
    ), packed AS (
      SELECT lang, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             // {_PACK_BUDGET} AS BIGINT) AS pack_id
      FROM toks
    )
    SELECT lang, pack_id, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS pack_tokens  -- HUGEINT→BIGINT
    FROM packed GROUP BY lang, pack_id
    """,
)
def q76_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Bind the token count to a real column in its own projection (HOF /
    # pushdown CSE pitfall — see dedup._grams_df).
    with_tokens = docs.select(
        "doc_id", "lang", F.size(tokens(normalize_text("text"))).alias("__nt")
    )
    packed = pack_sequences(
        with_tokens, "lang", "doc_id", F.col("__nt"), _PACK_BUDGET)
    return packed.groupBy("lang", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__nt").alias("pack_tokens"),
    )


# ---------------------------------------------------------------------------
# q77 — benchmark decontamination (n-gram overlap vs a held-out set)
# ---------------------------------------------------------------------------

_DECON_N = 4


def decontaminate(df: DataFrame, id_col: str, text_col: str,
                  bench_pred: Column, n: int = _DECON_N) -> DataFrame:
    """Flag corpus documents sharing ≥1 word n-gram with any benchmark
    document (the standard eval-contamination check): returns
    (id, n_shared_grams) for contaminated docs.

    The benchmark gram vocabulary is tiny next to the corpus, so it
    broadcasts; the corpus side explodes grams map-side, hash-joins
    against the broadcast set, and partial-aggregates the per-doc match
    count before the only shuffle. Gram arrays are distinct per doc, so
    COUNT(*) of gram matches IS the distinct-overlap size."""
    norm = df.select(
        F.col(id_col).alias("__id"), bench_pred.alias("__is_bench"),
        tokens(normalize_text(text_col)).alias("__toks"),
    ).filter(F.size("__toks") >= n)
    grams = norm.select(
        "__id", "__is_bench",
        F.explode(F.array_distinct(word_ngrams(F.col("__toks"), n)))
        .alias("__g"),
    )
    bench = grams.filter("__is_bench").select("__g").distinct()
    return (
        grams.filter(~F.col("__is_bench"))
        .join(F.broadcast(bench), "__g")
        .groupBy(F.col("__id").alias(id_col))
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


@query(
    "q77_decontaminate",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                          ' ') AS t
      FROM documents
    ), g AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(t) - 2),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                    t[i+3]))) AS gram
      FROM toks WHERE len(t) >= 4
    ), bench AS (
      SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0
    )
    SELECT o.doc_id, count(*) AS n_shared_grams
    FROM g o JOIN bench b USING (gram)
    WHERE o.doc_id % 97 <> 0
    GROUP BY o.doc_id
    """,
)
def q77_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark set = doc_id % 97 == 0 (a deterministic stand-in for a
    held-out eval set living in the same table)."""
    docs = load_table(spark, sf_dir, "documents")
    return decontaminate(docs, "doc_id", "text",
                         F.col("doc_id") % 97 == 0, n=_DECON_N)


# ---------------------------------------------------------------------------
# q78 — uniform k-sample via hash order (deterministic "reservoir")
# ---------------------------------------------------------------------------

_SAMPLE_K = 500


@query(
    "q78_uniform_sample",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM documents
    ORDER BY {_hash_u32_sql('doc_id')}, doc_id
    LIMIT {_SAMPLE_K}
    """,
)
def q78_uniform_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact uniform k-sample without an RNG: the k smallest hash
    values. Spark plans orderBy+limit as TakeOrderedAndProject — each
    partition keeps a local top-k heap and the driver merges k·p rows,
    never a full sort. The same query at 100 TB moves k rows per
    partition, not the table."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.orderBy(hash_u32("doc_id").asc(), F.col("doc_id").asc())
        .limit(_SAMPLE_K)
        .select("doc_id", "lang", "source")
    )


# ---------------------------------------------------------------------------
# q90 — distribution drift between splits (PSI)
# ---------------------------------------------------------------------------


def psi_drift(df: DataFrame, stratum_col: str, feature_bucket: Column,
              in_a: Column, smooth: float = 0.5) -> DataFrame:
    """Population stability index between two row populations (A = e.g.
    the train split, B = the rest) over a bucketed feature:
    PSI = Σ_b (pA_b − pB_b) · ln(pA_b / pB_b), Laplace-smoothed so
    empty buckets stay finite. PSI < 0.1 ≈ stable, > 0.25 ≈ shifted —
    the standard pre-training drift gate between dataset versions or
    splits.

    One shuffle: conditional counts per (stratum, bucket) partial-
    aggregate map-side; the PSI reduction over buckets is a second agg
    over |strata|×|buckets| rows — nothing at data scale."""
    counts = (
        df.groupBy(F.col(stratum_col).alias("stratum"),
                   feature_bucket.alias("bucket"))
        .agg(
            F.sum(F.when(in_a, 1).otherwise(0)).alias("__na"),
            F.sum(F.when(in_a, 0).otherwise(1)).alias("__nb"),
        )
    )
    tot = Window.partitionBy("stratum")
    k = Window.partitionBy("stratum")  # bucket count per stratum
    pa = ((F.col("__na") + smooth)
          / (F.sum("__na").over(tot) + smooth * F.count(F.lit(1)).over(k)))
    pb = ((F.col("__nb") + smooth)
          / (F.sum("__nb").over(tot) + smooth * F.count(F.lit(1)).over(k)))
    return (
        counts
        .withColumn("__term", (pa - pb) * F.log(pa / pb))
        .groupBy("stratum")
        .agg(F.round(F.sum("__term"), 6).alias("psi"),
             F.count(F.lit(1)).alias("n_buckets"))
    )


@query(
    "q90_drift_psi",
    oracle=f"""
    WITH counts AS (
      SELECT lang AS stratum, LEAST(n_chars // 100, 9) AS bucket,
             sum(CASE WHEN {_hash_u32_sql('doc_id')} % 100 < 80
                 THEN 1 ELSE 0 END) AS na,
             sum(CASE WHEN {_hash_u32_sql('doc_id')} % 100 < 80
                 THEN 0 ELSE 1 END) AS nb
      FROM documents GROUP BY 1, 2
    ), p AS (
      SELECT stratum,
             (na + 0.5) / (sum(na) OVER w + 0.5 * count(*) OVER w) AS pa,
             (nb + 0.5) / (sum(nb) OVER w + 0.5 * count(*) OVER w) AS pb
      FROM counts WINDOW w AS (PARTITION BY stratum)
    )
    SELECT stratum, ROUND(sum((pa - pb) * ln(pa / pb)), 6) AS psi,
           count(*) AS n_buckets
    FROM p GROUP BY stratum
    """,
)
def q90_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift between the hash-split train population (q74's 80%) and
    the rest, per language, over decile-ish n_chars buckets (fixed
    width 100, capped at bucket 9 — constants, no data-dependent
    pre-pass). The hash split is unbiased by construction, so PSI here
    reflects pure sampling variance (O(buckets/n) — non-trivial at small
    SF, vanishing at scale); a biased split would push it past 0.25
    regardless of n."""
    docs = load_table(spark, sf_dir, "documents")
    return psi_drift(
        docs, "lang",
        F.least(F.floor(F.col("n_chars") / 100), F.lit(9)),
        hash_u32("doc_id") % 100 < 80,
    )


def fuzzy_decontaminate(corpus: DataFrame, bench: DataFrame, id_col: str,
                        text_col: str, shingle_n: int = 2,
                        threshold: float = 0.3) -> DataFrame:
    """Document-level fuzzy decontamination: flag corpus documents whose
    n-gram Jaccard similarity to ANY benchmark document ≥ threshold —
    catches paraphrased/near-copy eval leakage that the verbatim gram
    overlap (q77 decontaminate) misses.

    Physical shape: inverted-index count join. Both sides reduce to
    hashed distinct gram sets once; the BENCHMARK side explodes and
    broadcasts (eval sets are tiny next to a pretraining corpus), the
    corpus side explodes map-side, and |A∩B| per (corpus, bench) pair
    falls out of a COUNT — no arrays cross the shuffle, no pairwise
    verify pass. Jaccard then needs only the set sizes carried as
    grouping columns. Returns (doc_id, n_matches, max_jaccard).
    """
    from auto_ml_platform_with_timeseries_data_spark.operators.dedup import (
        _grams_df,
        _hash_grams,
    )

    cg = _hash_grams(_grams_df(corpus, id_col, text_col, shingle_n))
    bg = _hash_grams(_grams_df(bench, id_col, text_col, shingle_n))
    ce = cg.select("__id", F.size("__grams").alias("__na"),
                   F.explode("__grams").alias("__g"))
    be = bg.select(F.col("__id").alias("__bid"),
                   F.size("__grams").alias("__nb"),
                   F.explode("__grams").alias("__g"))
    inter = (
        ce.join(F.broadcast(be), "__g")
        .groupBy("__id", "__na", "__bid", "__nb")
        .agg(F.count(F.lit(1)).alias("__i"))
    )
    jac = F.col("__i") / (F.col("__na") + F.col("__nb") - F.col("__i"))
    return (
        inter.select("__id", jac.alias("__jac"))
        .filter(F.col("__jac") >= threshold)
        .groupBy(F.col("__id").alias(id_col))
        .agg(F.count(F.lit(1)).alias("n_matches"),
             F.round(F.max("__jac"), 6).alias("max_jaccard"))
    )


@query(
    "q119_fuzzy_decontaminate",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, len(string_split(trim(regexp_replace(lower(text),
                     '\\s+', ' ', 'g')), ' '))),
               i -> string_split(trim(regexp_replace(lower(text),
                     '\\s+', ' ', 'g')), ' ')[i] || ' ' ||
                    string_split(trim(regexp_replace(lower(text),
                     '\\s+', ' ', 'g')), ' ')[i + 1]
             )) AS grams
      FROM documents
    ),
    c AS (SELECT * FROM g WHERE doc_id % 50 != 0 AND len(grams) > 0),
    b AS (SELECT * FROM g WHERE doc_id % 50 = 0 AND len(grams) > 0),
    j AS (
      SELECT c.doc_id,
             CAST(len(list_intersect(c.grams, b.grams)) AS DOUBLE) /
             (len(c.grams) + len(b.grams)
              - len(list_intersect(c.grams, b.grams))) AS jac
      FROM c, b
    )
    SELECT doc_id, count(*) AS n_matches, ROUND(max(jac), 6) AS max_jaccard
    FROM j WHERE jac >= 0.2 GROUP BY doc_id
    """,
)
def q119_fuzzy_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy decontamination of the corpus (doc_id % 50 != 0) against a
    held-out 'benchmark' slice (doc_id % 50 = 0); the oracle is the
    direct quadratic cross-product Jaccard — tractable at oracle scale,
    while the Spark path is the broadcast inverted-index count join."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    return fuzzy_decontaminate(corpus, bench, "doc_id", "text",
                               shingle_n=2, threshold=0.2)


# ---------------------------------------------------------------------------
# q135 — chi-square independence between stratum variables
# ---------------------------------------------------------------------------


def chi_square_independence(df: DataFrame, a_col: str,
                            b_col: str) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns: one row (chi2, dof, n). The association diagnostic a
    curation pipeline runs BEFORE stratified sampling — if lang and
    source are strongly associated, sampling on one silently skews the
    other's distribution.

    Scale: ONE groupBy over the (a, b) cells (map-side partial, the
    shuffle carries |A|x|B| rows, not the data — the corpus scans
    once); marginals come from window sums over the tiny cell table.
    Pearson's chi2 also sums the ZERO-observed cells ((0-E)^2/E = E) —
    exactly the cells that dominate under strong association — but no
    grid materialization is needed: since Σ_all-cells E = N, the
    zero-cell contribution is N − Σ_observed E, added as a closed-form
    correction. Pinned with floor(x*1e6+0.5) AFTER the sum;
    dof = (|A|-1)(|B|-1).

    NULL categories are EXCLUDED before aggregation: a NULL cell would
    otherwise contribute to chi2 and the marginals while countDistinct
    (which ignores NULLs) understates dof, leaving the statistic and its
    degrees of freedom inconsistent. Dropping NULL rows keeps both sides
    of the test on the same population — the standard complete-case
    convention for contingency tests."""
    cells = (
        df.filter(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
        .groupBy(F.col(a_col).alias("__a"), F.col(b_col).alias("__b"))
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    wa = Window.partitionBy("__a")
    wb = Window.partitionBy("__b")
    wt = Window.partitionBy()
    m = cells.select(
        "__a", "__b", "__n",
        F.sum("__n").over(wa).alias("__ra"),
        F.sum("__n").over(wb).alias("__cb"),
        F.sum("__n").over(wt).alias("__tot"),
    )
    e = (F.col("__ra").cast("double") * F.col("__cb")) / F.col("__tot")
    term = (F.col("__n") - e) * (F.col("__n") - e) / e
    return m.agg(
        pin(F.sum(term) + F.max("__tot") - F.sum(e)).alias("chi2"),
        ((F.countDistinct("__a") - 1)
         * (F.countDistinct("__b") - 1)).alias("dof"),
        F.max("__tot").alias("n"),
    )


@query(
    "q135_chisq_independence",
    oracle=f"""
    WITH c AS (
      -- complete-case: NULL categories are dropped BEFORE aggregation,
      -- matching chi_square_independence's filter (a NULL cell would
      -- feed chi2/n while count(DISTINCT) excludes it from dof)
      SELECT lang, source, count(*) AS n FROM documents
      WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2
    ),
    m AS (
      SELECT n,
             sum(n) OVER (PARTITION BY lang) AS ra,
             sum(n) OVER (PARTITION BY source) AS cb,
             sum(n) OVER () AS tot,
             lang, source
      FROM c
    )
    -- zero-observed cells contribute (0-E)^2/E = E; since the expected
    -- counts sum to N over ALL cells, that is N - sum(E over observed)
    SELECT {pin_sql("(sum((n - CAST(ra AS DOUBLE) * cb / tot)"
                    " * (n - CAST(ra AS DOUBLE) * cb / tot)"
                    " / (CAST(ra AS DOUBLE) * cb / tot))"
                    " + max(tot) - sum(CAST(ra AS DOUBLE) * cb / tot))")}
             AS chi2,
           CAST((count(DISTINCT lang) - 1) * (count(DISTINCT source) - 1)
                AS BIGINT) AS dof,
           CAST(max(tot) AS BIGINT) AS n
    FROM m
    """,
)
def q135_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is `lang` independent of `source` in the corpus? chi2 >> dof
    says the strata are entangled and per-lang sampling will reshape
    the source mix (and vice versa)."""
    docs = load_table(spark, sf_dir, "documents")
    return chi_square_independence(docs, "lang", "source")


# ---------------------------------------------------------------------------
# q136 — two-sample Kolmogorov-Smirnov drift between splits
# ---------------------------------------------------------------------------


def ks_two_sample(df: DataFrame, value_col: str, group_col: str,
                  a: str, b: str) -> DataFrame:
    """Two-sample KS statistic between groups `a` and `b` of
    `value_col`: one row (ks, n_a, n_b). The distribution-shape
    complement to the binned PSI gate (q90): PSI sees density shifts in
    fixed bins, KS sees the worst-case CDF gap anywhere — the standard
    pair of split-drift checks before training.

    Scale: the corpus reduces to per-distinct-value counts in ONE
    map-side-partial groupBy; the running CDFs then run on that small
    value table (|distinct values| rows, not |rows|) under a single
    global-order window — bounded by the value domain, which for the
    quantities worth KS-testing (lengths, scores) is tiny next to the
    data. Exact integer counts; the statistic is pinned once at the
    end."""
    cells = (
        df.filter(F.col(group_col).isin(a, b))
        .groupBy(F.col(value_col).alias("__v"))
        .agg(
            F.sum((F.col(group_col) == a).cast("long")).alias("__ca"),
            F.sum((F.col(group_col) == b).cast("long")).alias("__cb"),
        )
    )
    w = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy()
    m = cells.select(
        F.sum("__ca").over(w).alias("__cuma"),
        F.sum("__cb").over(w).alias("__cumb"),
        F.sum("__ca").over(wt).alias("__na"),
        F.sum("__cb").over(wt).alias("__nb"),
    )
    # an empty sample has no ECDF: the statistic is NULL by contract
    # (never an ANSI divide error) when either group is missing
    gap = F.when(
        (F.col("__na") > 0) & (F.col("__nb") > 0),
        F.abs(F.col("__cuma").cast("double") / F.col("__na")
              - F.col("__cumb").cast("double") / F.col("__nb")))
    return m.agg(
        pin(F.max(gap)).alias("ks"),
        F.max("__na").alias("n_a"),
        F.max("__nb").alias("n_b"),
    )


@query(
    "q136_ks_drift",
    oracle=f"""
    WITH s AS (
      SELECT n_chars,
             CASE WHEN {_hash_u32_sql('doc_id')} % 100 < 80 THEN 'train'
                  WHEN {_hash_u32_sql('doc_id')} % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ),
    c AS (
      SELECT n_chars AS v,
             sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS ca,
             sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS cb
      FROM s WHERE split IN ('train', 'test') GROUP BY n_chars
    ),
    m AS (
      SELECT sum(ca) OVER (ORDER BY v) AS cuma,
             sum(cb) OVER (ORDER BY v) AS cumb,
             sum(ca) OVER () AS na,
             sum(cb) OVER () AS nb
      FROM c
    )
    SELECT {pin_sql("max(abs(CAST(cuma AS DOUBLE) / na"
                    " - CAST(cumb AS DOUBLE) / nb))")}
             AS ks,
           CAST(max(na) AS BIGINT) AS n_a,
           CAST(max(nb) AS BIGINT) AS n_b
    FROM m
    """,
)
def q136_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Did the deterministic hash split (q74) preserve the document-
    length distribution? KS between the train and test splits' n_chars
    — near 0 for a healthy uniform hash."""
    docs = load_table(spark, sf_dir, "documents")
    split = hash_split(docs, "doc_id")
    return ks_two_sample(split, "n_chars", "split", "train", "test")


# ---------------------------------------------------------------------------
# q137 — cross-split duplicate leakage (train/test contamination)
# ---------------------------------------------------------------------------


def split_leakage(df: DataFrame, text_col: str,
                  split_col: str, a: str = "train",
                  b: str = "test") -> DataFrame:
    """Exact-duplicate leakage across two splits: one row
    (n_groups, n_leaked_groups, n_docs_in_leaked, leak_rate).

    A fingerprint (md5 of normalized text) present in BOTH splits means
    the test half of that group is memorizable from train — eval
    numbers inflate silently. This composes the exact-dedup key (q16)
    with the hash split (q74): hash splits are id-uniform, so any
    near-1 leak_rate says the corpus wasn't deduplicated before
    splitting (dedup FIRST, then split — or split by fingerprint).

    Scale: one shuffle keyed by the 32-byte fingerprint (never the
    text); per-group presence flags reduce map-side; the final rollup
    is one row."""
    keyed = df.select(
        F.md5(normalize_text(text_col)).alias("__fp"),
        F.col(split_col).alias("__s"),
    ).filter(F.col("__s").isin(a, b))
    groups = keyed.groupBy("__fp").agg(
        F.count(F.lit(1)).alias("__n"),
        F.max((F.col("__s") == a).cast("int")).alias("__in_a"),
        F.max((F.col("__s") == b).cast("int")).alias("__in_b"),
    )
    leaked = (F.col("__in_a") == 1) & (F.col("__in_b") == 1)
    return groups.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(leaked.cast("long")).alias("n_leaked_groups"),
        F.sum(F.when(leaked, F.col("__n")).otherwise(0)).alias(
            "n_docs_in_leaked"),
        pin(F.sum(leaked.cast("double")) / F.count(F.lit(1))).alias("leak_rate"),
    )


@query(
    "q137_split_leakage",
    oracle=f"""
    WITH s AS (
      SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
               AS fp,
             CASE WHEN {_hash_u32_sql('doc_id')} % 100 < 80 THEN 'train'
                  WHEN {_hash_u32_sql('doc_id')} % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ),
    g AS (
      SELECT fp, count(*) AS n,
             max(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS in_a,
             max(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS in_b
      FROM s WHERE split IN ('train', 'test') GROUP BY fp
    )
    SELECT count(*) AS n_groups,
           CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_leaked_groups,
           CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN n ELSE 0 END)
                AS BIGINT) AS n_docs_in_leaked,
           {pin_sql("CAST(sum(CASE WHEN in_a = 1 AND in_b = 1"
                    " THEN 1 ELSE 0 END) AS DOUBLE)"
                    " / count(*)")} AS leak_rate
    FROM g
    """,
)
def q137_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many exact-duplicate groups straddle the train/test hash
    split? (The answer a curation pipeline must drive to 0 before
    training — dedup, then split.)"""
    docs = load_table(spark, sf_dir, "documents")
    return split_leakage(hash_split(docs, "doc_id"), "text", "split")


# ---------------------------------------------------------------------------
# q158 — Bloom-filter decontamination (bounded-memory scale path for q77)
# ---------------------------------------------------------------------------

_BLOOM_K = 7            # hash functions → FP ~0.8% at 16 bits/element
_BLOOM_BITS_PER_ELEM = 16


def bloom_build(grams: DataFrame, gram_col: str) -> tuple[list[int], int]:
    """Build a Bloom bitmap over a gram set: k xxhash64 positions per
    gram, distinct positions collected (bounded: ≤ k·|grams| ints —
    index/model state like IVF centroids, NOT corpus data), packed into
    m/64 longs driver-side. m self-sizes to 16 bits per element
    (rounded to a whole word) so the FP rate stays <1% regardless of
    benchmark size; the bitmap for even a 10M-gram benchmark is 20 MB —
    broadcastable, where q77's exact gram set would be GBs of strings."""
    n_elems = grams.count()
    m = 64 * max(1, -(-(_BLOOM_BITS_PER_ELEM * n_elems) // 64))
    pos = grams.select(
        F.explode(F.array(*[
            F.pmod(F.xxhash64(gram_col, F.lit(i)), F.lit(m)).cast("long")
            for i in range(_BLOOM_K)
        ])).alias("p")
    ).distinct().collect()
    words = [0] * (m // 64)
    for r in pos:
        p = int(r["p"])
        words[p // 64] |= 1 << (p % 64)
    # pack as signed 64-bit for the ArrayType(LongType) literal
    words = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    return words, m


def decontaminate_bloom(df: DataFrame, id_col: str, text_col: str,
                        bench_pred: Column, n: int = _DECON_N) -> DataFrame:
    """Contamination check against a BLOOM FILTER of the benchmark's
    n-grams instead of the exact gram set. Guarantee: no false
    negatives (every truly contaminated doc flags), small false-positive
    rate (clean docs occasionally flag — acceptable for a kill-list).

    Returns one row per corpus doc: (id, exact_hit, fn_free) where
    exact_hit is the ground-truth contamination flag (computed here so
    the oracle can check it) and fn_free certifies the Bloom guarantee
    exact_hit → bloom_hit held for that row. The probe side is map-only:
    grams explode, k hash positions, bit-test against the broadcast
    bitmap literal, partial-aggregated OR per doc — the only shuffle
    carries (doc_id, two booleans)."""
    norm = df.select(
        F.col(id_col).alias("__id"), bench_pred.alias("__is_bench"),
        tokens(normalize_text(text_col)).alias("__toks"),
    )
    grams = norm.select(
        "__id", "__is_bench",
        F.explode_outer(F.when(
            F.size("__toks") >= n,
            F.array_distinct(word_ngrams(F.col("__toks"), n)),
        )).alias("__g"),
    )
    bench = grams.filter("__is_bench").filter(F.col("__g").isNotNull()) \
        .select("__g").distinct()
    words, m = bloom_build(bench, "__g")
    bitmap = F.array(*[F.lit(w) for w in words])
    corpus = grams.filter(~F.col("__is_bench"))
    # dynamic bit test needs a column-valued shift amount, which the
    # PySpark shiftright wrapper doesn't take → SQL shiftright via expr
    # over pre-projected position columns
    proj = corpus.select(
        "__id", "__g",
        *[F.pmod(F.xxhash64("__g", F.lit(i)), F.lit(m)).cast("long")
          .alias(f"__p{i}") for i in range(_BLOOM_K)],
    ).withColumn("__bm", bitmap)
    gram_hit = reduce(
        Column.__and__,
        [F.expr(f"(shiftright(element_at(__bm, CAST(__p{i} / 64 AS INT) + 1),"
                f" CAST(__p{i} % 64 AS INT)) & 1) = 1")
         for i in range(_BLOOM_K)],
    )
    flags = proj.select(
        "__id",
        (F.col("__g").isNotNull() & gram_hit).alias("__bloom_hit"),
    ).groupBy("__id").agg(F.max("__bloom_hit").alias("__bloom"))
    exact = decontaminate(df, id_col, text_col, bench_pred, n=n) \
        .withColumnRenamed(id_col, "__eid")
    return (
        flags.join(exact, flags["__id"] == F.col("__eid"), "left")
        .select(
            F.col("__id").alias(id_col),
            F.col("__eid").isNotNull().alias("exact_hit"),
            (F.col("__eid").isNull() | F.col("__bloom")).alias("fn_free"),
        )
    )


@query(
    "q158_bloom_decontaminate",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                          ' ') AS t
      FROM documents
    ), g AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(t) - 2),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                    t[i+3]))) AS gram
      FROM toks WHERE len(t) >= 4
    ), bench AS (
      SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0
    ), hits AS (
      SELECT DISTINCT g.doc_id FROM g JOIN bench USING (gram)
      WHERE g.doc_id % 97 != 0
    )
    SELECT d.doc_id,
           h.doc_id IS NOT NULL AS exact_hit,
           TRUE AS fn_free
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    WHERE d.doc_id % 97 != 0
    """,
)
def q158_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter contamination kill-list vs the exact ground truth:
    exact_hit is oracle-checked; fn_free certifies no-false-negative
    per row (the Bloom guarantee the scale path rests on)."""
    docs = load_table(spark, sf_dir, "documents")
    return decontaminate_bloom(docs, "doc_id", "text",
                               F.col("doc_id") % 97 == 0, n=_DECON_N)


# ---------------------------------------------------------------------------
# q161 — temperature-flattened source mixing (pretraining mix weights)
# ---------------------------------------------------------------------------


def temperature_mix_sample(df: DataFrame, id_col: str, source_col: str,
                           alpha: float = 0.5,
                           budget_frac: float = 0.5) -> DataFrame:
    """Downsample so the source distribution follows n_i^α (α<1 flattens
    head sources toward the tail — the standard pretraining mix rule;
    α=1 keeps natural proportions, α=0 makes sources uniform). Per-source
    keep rate r_i = min(1, budget·n_i^α / (Σ_j n_j^α · n_i) · N); row
    membership is the deterministic Knuth hash vs an INTEGER threshold
    floor(r_i·2³²), so the sample is reproducible and the ulp-sensitive
    float rate never meets the data directly. One tiny groupBy for the
    rates (broadcast back), then a map-only filter — no corpus shuffle.
    α is fixed at 0.5 here so the power is sqrt(), which IEEE rounds
    identically in every engine (general pow() is not correctly-rounded
    and could flip a threshold by one ulp).

    The temperature weights themselves are INTEGER-scaled before any
    sum: sq_i = floor(sqrt(n_i)·2²⁰) (sqrt correctly rounded, ·2²⁰
    exact, floor deterministic), so Σ sq_i is an exact BIGINT sum with
    NO accumulation-order sensitivity — a float Σ sqrt(n_i) could
    differ by an ulp between engines/partitionings and flip
    floor(r·2³²) for a doc whose hash sits exactly on the threshold.
    The rate is then ONE fixed left-associated double expression over
    exact integers, written identically on both engines."""
    assert alpha == 0.5, "portable contract pins alpha=0.5 (see docstring)"
    rates = _mix_rates(df, source_col, budget_frac)
    return (
        df.join(F.broadcast(rates), source_col)
        .filter(hash_u32(id_col) < F.col("__th"))
        .select(id_col, source_col)
    )


def _mix_rates(df: DataFrame, source_col: str,
               budget_frac: float) -> DataFrame:
    """(source, __th): the integer mix thresholds of
    ``temperature_mix_sample`` — factored out so pipeline callers
    (q169) can apply the membership filter to an already-slim frame
    without re-joining on the id."""
    counts = (df.groupBy(source_col)
              .agg(F.count(F.lit(1)).alias("__n"))
              .withColumn("__sq", F.floor(F.sqrt("__n") * F.lit(1048576.0))
                          .cast("long")))
    # whole-frame window over the per-source counts — a handful of rows,
    # already aggregated, so the single-task window is free; both sums
    # are over BIGINTs, hence exact regardless of evaluation order
    wall = Window.partitionBy()
    return counts.select(
        source_col,
        F.floor(F.least(
            F.lit(1.0),
            F.lit(budget_frac) * F.sum("__n").over(wall) * F.col("__sq")
            / F.sum("__sq").over(wall) / F.col("__n"),
        ) * F.lit(_M32)).cast("long").alias("__th"),
    )


@query(
    "q161_temperature_mix",
    oracle=f"""
    WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
    q AS (
      -- integer-scaled temperature weight: floor(sqrt(n)*2^20) — the
      -- band sum below is then an exact integer, order-independent
      SELECT source, n, CAST(floor(sqrt(n) * 1048576.0) AS BIGINT) AS sq
      FROM c
    ),
    s AS (
      -- NB: aliases must not collide case-insensitively with column n
      SELECT source, n, sq, sum(sq) OVER () AS sqsum,
             sum(n) OVER () AS tot
      FROM q
    ),
    r AS (
      SELECT source,
             CAST(floor(LEAST(1.0, 0.5 * tot * sq / sqsum / n)
                        * {_M32}) AS BIGINT) AS th
      FROM s
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN r ON d.source = r.source
    WHERE {_hash_u32_sql('d.doc_id')} < r.th
    """,
)
def q161_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """α=0.5 temperature mix over documents at a 50% token budget:
    head sources shed mass toward the tail, membership hash-checked
    row-by-row against the oracle's identical arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    return temperature_mix_sample(docs, "doc_id", "source")


# ---------------------------------------------------------------------------
# q163 — token-budget corpus head (distributed prefix-sum cutoff)
# ---------------------------------------------------------------------------


def token_budget_head(df: DataFrame, id_col: str, text_col: str,
                      budget_tokens: int) -> DataFrame:
    """Cut a corpus at an exact global token budget: order documents by
    the deterministic uniform hash (a reproducible shuffle), keep each
    document iff its INCLUSIVE cumulative token count still fits the
    budget. This is the op that turns "the crawl" into "an N-token
    training set" — membership must be exact and stable across reruns,
    which rand()-based sampling cannot give. (The reference has no
    counterpart; extension scope per SURVEY §0.)

    The global cumulative sum reuses the q128 two-pass prefix-sum shape
    (operators/relational.py:765) — NOT a single-task global window:
    (1) assign a DERIVED range-bucket id __pid = floor(hash·P / 2³²):
    because the ordering key IS the uniform hash, equal hash ranges are
    equal-sized buckets — no sampled RangePartitioner, and (critically)
    __pid is a pure function of the row, so the totals pass and the
    final pass recompute it identically with NO persisted frame (the
    previous spark_partition_id formulation needed a .persist() that
    lived for the process lifetime); (2) per-bucket running sums
    execute in parallel under a window PARTITIONED by __pid; (3)
    per-bucket token totals (P rows — bounded driver state) become
    exact broadcast prefix offsets. Buckets whose offset already
    exceeds the budget are dropped BEFORE the sort/window runs, so the
    per-bucket work is proportional to the budget, not the corpus: at
    100 TB with a 1% budget, 99% of buckets exit at the offset filter.
    Ties are safe: equal hashes share a bucket (the bucket id is a
    monotone function of the hash), so no (pri, id) tie ever straddles
    a bucket boundary. Token counts are BIGINTs end to end — the
    cutoff is bit-exact on both engines."""
    nparts = df.sparkSession.sparkContext.defaultParallelism
    base = df.select(
        F.col(id_col),
        F.size(tokens(normalize_text(text_col))).alias("n_tokens"),
        hash_u32(id_col).alias("__pri"),
    )
    # hash·P < 2³²·P ≪ 2⁵³, and /2³² is a power-of-two divide — the
    # double arithmetic inside floor() is exact.
    ranged = base.withColumn(
        "__pid",
        F.floor(F.col("__pri") * nparts / F.lit(2 ** 32)).cast("int"))
    totals = (ranged.groupBy("__pid")
              .agg(F.sum("n_tokens").alias("__t")).collect())
    by_pid = {row["__pid"]: row["__t"] for row in totals}
    offsets, acc = [], 0
    for pid in sorted(by_pid):
        offsets.append((pid, acc))
        acc += by_pid[pid]
    off_df = df.sparkSession.createDataFrame(
        offsets or [(0, 0)], "__pid int, __off bigint")
    wcum = (Window.partitionBy("__pid")
            .orderBy(F.asc("__pri"), F.asc(id_col))
            .rowsBetween(Window.unboundedPreceding, 0))
    return (
        ranged.join(F.broadcast(off_df), "__pid")
        # partition-granular pruning: a partition starting past the
        # budget cannot contribute any row — skip its window entirely
        .filter(F.col("__off") < F.lit(budget_tokens))
        .select(
            id_col,
            "n_tokens",
            (F.sum("n_tokens").over(wcum) + F.col("__off"))
            .alias("cum_tokens"),
        )
        .filter(F.col("cum_tokens") <= budget_tokens)
    )


_TB_BUDGET = 10000
_TB_TOKS = "string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')"


@query(
    "q163_token_budget_head",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, len({_TB_TOKS}) AS n_tokens,
             {_hash_u32_sql('doc_id')} AS pri
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (ORDER BY pri, doc_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM t
    )
    SELECT doc_id, n_tokens, cum_tokens FROM c
    WHERE cum_tokens <= {_TB_BUDGET}
    """,
)
def q163_token_budget_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10k-token training-set head over the shuffled-by-hash corpus;
    the oracle re-runs the identical arithmetic through one SQL window
    (correct at fixture scale) while the engine uses the two-pass
    distributed prefix sum (correct at any scale)."""
    docs = load_table(spark, sf_dir, "documents")
    return token_budget_head(docs, "doc_id", "text", _TB_BUDGET)


# ---------------------------------------------------------------------------
# q167 — Gopher-style composite quality gate (rule-based doc filtering)
# ---------------------------------------------------------------------------

_STOPWORDS = ("the", "and", "of", "to", "in", "a", "is", "for")


def gopher_quality_flags(df: DataFrame, id_col: str, text_col: str,
                         lang_col: str = "lang") -> DataFrame:
    """Rule-based document quality gate in the style of the Gopher /
    MassiveText curation rules (Rae et al. 2021, table A1): per
    document, five boolean rules plus their conjunction. Everything is
    built from INTEGER comparisons over JVM string/array expressions —
    the only float is one fixed-form mean-word-length ratio — so the
    flags are bit-reproducible across engines:

    - r_words:   word count in [5, 2000]
    - r_wordlen: mean word length in [2, 12], computed as
      (len(norm) − (n−1)) / n — normalized text has exactly n−1 single
      spaces, so no second pass over the tokens
    - r_symbol:  symbol-to-word ratio < 0.1, counted portably via
      literal replace (# occurrences + non-overlapping '...'
      occurrences); compared in integer form 10·symbols < n_words
    - r_alpha:   ≥ 80% of words contain an alphabetic character
      (integer form 5·alpha ≥ 4·n)
    - r_stop:    ≥ 2 distinct stopwords from a fixed 8-word list (the
      Gopher stop-word sanity check; array_intersect dedups
      identically on both engines)

    Scale: map-only — the flags compute inside whole-stage codegen
    during the scan; at 100 TB this runs at parquet read bandwidth
    with zero shuffles (whatever aggregation the caller adds on top is
    the only exchange)."""
    rules = _gopher_rules(text_col)
    return df.select(
        F.col(id_col), F.col(lang_col),
        rules["r_words"].alias("r_words"),
        rules["r_wordlen"].alias("r_wordlen"),
        rules["r_symbol"].alias("r_symbol"),
        rules["r_alpha"].alias("r_alpha"),
        rules["r_stop"].alias("r_stop"),
    ).withColumn(
        "passes",
        F.col("r_words") & F.col("r_wordlen") & F.col("r_symbol")
        & F.col("r_alpha") & F.col("r_stop"),
    )


def _gopher_rules(text_col: str) -> dict:
    """The five Gopher rule expressions as a name→Column dict — ONE
    definition feeding both the audit table (`gopher_quality_flags`)
    and the pipeline's inline gate filter (`gopher_passes`), so the
    two can never drift."""
    c = F.col(text_col)
    norm = normalize_text(text_col)
    toks = tokens(norm)
    nw = F.size(toks)
    hashes = F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))
    # non-overlapping '...' count = chars removed by replace, div 3
    ell_cnt = F.expr(
        f"(length({text_col}) - length(replace({text_col}, '...', '')))"
        " div 3")
    sym_cnt = hashes + ell_cnt
    alpha = F.size(F.filter(toks, lambda x: x.rlike("[a-z]")))
    stops = F.size(F.array_intersect(
        toks, F.array(*[F.lit(s) for s in _STOPWORDS])))
    mean_wl = (F.length(norm) - (nw - F.lit(1))) / nw
    return {
        "r_words": (nw >= 5) & (nw <= 2000),
        "r_wordlen": (mean_wl >= 2.0) & (mean_wl <= 12.0),
        "r_symbol": sym_cnt * 10 < nw,
        "r_alpha": alpha * 5 >= nw * 4,
        "r_stop": stops >= 2,
    }


def gopher_passes(text_col: str) -> Column:
    """The composite Gopher gate as ONE map-only boolean expression —
    a row-level filter with no flags frame and no join, for pipelines
    that only need the survivors."""
    rules = _gopher_rules(text_col)
    out = None
    for name in ("r_words", "r_wordlen", "r_symbol", "r_alpha", "r_stop"):
        out = rules[name] if out is None else out & rules[name]
    return out


_GQ_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_GQ_STOPS = "[" + ", ".join(f"'{s}'" for s in _STOPWORDS) + "]"


@query(
    "q167_gopher_gate",
    oracle=f"""
    WITH t AS (
      SELECT lang, {_GQ_NORM} AS norm,
             string_split({_GQ_NORM}, ' ') AS toks,
             length(text) - length(replace(text, '#', '')) AS hashes,
             (length(text) - length(replace(text, '...', ''))) // 3 AS ells
      FROM documents
    ),
    f AS (
      SELECT lang, len(toks) AS nw,
             (length(norm) - (len(toks) - 1)) / len(toks) AS mwl,
             hashes + ells AS sym,
             len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
               AS alpha,
             len(list_intersect(toks, {_GQ_STOPS})) AS stops
      FROM t
    ),
    r AS (
      SELECT lang,
             (nw >= 5 AND nw <= 2000) AS r_words,
             (mwl >= 2.0 AND mwl <= 12.0) AS r_wordlen,
             (sym * 10 < nw) AS r_symbol,
             (alpha * 5 >= nw * 4) AS r_alpha,
             (stops >= 2) AS r_stop
      FROM f
    )
    SELECT lang, count(*) AS n_docs,
           CAST(sum(CASE WHEN r_words AND r_wordlen AND r_symbol
                          AND r_alpha AND r_stop
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           CAST(sum(CASE WHEN r_words THEN 0 ELSE 1 END) AS BIGINT)
             AS f_words,
           CAST(sum(CASE WHEN r_wordlen THEN 0 ELSE 1 END) AS BIGINT)
             AS f_wordlen,
           CAST(sum(CASE WHEN r_symbol THEN 0 ELSE 1 END) AS BIGINT)
             AS f_symbol,
           CAST(sum(CASE WHEN r_alpha THEN 0 ELSE 1 END) AS BIGINT)
             AS f_alpha,
           CAST(sum(CASE WHEN r_stop THEN 0 ELSE 1 END) AS BIGINT)
             AS f_stop
    FROM r GROUP BY lang
    """,
)
def q167_gopher_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality audit of the corpus: per language, how many
    documents pass the composite gate and how many fail each rule —
    the go/no-go table a curation run reads before deciding which
    rules to tighten. Map-only flags + one small groupBy."""
    docs = load_table(spark, sf_dir, "documents")
    flags = gopher_quality_flags(docs, "doc_id", "text")
    return flags.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("passes").cast("long")).alias("n_pass"),
        F.sum((~F.col("r_words")).cast("long")).alias("f_words"),
        F.sum((~F.col("r_wordlen")).cast("long")).alias("f_wordlen"),
        F.sum((~F.col("r_symbol")).cast("long")).alias("f_symbol"),
        F.sum((~F.col("r_alpha")).cast("long")).alias("f_alpha"),
        F.sum((~F.col("r_stop")).cast("long")).alias("f_stop"),
    )


# ---------------------------------------------------------------------------
# q168 — stratified token-budget head (per-language N-token cuts)
# ---------------------------------------------------------------------------


def stratified_token_budget_head(df: DataFrame, id_col: str, text_col: str,
                                 stratum_col: str,
                                 budget_tokens: int,
                                 n_tokens_col: str | None = None) -> DataFrame:
    """Per-stratum version of `token_budget_head`: cut EACH stratum
    (language, source, ...) at its own exact token budget, in the
    deterministic hash-shuffled order. This is how a multilingual
    pretraining mix is actually cut — "20B tokens of each language" —
    and a naive implementation is a Window partitioned by stratum,
    which at 100 TB puts one language (say, half the corpus) into a
    single sort partition.

    Instead the q128/q163 two-pass shape generalizes: a DERIVED
    range-bucket id __pid = floor(hash·P / 2³²) cuts EVERY stratum's
    hash-shuffled order into the same P contiguous spans (the ordering
    key within a stratum IS the uniform hash, so equal hash ranges are
    equal spans of each stratum); per-(bucket, stratum) token totals
    (≤ P·|strata| rows — bounded driver state) become exact per-stratum
    prefix offsets; the running-sum window then partitions by (bucket,
    stratum) — parallel within every stratum, no stratum-sized sort
    anywhere. Because __pid is a pure function of the row, both passes
    recompute it identically and NO persisted frame is needed (the
    previous spark_partition_id formulation cached the ranged frame
    for the process lifetime). (Bucket, stratum) pairs whose stratum
    offset already exceeds the stratum's budget drop BEFORE the window
    runs, so per-stratum work tracks the budget, not the stratum.

    ``n_tokens_col`` names an already-computed token count (the SAME
    ``size(tokens(normalize_text(text)))`` arithmetic) so slim pipeline
    callers (q169) can feed a text-free frame — both passes then never
    touch the document bodies."""
    nparts = df.sparkSession.sparkContext.defaultParallelism
    n_tokens = (F.col(n_tokens_col) if n_tokens_col is not None
                else F.size(tokens(normalize_text(text_col))))
    base = df.select(
        F.col(stratum_col).alias("__s"), F.col(id_col),
        n_tokens.alias("n_tokens"),
        hash_u32(id_col).alias("__pri"),
    )
    ranged = base.withColumn(
        "__pid",
        F.floor(F.col("__pri") * nparts / F.lit(2 ** 32)).cast("int"))
    totals = (ranged.groupBy("__pid", "__s")
              .agg(F.sum("n_tokens").alias("__t")).collect())
    acc: dict[str, int] = {}
    offsets = []
    for row in sorted(totals, key=lambda r: (r["__s"], r["__pid"])):
        offsets.append((row["__pid"], row["__s"], acc.get(row["__s"], 0)))
        acc[row["__s"]] = acc.get(row["__s"], 0) + row["__t"]
    off_df = df.sparkSession.createDataFrame(
        offsets or [(0, "", 0)], "__pid int, __s string, __off bigint")
    wcum = (Window.partitionBy("__pid", "__s")
            .orderBy(F.asc("__pri"), F.asc(id_col))
            .rowsBetween(Window.unboundedPreceding, 0))
    return (
        ranged.join(F.broadcast(off_df), ["__pid", "__s"])
        .filter(F.col("__off") < F.lit(budget_tokens))
        .select(
            F.col("__s").alias(stratum_col), id_col, "n_tokens",
            (F.sum("n_tokens").over(wcum) + F.col("__off"))
            .alias("cum_tokens"),
        )
        .filter(F.col("cum_tokens") <= budget_tokens)
    )


_STB_BUDGET = 5000


@query(
    "q168_stratified_token_head",
    oracle=f"""
    WITH t AS (
      SELECT lang, doc_id, len({_TB_TOKS}) AS n_tokens,
             {_hash_u32_sql('doc_id')} AS pri
      FROM documents
    ),
    c AS (
      SELECT lang, doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY lang
                  ORDER BY pri, doc_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM t
    )
    SELECT lang, doc_id, n_tokens, cum_tokens FROM c
    WHERE cum_tokens <= {_STB_BUDGET}
    """,
)
def q168_stratified_token_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5k tokens of EVERY language in deterministic shuffled order; the
    oracle is one per-stratum SQL window (fine at fixture scale), the
    engine is the stratified two-pass prefix sum (fine at any scale)."""
    docs = load_table(spark, sf_dir, "documents")
    return stratified_token_budget_head(docs, "doc_id", "text", "lang",
                                        _STB_BUDGET)


# ---------------------------------------------------------------------------
# q169 — the curation PIPELINE, composed end to end in one plan
# ---------------------------------------------------------------------------

_PIPE_BUDGET = 3000


@query(
    "q169_curation_pipeline",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, source, {_GQ_NORM} AS norm,
             string_split({_GQ_NORM}, ' ') AS toks,
             length(text) - length(replace(text, '#', '')) AS hashes,
             (length(text) - length(replace(text, '...', ''))) // 3 AS ells
      FROM documents
    ),
    gated AS (
      SELECT doc_id, lang, source, norm, len(toks) AS nw
      FROM t
      WHERE (len(toks) >= 5 AND len(toks) <= 2000)
        AND ((length(norm) - (len(toks) - 1)) / len(toks) >= 2.0)
        AND ((length(norm) - (len(toks) - 1)) / len(toks) <= 12.0)
        AND ((hashes + ells) * 10 < len(toks))
        AND (len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) * 5
             >= len(toks) * 4)
        AND (len(list_intersect(toks, {_GQ_STOPS})) >= 2)
    ),
    deduped AS (
      SELECT doc_id, lang, source, nw FROM (
        SELECT doc_id, lang, source, nw,
               min(doc_id) OVER (PARTITION BY md5(norm)) AS canon
        FROM gated
      ) WHERE doc_id = canon
    ),
    srccnt AS (
      SELECT source, count(*) AS n FROM deduped GROUP BY source
    ),
    srcq AS (
      SELECT source, n, CAST(floor(sqrt(n) * 1048576.0) AS BIGINT) AS sq
      FROM srccnt
    ),
    srcs AS (
      SELECT source, n, sq, sum(sq) OVER () AS sqsum, sum(n) OVER () AS tot
      FROM srcq
    ),
    rates AS (
      SELECT source,
             CAST(floor(LEAST(1.0, 0.5 * tot * sq / sqsum / n)
                        * {_M32}) AS BIGINT) AS th
      FROM srcs
    ),
    mixed AS (
      SELECT d.doc_id, d.lang, d.nw
      FROM deduped d JOIN rates r ON d.source = r.source
      WHERE {_hash_u32_sql('d.doc_id')} < r.th
    ),
    c AS (
      SELECT lang, doc_id, nw,
             CAST(sum(nw) OVER (PARTITION BY lang
                  ORDER BY {_hash_u32_sql('doc_id')}, doc_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM mixed
    )
    SELECT lang, doc_id, nw AS n_tokens, cum_tokens FROM c
    WHERE cum_tokens <= {_PIPE_BUDGET}
    """,
)
def q169_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full crawl-to-training-set pipeline: quality gate (q167
    rules) → exact dedup keeping the canonical copy → temperature-
    flattened source mixing (q161 arithmetic) → per-language
    token-budget cut (q168's stratified two-pass prefix sum). Every
    stage is the SAME arithmetic its standalone query proves, so the
    composed result is oracle-checked end to end — per-doc rows of
    the final training set.

    Scale shape (r15 restructure, guide §8: decide with small rows,
    move heavy rows never): the output needs the document BODY only
    for its token count, so ONE scan evaluates the gate inline
    (`gopher_passes`, a map-only filter — the old flags frame was a
    doc_id self-join) and projects the slim decision row (id, lang,
    source, md5 fingerprint, n_tokens). Text never enters any
    exchange. The post-dedup survivor frame is persisted (slim,
    id+3 scalars), because three downstream passes read it (mix-rate
    aggregate, budget-offset aggregate, final cut); the old plan
    re-evaluated the whole gate+dedup subtree per pass — 8 scans of
    `documents` measured as 1, plan diff in plans/r15."""
    docs = load_table(spark, sf_dir, "documents")
    norm = normalize_text("text")
    slim = (docs.filter(gopher_passes("text"))
            .select("doc_id", "lang", "source",
                    F.md5(norm).alias("__fp"),
                    F.size(tokens(norm)).alias("__nw")))
    w = Window.partitionBy("__fp")
    deduped = keep(slim
                   .withColumn("__canon", F.min("doc_id").over(w))
                   .filter(F.col("doc_id") == F.col("__canon"))
                   .drop("__canon", "__fp"))
    rates = _mix_rates(deduped, "source", budget_frac=0.5)
    mixed = (deduped.join(F.broadcast(rates), "source")
             .filter(hash_u32("doc_id") < F.col("__th")))
    return stratified_token_budget_head(
        mixed, "doc_id", "text", "lang", _PIPE_BUDGET,
        n_tokens_col="__nw").select(
        "lang", "doc_id", "n_tokens", "cum_tokens")


# ---------------------------------------------------------------------------
# q180 — leakage-free split assignment (split by content group, not id)
# ---------------------------------------------------------------------------


def split_by_content_group(df: DataFrame, id_col: str, text_col: str,
                           train: int = 80, val: int = 10) -> DataFrame:
    """hash_split (q74) keyed by the CONTENT GROUP instead of the doc
    id: every document hashes on its exact-dup family's canonical id
    (min id over the md5 fingerprint), so a duplicate family can never
    straddle train/test — the q137 leakage gate is satisfied BY
    CONSTRUCTION rather than audited after the fact. The residual
    exposure is near-dups only (route those through q179's cluster
    table the same way).

    Scale: one shuffle on the 32-byte fingerprint for the canonical
    window; the split itself stays a row-local hash — no second
    shuffle."""
    w = Window.partitionBy(F.md5(normalize_text(text_col)))
    canon = F.min(id_col).over(w)
    b = hash_u32(canon) % 100
    return df.withColumn(
        "split",
        F.when(b < train, "train")
        .when(b < train + val, "val")
        .otherwise("test"),
    ).withColumn("__fp", F.md5(normalize_text(text_col)))


@query(
    "q180_leakfree_split",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, md5({_GQ_NORM}) AS fp FROM documents
    ),
    c AS (
      SELECT doc_id, fp, min(doc_id) OVER (PARTITION BY fp) AS canon
      FROM fp
    ),
    s AS (
      SELECT doc_id, fp,
             CASE WHEN {_hash_u32_sql('canon')} % 100 < 80 THEN 'train'
                  WHEN {_hash_u32_sql('canon')} % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM c
    ),
    lk AS (
      SELECT count(*) AS bad FROM (
        SELECT fp FROM s GROUP BY fp HAVING count(DISTINCT split) > 1
      )
    )
    SELECT split, count(*) AS n_docs,
           CAST(count(DISTINCT fp) AS BIGINT) AS n_groups,
           (SELECT bad FROM lk) = 0 AS leak_free
    FROM s GROUP BY split
    """,
)
def q180_leakfree_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-keyed 80/10/10 split of the corpus: per-split doc and
    content-group counts, with the zero-exact-dup-leakage property
    verified inside the query (leak_free must be TRUE on every row) —
    the constructive complement to q137's after-the-fact audit."""
    docs = load_table(spark, sf_dir, "documents")
    s = split_by_content_group(docs, "doc_id", "text")
    bad = (s.groupBy("__fp")
           .agg(F.countDistinct("split").alias("__ns"))
           .filter(F.col("__ns") > 1).count())
    return s.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("__fp").alias("n_groups"),
        F.lit(bad == 0).alias("leak_free"),
    )


# ---------------------------------------------------------------------------
# q185 — the dataset card: one release-summary table per language
# ---------------------------------------------------------------------------


@query(
    "q185_dataset_card",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, source,
             md5({_GQ_NORM}) AS fp,
             len(string_split({_GQ_NORM}, ' ')) AS n_tokens,
             {_GQ_NORM} AS norm,
             string_split({_GQ_NORM}, ' ') AS toks,
             length(text) - length(replace(text, '#', '')) AS hashes,
             (length(text) - length(replace(text, '...', ''))) // 3 AS ells
      FROM documents
    ),
    g AS (
      SELECT lang, doc_id, fp, source, n_tokens,
             CASE WHEN (len(toks) >= 5 AND len(toks) <= 2000)
               AND ((length(norm) - (len(toks) - 1)) / len(toks) >= 2.0)
               AND ((length(norm) - (len(toks) - 1)) / len(toks) <= 12.0)
               AND ((hashes + ells) * 10 < len(toks))
               AND (len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
                    * 5 >= len(toks) * 4)
               AND (len(list_intersect(toks, {_GQ_STOPS})) >= 2)
             THEN 1 ELSE 0 END AS gate_pass
      FROM t
    ),
    src AS (
      SELECT lang, source, count(*) AS sc FROM g GROUP BY lang, source
    ),
    topsrc AS (
      SELECT lang, max(sc) AS max_sc, CAST(sum(sc) AS BIGINT) AS tot
      FROM src GROUP BY lang
    )
    SELECT g.lang,
           count(*) AS n_docs,
           CAST(count(DISTINCT g.source) AS BIGINT) AS n_sources,
           CAST(count(*) - count(DISTINCT g.fp) AS BIGINT) AS n_dup,
           CAST(sum(g.n_tokens) AS BIGINT) AS total_tokens,
           median(g.n_tokens) AS p50_tokens,
           CAST(sum(g.gate_pass) AS BIGINT) AS n_gate_pass,
           CAST(floor(CAST(max(ts.max_sc) AS DOUBLE) * 1000000.0
                      / max(ts.tot)) AS BIGINT) AS top_source_ppm
    FROM g JOIN topsrc ts ON g.lang = ts.lang
    GROUP BY g.lang
    """,
)
def q185_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The release table a corpus ships with — per language: volume
    (docs, exact token total, median doc length), provenance (source
    count, top-source concentration in ppm — the "is this just one
    crawl?" number), redundancy (exact-dup surplus), and quality (q167
    gate pass count). Every figure is integer/median-portable
    arithmetic, so the whole card is value-hash-checked; the heavy
    inputs (fingerprints, token counts, gate flags) all compute
    map-side in ONE scan, followed by two small aggregations."""
    from auto_ml_platform_with_timeseries_data_spark.functions.text_exprs import (
        normalize_text,
        tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    flags = gopher_quality_flags(docs, "doc_id", "text").select(
        "doc_id", F.col("passes").cast("long").alias("gate_pass"))
    g = (docs.select(
            "doc_id", "lang", "source",
            F.md5(normalize_text("text")).alias("fp"),
            F.size(tokens(normalize_text("text"))).alias("n_tokens"))
         .join(flags, "doc_id"))
    src = g.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("sc"))
    topsrc = src.groupBy("lang").agg(
        F.max("sc").alias("max_sc"), F.sum("sc").alias("tot"))
    return (
        g.join(topsrc, "lang")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            (F.count(F.lit(1)) - F.countDistinct("fp")).alias("n_dup"),
            F.sum("n_tokens").alias("total_tokens"),
            F.expr("percentile(n_tokens, 0.5)").alias("p50_tokens"),
            F.sum("gate_pass").alias("n_gate_pass"),
            F.floor(F.max("max_sc").cast("double") * F.lit(1000000.0)
                    / F.max("tot")).cast("long").alias("top_source_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# q191 — trained-linear quality classifier (fastText-style scorer: the
# third quality filter real pipelines run after rule gates (q167) and
# the unigram-LM proxy (q139) — hash n-grams → sparse dot with a fixed
# weight table → sigmoid → keep flag)
# ---------------------------------------------------------------------------

_FTC_BUCKETS = 4096          # hashing-trick feature space
_FTC_KNUTH = 2654435761      # bucket → pseudo-random weight mix
_FTC_WMOD = 2003             # weights uniform in [-1001, 1001]
_FTC_WOFF = 1001
_FTC_SCALE = 1000.0          # mean-pooled logit scale


def quality_classifier_score(df: DataFrame, id_col: str,
                             text_col: str) -> DataFrame:
    """fastText-style document quality scorer, entirely JVM-side HOF
    arithmetic: word unigrams + consecutive-word bigrams over the
    `^[a-z0-9]+$`-gated token stream hash into `_FTC_BUCKETS` buckets
    (the hashing trick), each bucket carries a FIXED injected weight
    (the q144/q160/q172 portable-model pattern — a trained fastText
    ships exactly such a table), the integer weight sum is the
    document's raw margin, and the mean-pooled sigmoid gives the
    score. keep = margin > 0 is integer-exact; the sigmoid is pinned
    at 1e-6 on both engines.

    Feature hashing is position-weighted char-code arithmetic
    (code(t) = Σ ascii(tᵢ)·i), chosen over engine-native hash
    functions because BOTH engines reproduce it bit-exactly; bigram
    codes compose from per-token (len, code, charsum) structs without
    materializing the concatenated string. Map-only — one projection,
    no shuffle, scan-speed at 100 TB."""
    def _code(t):
        return F.aggregate(
            F.sequence(F.lit(1), F.length(t)), F.lit(0).cast("long"),
            lambda acc, i: acc + F.ascii(F.substring(t, i, F.lit(1))) * i)

    def _csum(t):
        return F.aggregate(
            F.sequence(F.lit(1), F.length(t)), F.lit(0).cast("long"),
            lambda acc, i: acc + F.ascii(F.substring(t, i, F.lit(1))))

    elig = F.filter(tokens(normalize_text(text_col)),
                    lambda t: t.rlike("^[a-z0-9]+$"))
    feats = F.transform(elig, lambda t: F.struct(
        F.length(t).alias("l"), _code(t).alias("code"),
        _csum(t).alias("csum")))
    base = df.select(F.col(id_col).alias("doc_id"), feats.alias("__f"))
    n1 = F.greatest(F.size("__f") - 1, F.lit(0))
    # code(a + '_' + b) = code(a) + (len(a)+1)·(95 + csum(b)) + code(b)
    # (95 = ascii('_')) — the bigram feature without building the string.
    codes = F.concat(
        F.transform("__f", lambda x: x["code"]),
        F.zip_with(
            F.slice("__f", 1, n1), F.slice("__f", 2, n1),
            lambda a, b: a["code"] + (a["l"] + 1) * (F.lit(95) + b["csum"])
            + b["code"]),
    )
    raw = F.aggregate(
        codes, F.lit(0).cast("long"),
        lambda acc, c: acc + ((c % _FTC_BUCKETS) * F.lit(_FTC_KNUTH))
        % _FTC_WMOD - _FTC_WOFF)
    return (
        base.select("doc_id", codes.alias("__c"), raw.alias("raw_score"))
        .select(
            "doc_id",
            F.size("__c").cast("long").alias("n_feats"),
            F.col("raw_score"),
            F.when(F.size("__c") == 0, F.lit(0.5)).otherwise(
                pin(F.lit(1.0) / (F.lit(1.0) + F.exp(
                    -(F.col("raw_score").cast("double")
                      / (F.size("__c") * F.lit(_FTC_SCALE))))))).alias("score"),
            (F.col("raw_score") > 0).alias("keep"),
        )
    )


def _ftc_oracle() -> str:
    code = ("list_sum(list_transform(range(1, len(t)+1),"
            " i -> ascii(t[i:i]) * i))")
    csum = ("list_sum(list_transform(range(1, len(t)+1),"
            " i -> ascii(t[i:i])))")
    return f"""
    WITH f AS (
      SELECT doc_id,
             list_transform(
               list_filter(string_split({_GQ_NORM}, ' '),
                           t -> regexp_matches(t, '^[a-z0-9]+$')),
               t -> struct_pack(l := len(t), code := {code},
                                csum := {csum})) AS fs
      FROM documents
    ),
    c AS (
      SELECT doc_id,
             list_concat(
               list_transform(fs, x -> x.code),
               list_transform(range(1, len(fs)), j ->
                 fs[j].code + (fs[j].l + 1) * (95 + fs[j+1].csum)
                 + fs[j+1].code)) AS codes
      FROM f
    ),
    s AS (
      SELECT doc_id, len(codes) AS n_feats,
             CAST(coalesce(list_sum(list_transform(codes, c ->
               ((c % {_FTC_BUCKETS}) * CAST({_FTC_KNUTH} AS BIGINT))
               % {_FTC_WMOD} - {_FTC_WOFF})), 0) AS BIGINT) AS raw_score
      FROM c
    )
    SELECT doc_id, CAST(n_feats AS BIGINT) AS n_feats, raw_score,
           CASE WHEN n_feats = 0 THEN 0.5
                ELSE {pin_sql(f"(1.0 / (1.0 + exp(-(CAST(raw_score AS DOUBLE)"
                              f" / (n_feats * {_FTC_SCALE})))))")}
           END AS score,
           raw_score > 0 AS keep
    FROM s
    """


@query("q191_quality_classifier", oracle=_ftc_oracle())
def q191_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document with the fixed-weight fastText-style
    linear classifier: per-doc feature count, integer raw margin,
    sigmoid score, and keep flag — margins integer-exact, the sigmoid
    pinned at 1e-6, all value-hash-checked."""
    docs = load_table(spark, sf_dir, "documents")
    return quality_classifier_score(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# q200 — DoReMi-style domain reweighting (linearized multiplicative weights)
# ---------------------------------------------------------------------------


def domain_reweight(df: DataFrame, id_col: str, text_col: str,
                    domain_col: str) -> DataFrame:
    """One multiplicative-weights step of DoReMi-style domain
    reweighting: domains whose documents score WORSE than the corpus
    average under the reference LM (here the corpus bigram LM, q192)
    get their token-share mixture weight multiplied up, easier domains
    down — the published DoReMi update with exp(η·excess) linearized
    to (1 + η·excess) so the whole step stays in exact integer/floored
    arithmetic both engines reproduce bit-for-bit (the q161
    integer-scaled-weights convention; η = 1/4).

    Pipeline: per-doc pinned LM scores (integer micro-units, sign
    flipped so every sum is positive and BIGINT division never
    straddles the toward-zero/floor divide), one groupBy(domain) for
    (docs, tokens, Σ score), a broadcast 1-row corpus aggregate, then
    pure row-local arithmetic: excess_ppm = ⌊(domain−corpus)·10⁶ /
    corpus⌋, factor_ppm = max(0, 10⁶ + ⌊excess_ppm/4⌋), and the final
    normalized weight_ppm = (tokens·factor·10⁶) div Σ(tokens·factor).
    Scale: the LM tables dominate (word-keyed, distributable); the
    reweight itself touches |domains| rows."""
    from auto_ml_platform_with_timeseries_data_spark.operators.text import (
        bigram_logprob,
    )

    scored = bigram_logprob(df, id_col, text_col)
    per_doc = keep(
        df.select(F.col(id_col).alias("doc_id"),
                  F.col(domain_col).alias("domain"),
                  F.size(tokens(normalize_text(text_col))).cast("long")
                  .alias("__ntok"))
        .join(scored, "doc_id")
        .select(
            "domain", "__ntok",
            F.floor(-F.col("avg_logprob") * 1e6 + F.lit(0.5)).cast("long")
            .alias("__neg_micro"))
        # r15 optimization: per_doc feeds both the per-domain rollup
        # and the corpus mean, and the |domains|-row frame below feeds
        # both the normalizer and the final projection — unpersisted,
        # every branch re-ran the whole LM scoring pipeline (24 source
        # scans in the plan). Persist the narrow (domain, ntok,
        # neg_micro) decision rows once.
    )
    dom = per_doc.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__ntok").alias("tokens"),
        F.sum("__neg_micro").alias("__s"))
    corpus = per_doc.agg(
        (F.sum("__neg_micro") / F.count(F.lit(1))).alias("__gmean"))
    out = keep(
        dom.crossJoin(F.broadcast(corpus))
        .withColumn("mean_neg_lp_micro",
                    F.expr("__s div n_docs").cast("long"))
        .withColumn(
            "excess_ppm",
            # a corpus whose every doc is scoreless (under 2 tokens)
            # has gmean 0 — no hardness signal, excess is 0 by
            # contract rather than a division-by-zero ANSI error
            F.when(
                F.col("__gmean") > 0,
                F.floor((F.col("__s") / F.col("n_docs")
                         - F.col("__gmean"))
                        * 1_000_000 / F.col("__gmean")).cast("long"))
            .otherwise(F.lit(0)).cast("long"))
        .withColumn(
            "factor_ppm",
            F.greatest(
                F.lit(0),
                F.lit(1_000_000) +
                F.floor(F.col("excess_ppm") / 4).cast("long"))
            .cast("long"))
    )
    total = out.agg(F.sum(F.col("tokens") * F.col("factor_ppm"))
                    .alias("__tot"))
    return (
        out.crossJoin(F.broadcast(total))
        .withColumn(
            "weight_ppm",
            F.expr("(tokens * factor_ppm * 1000000) div __tot")
            .cast("long"))
        .select("domain", F.col("n_docs").cast("long").alias("n_docs"),
                F.col("tokens").cast("long").alias("tokens"),
                "mean_neg_lp_micro", "excess_ppm", "factor_ppm",
                "weight_ppm")
    )


_Q200_SCORE_CTE = f"""
    tk AS (SELECT doc_id, source,
                  string_split(trim(regexp_replace(lower(text),
                    '\\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
    bg AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
           FROM tk, unnest(range(1, len(toks))) AS u(i)),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
    uni AS (SELECT w, count(*) AS c1
            FROM (SELECT unnest(toks) AS w FROM tk) GROUP BY w),
    v AS (SELECT count(*) AS vsz FROM uni),
    sc AS (SELECT b.doc_id,
                  avg(ln(CAST(c.c12 + 1 AS DOUBLE) / (u.c1 + v.vsz))) AS lp
           FROM bg b
           JOIN c12 c ON b.w1 = c.w1 AND b.w2 = c.w2
           JOIN uni u ON b.w1 = u.w
           CROSS JOIN v GROUP BY b.doc_id),
    per_doc AS (
      SELECT t.source AS domain,
             CAST(len(t.toks) AS BIGINT) AS ntok,
             CAST(floor(-(coalesce({pin_sql("s.lp")}, 0.0))
                        * 1e6 + 0.5) AS BIGINT) AS neg_micro
      FROM tk t LEFT JOIN sc s ON t.doc_id = s.doc_id)
"""


@query(
    "q200_doremi_reweight",
    oracle=f"""
    WITH {_Q200_SCORE_CTE},
    dom AS (
      SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(ntok) AS BIGINT) AS tokens,
             CAST(sum(neg_micro) AS BIGINT) AS s
      FROM per_doc GROUP BY domain),
    corpus AS (
      SELECT CAST(sum(neg_micro) AS DOUBLE) / count(*) AS gmean
      FROM per_doc),
    f AS (
      SELECT domain, n_docs, tokens,
             CAST(s // n_docs AS BIGINT) AS mean_neg_lp_micro,
             CAST(CASE WHEN gmean > 0 THEN
               floor((CAST(s AS DOUBLE) / n_docs - gmean)
                     * 1000000 / gmean)
             ELSE 0 END AS BIGINT) AS excess_ppm
      FROM dom CROSS JOIN corpus),
    g AS (
      SELECT *, CAST(greatest(0, 1000000 +
                CAST(floor(excess_ppm / 4.0) AS BIGINT)) AS BIGINT)
                AS factor_ppm
      FROM f),
    tot AS (SELECT CAST(sum(tokens * factor_ppm) AS BIGINT) AS t FROM g)
    SELECT domain, n_docs, tokens, mean_neg_lp_micro, excess_ppm,
           factor_ppm,
           CAST((tokens * factor_ppm * 1000000) // t AS BIGINT)
             AS weight_ppm
    FROM g CROSS JOIN tot
    """,
)
def q200_doremi_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One linearized multiplicative-weights DoReMi step over the 20
    document sources: per-domain LM hardness, excess vs the corpus
    mean, update factor, and normalized mixture weight — all 20 rows
    integer-exact and value-hash-checked."""
    docs = load_table(spark, sf_dir, "documents")
    return domain_reweight(docs, "doc_id", "text", "source")


# ---------------------------------------------------------------------------
# q203 — k-anonymity audit (quasi-identifier suppression list)
# ---------------------------------------------------------------------------


def k_anonymity_groups(df: DataFrame, quasi_cols: list[str],
                       k: int = 8) -> DataFrame:
    """Group the table by its quasi-identifier combination and flag
    every group smaller than k — the suppression list a privacy-
    preserving release pipeline either drops or generalizes before a
    dataset leaves the house. One map-side-combined groupBy on the
    quasi-identifier tuple; no row data is carried, so the shuffle is
    |distinct combinations|, not |table|."""
    return (df.groupBy(*quasi_cols)
            .agg(F.count(F.lit(1)).cast("long").alias("group_count"))
            .withColumn("suppress",
                        (F.col("group_count") < k).cast("int")))


@query(
    "q203_k_anonymity",
    oracle="""
    SELECT c_nationkey,
           c_mktsegment,
           CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
           CAST(count(*) AS BIGINT) AS group_count,
           CAST(CASE WHEN count(*) < 8 THEN 1 ELSE 0 END AS INT)
             AS suppress
    FROM customer
    GROUP BY 1, 2, 3
    """,
)
def q203_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of customer under the (nation, segment,
    balance-bucket) quasi-identifier: every combination's population
    and suppression flag value-hash-checked (k = 8)."""
    cust = load_table(spark, sf_dir, "customer")
    return k_anonymity_groups(
        cust.select(
            "c_nationkey", "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000).cast("long")
            .alias("bal_bucket")),
        ["c_nationkey", "c_mktsegment", "bal_bucket"])


# ---------------------------------------------------------------------------
# q219 — l-diversity audit (the attack k-anonymity misses: a group of
# k identical-looking people still leaks its sensitive attribute when
# they all SHARE it; Machanavajjhala et al. 2007)
# ---------------------------------------------------------------------------


def l_diversity_groups(df: DataFrame, quasi_cols: list[str],
                       sensitive_col: str, el: int = 3) -> DataFrame:
    """Per quasi-identifier combination: population, DISTINCT count of
    the sensitive attribute, and the homogeneity flag (distinct < l).
    The release pipeline generalizes or suppresses flagged groups even
    when they pass the q203 size bar. One map-side-combined groupBy
    carrying (quasi tuple, sensitive) — shuffle is |distinct (quasi,
    sensitive) pairs|, never |table|; count_distinct folds exactly
    because the pairs are already unique per group after the partial
    aggregate."""
    return (df.groupBy(*quasi_cols)
            .agg(F.count(F.lit(1)).cast("long").alias("group_count"),
                 F.count_distinct(F.col(sensitive_col)).cast("long")
                 .alias("distinct_sensitive"))
            .withColumn("homogeneous",
                        (F.col("distinct_sensitive") < el).cast("int")))


@query(
    "q219_l_diversity",
    oracle="""
    SELECT c_nationkey,
           c_mktsegment,
           CAST(count(*) AS BIGINT) AS group_count,
           CAST(count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT))
             AS BIGINT) AS distinct_sensitive,
           CAST(CASE WHEN count(DISTINCT
                  CAST(floor(c_acctbal / 1000) AS BIGINT)) < 3
                THEN 1 ELSE 0 END AS INT) AS homogeneous
    FROM customer
    GROUP BY 1, 2
    """,
)
def q219_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit of customer: (nation, segment) groups must
    span at least 3 distinct balance buckets or they are flagged
    homogeneous — every group's population, distinct-sensitive count,
    and flag value-hash-checked (l = 3)."""
    cust = load_table(spark, sf_dir, "customer")
    return l_diversity_groups(
        cust.select(
            "c_nationkey", "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000).cast("long")
            .alias("bal_bucket")),
        ["c_nationkey", "c_mktsegment"], "bal_bucket")


# ---------------------------------------------------------------------------
# q220 — DSIR-style data selection via importance resampling (Xie et
# al. 2023, arXiv:2302.03169): rank raw-corpus documents by the log
# importance weight of their features under a TARGET-domain LM vs the
# RAW-corpus LM — the principled "pick pretraining data that looks
# like the target domain" selector (the model-free sibling of the
# q191 classifier and q199's perplexity buckets)
# ---------------------------------------------------------------------------


def dsir_select(df: DataFrame, id_col: str, text_col: str,
                target_pred: Column, top_n: int = 100) -> DataFrame:
    """Per-document log importance weight Σ_w ln(p̂_target(w)/p̂_raw(w))
    over unigram features, add-one smoothed on BOTH estimators with
    the raw vocabulary size (a target-unseen word contributes its
    smoothed floor instead of -inf), then the top_n highest-weight
    documents — the batch DSIR selects for target-domain training.

    Scale: both LMs are word-keyed aggregates (the only corpus-sized
    shuffle is the token explode); the two 1-row totals broadcast; the
    scoring join reuses the tokenized frame against the (vocabulary-
    sized) count tables. Counts are exact integers; the log-ratio sum
    is pinned at 1e-6 with a token-identical oracle expression (the
    q139 contract). Empty target → every weight is the smoothed-floor
    ratio, no division by zero (denominators include |V| ≥ 1)."""
    toks = df.select(
        F.col(id_col).alias("__id"), target_pred.alias("__t"),
        F.explode(tokens(normalize_text(text_col))).alias("__w"))
    raw = toks.groupBy("__w").agg(F.count(F.lit(1)).alias("__cr"))
    tgt = (toks.filter("__t").groupBy("__w")
           .agg(F.count(F.lit(1)).alias("__ct")))
    tot = raw.agg(F.sum("__cr").alias("__nr"),
                  F.count(F.lit(1)).alias("__v"))
    ntt = tgt.agg(F.coalesce(F.sum("__ct"), F.lit(0)).alias("__nt"))
    num = ((F.coalesce(F.col("__ct"), F.lit(0)) + 1).cast("double")
           / (F.col("__nt") + F.col("__v")))
    den = ((F.col("__cr") + 1).cast("double")
           / (F.col("__nr") + F.col("__v")))
    scored = (
        toks.join(raw, "__w").join(tgt, "__w", "left")
        .crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(ntt))
        .groupBy("__id")
        .agg(F.count(F.lit(1)).alias("n_tokens"),
             F.sum(F.log(num / den)).alias("__lw")))
    return (
        scored.select(
            F.col("__id").alias("doc_id"), "n_tokens",
            pin(F.col("__lw"))
            .alias("dsir_weight"))
        .orderBy(F.desc("dsir_weight"), F.asc("doc_id")).limit(top_n))


_DSIR_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


@query(
    "q220_dsir_select",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source IN ('src0', 'src1') AS is_t,
             unnest(string_split({_DSIR_NORM}, ' ')) AS w
      FROM documents
    ),
    raw AS (SELECT w, count(*) AS cr FROM tok GROUP BY w),
    tgt AS (SELECT w, count(*) AS ct FROM tok WHERE is_t GROUP BY w),
    tot AS (SELECT CAST(sum(cr) AS BIGINT) AS nr,
                   CAST(count(*) AS BIGINT) AS v FROM raw),
    ntt AS (SELECT CAST(coalesce(sum(ct), 0) AS BIGINT) AS nt FROM tgt),
    sc AS (
      SELECT tok.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             sum(ln((CAST(coalesce(tgt.ct, 0) + 1 AS DOUBLE) / (nt + v))
                    / (CAST(raw.cr + 1 AS DOUBLE) / (nr + v)))) AS lw
      FROM tok JOIN raw USING (w) LEFT JOIN tgt USING (w), tot, ntt
      GROUP BY tok.doc_id
    )
    SELECT doc_id, n_tokens,
           {pin_sql("lw")} AS dsir_weight
    FROM sc ORDER BY dsir_weight DESC, doc_id ASC LIMIT 100
    """,
)
def q220_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR selection with sources src0/src1 standing in as the target
    domain sample: the 100 raw documents whose unigram features score
    highest under the target-vs-raw log importance weight — every
    (doc, n_tokens, weight) row value-hash-checked at 1e-6."""
    docs = load_table(spark, sf_dir, "documents")
    return dsir_select(docs, "doc_id", "text",
                       F.col("source").isin("src0", "src1"))


# ---------------------------------------------------------------------------
# Negative sampling for contrastive training (registered as q249 after
# a one-round oracle-draft gate, tests/test_round9_candidates.py): every
# (anchor, positive) pair in an embedding/reranker training set needs
# k in-batch-independent negatives drawn reproducibly from the corpus,
# excluding the anchor's known positives. Deterministic portable-hash
# bucketing keeps the draw reproducible across runs, partitionings,
# and engines — the q141/q231 discipline applied to sampling.
# ---------------------------------------------------------------------------

_NS_P = 1_000_003
_NS_A = 2_654_435_761 % 1_000_003
_NS_C = 12_289


def _ns_hash(x, salt: int):
    """The one affine-mod draw both sampling hashes compose from:
    ((x mod P)·A + salt) mod P. `x` may be a Column or int; the mod-P
    pre-reduction keeps every product < 2^63 for arbitrary ids (the
    q231 lesson). Items hash as _ns_hash(item, C); anchor slot j hashes
    as _ns_hash((a mod P)·(j+1) + C, C) — the inner affine step
    decorrelates slots of the same anchor before the shared draw."""
    return ((x % _NS_P) * _NS_A + (salt % _NS_P)) % _NS_P


def negative_samples(anchors: DataFrame, corpus: DataFrame,
                     positives: DataFrame, anchor_col: str,
                     item_col: str, k: int = 4,
                     nbuckets: int = 32) -> DataFrame:
    """(anchor, slot, neg_id) — k deterministic negatives per anchor:
    corpus items bucket by the portable affine-mod hash; anchor a's
    slot j targets bucket hash(a·(j+1)+C) mod B and takes the bucket's
    minimum-hash item among those NOT a known positive of a (the
    exclusion happens BEFORE the argmin, so a positive can never
    silently eat a slot — the slot falls through to the next item in
    the same bucket). Slots whose bucket holds only positives (or is
    empty) report neg_id NULL-by-contract rather than re-drawing —
    re-draw policies belong to the caller, and NULL keeps the output
    shape fixed at anchors×k.

    Scale shape: candidates = anchors·k joined to ONE bucket each —
    work ∝ anchors·k·(corpus/B), never anchors×corpus; the bucket
    index is the persisted artifact (one small-int per item) and the
    argmin is a map-side-combined min_by. All hashes are BIGINT-exact
    and SQL-portable, so the draw is oracle-checkable."""
    items = corpus.select(
        F.col(item_col).alias("__item"),
        _ns_hash(F.col(item_col), _NS_C).alias("__ih"))
    items = items.withColumn("__bucket", F.col("__ih") % nbuckets)
    slots = anchors.select(F.col(anchor_col).alias("__a")).distinct() \
        .select("__a", F.explode(F.array(
            *[F.lit(j) for j in range(k)])).alias("slot"))
    slots = slots.withColumn(
        "__bucket",
        _ns_hash((F.col("__a") % _NS_P) * (F.col("slot") + 1) + _NS_C,
                 _NS_C) % nbuckets)
    pos = positives.select(F.col(anchor_col).alias("__a"),
                           F.col(item_col).alias("__item"))
    cand = (slots.join(items, "__bucket")
            .join(pos, ["__a", "__item"], "left_anti")
            .filter(F.col("__item") != F.col("__a")))
    picked = (cand.groupBy("__a", "slot")
              .agg(F.min_by("__item", F.struct(F.col("__ih"),
                                               F.col("__item")))
                   .alias("neg_id")))
    return (slots.select("__a", "slot")
            .join(picked, ["__a", "slot"], "left")
            .select(F.col("__a").alias(anchor_col), "slot",
                    F.col("neg_id").cast("long").alias("neg_id")))


@query(
    "q249_negative_samples",
    oracle=f"""
    WITH ib AS (
      SELECT doc_id AS item,
             ((doc_id % {_NS_P}) * {_NS_A} + {_NS_C})
               % {_NS_P} AS ih
      FROM documents
    ),
    ibb AS (SELECT item, ih, ih % 32 AS bucket FROM ib),
    anchors AS (SELECT DISTINCT doc_id AS a FROM documents
                WHERE doc_id < 20),
    slots AS (
      SELECT a, s.slot,
             ((((a % {_NS_P}) * (s.slot + 1) + {_NS_C})
               % {_NS_P}) * {_NS_A} + {_NS_C})
               % {_NS_P} % 32 AS bucket
      FROM anchors, (SELECT unnest(generate_series(0, 3)) AS slot) s
    ),
    pos AS (SELECT a, a + 1 AS item FROM anchors),
    cand AS (
      SELECT sl.a, sl.slot, b.item, b.ih
      FROM slots sl JOIN ibb b USING (bucket)
      WHERE b.item != sl.a
        AND NOT EXISTS (SELECT 1 FROM pos p
                        WHERE p.a = sl.a AND p.item = b.item)
    ),
    picked AS (
      SELECT a, slot, item FROM (
        SELECT a, slot, item,
               row_number() OVER (PARTITION BY a, slot
                                  ORDER BY ih, item) AS rk
        FROM cand) WHERE rk = 1
    )
    SELECT s.a AS qid, CAST(s.slot AS INT) AS slot,
           CAST(p.item AS BIGINT) AS neg_id
    FROM slots s LEFT JOIN picked p ON s.a = p.a AND s.slot = p.slot
    """,
)
def q249_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four deterministic contrastive negatives for each doc_id < 20
    anchor (its doc_id + 1 treated as the known positive): every
    (anchor, slot, neg_id) draw reproduced by the oracle's identical
    affine-mod bucket walk — the sampling itself is what the hash
    check certifies."""
    docs = load_table(spark, sf_dir, "documents")
    anchors = docs.filter(F.col("doc_id") < 20).select(
        F.col("doc_id").alias("qid"))
    positives = anchors.select(
        "qid", (F.col("qid") + 1).alias("doc_id"))
    return negative_samples(anchors, docs, positives, "qid", "doc_id",
                            k=4, nbuckets=32)


def js_divergence_sources(df: DataFrame, text_col: str,
                          is_p: Column) -> DataFrame:
    """One-row (vocab, n_p_tokens, n_q_tokens, jsd_nats): Jensen-
    Shannon divergence between the unigram distributions of two
    document populations (is_p vs the rest) — the number a mixture
    designer reads before blending sources (symmetric, bounded by
    ln 2, defined even where KL is infinite). Both distributions are
    add-one smoothed over the JOINT vocabulary, so every word
    contributes to both sides and the mid-point M is never zero.

    Counts are exact word-keyed BIGINTs (the only corpus-sized shuffle
    is the token explode — the q220 LM shape); each per-word
    P·ln(P/M) + Q·ln(Q/M) term is a single double expression over
    those integers written token-identically in the oracle, then
    QUANTIZED to floor(term·1e12) BIGINT before summing (the W1 /
    t-closeness discipline) — the sum is an identical integer in both
    engines regardless of accumulation order, so a value landing near
    the 1e-6 pin boundary can never flip on one side only. Terms are
    non-negative (log-sum inequality), so the floor is sign-safe; the
    quantization bias is ≤ vocab·1e-12, ~6 orders under the pin, and
    the integer sum stays ≤ vocab·ln2·1e12 < 2^53 up to ~10¹² distinct
    words — double-exact far past any corpus."""
    toks = df.select(
        is_p.alias("__t"),
        F.explode(tokens(normalize_text(text_col))).alias("__w"))
    cnt = toks.groupBy("__w").agg(
        F.sum(F.when(F.col("__t"), 1).otherwise(0)).cast("long")
        .alias("__cp"),
        F.sum(F.when(F.col("__t"), 0).otherwise(1)).cast("long")
        .alias("__cq"))
    tot = cnt.agg(F.count(F.lit(1)).cast("long").alias("vocab"),
                  F.sum("__cp").cast("long").alias("n_p_tokens"),
                  F.sum("__cq").cast("long").alias("n_q_tokens"))
    j = cnt.crossJoin(F.broadcast(tot))
    p = (F.col("__cp") + 1).cast("double") / (F.col("n_p_tokens")
                                              + F.col("vocab"))
    q = (F.col("__cq") + 1).cast("double") / (F.col("n_q_tokens")
                                              + F.col("vocab"))
    m = (p + q) / 2
    term = (p * F.log(p / m) + q * F.log(q / m)) / 2
    agg = j.groupBy("vocab", "n_p_tokens", "n_q_tokens").agg(
        F.sum(F.floor(term * 1e12).cast("long")).alias("__jsd"))
    return agg.select(
        "vocab", "n_p_tokens", "n_q_tokens",
        pin(F.col("__jsd") / 1e12)
        .alias("jsd_nats"))


@query(
    "q257_js_divergence",
    oracle=f"""
    WITH tok AS (
      SELECT source IN ('src0', 'src1') AS t,
             unnest(string_split({_DSIR_NORM}, ' ')) AS w
      FROM documents
    ),
    cnt AS (
      SELECT w,
             CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS cp,
             CAST(sum(CASE WHEN t THEN 0 ELSE 1 END) AS BIGINT) AS cq
      FROM tok GROUP BY w
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS vocab,
                   CAST(sum(cp) AS BIGINT) AS n_p_tokens,
                   CAST(sum(cq) AS BIGINT) AS n_q_tokens FROM cnt),
    terms AS (
      SELECT vocab, n_p_tokens, n_q_tokens,
             (CAST(cp + 1 AS DOUBLE) / (n_p_tokens + vocab)) AS p,
             (CAST(cq + 1 AS DOUBLE) / (n_q_tokens + vocab)) AS q
      FROM cnt, tot
    )
    SELECT vocab, n_p_tokens, n_q_tokens,
           {pin_sql("sum(CAST(floor((p * ln(p / ((p + q) / 2))"
                    " + q * ln(q / ((p + q) / 2))) / 2 * 1e12)"
                    " AS BIGINT)) / 1e12")} AS jsd_nats
    FROM terms GROUP BY vocab, n_p_tokens, n_q_tokens
    """,
)
def q257_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSD between the src0/src1 population's unigram LM and the rest
    of the corpus (q220's target split) — one value-hash-checked row
    quantifying how far the mixture designer's target domain sits from
    the remainder."""
    docs = load_table(spark, sf_dir, "documents")
    return js_divergence_sources(
        docs, "text", F.col("source").isin("src0", "src1"))


def wasserstein1(df: DataFrame, value_col: str, group_col: str,
                 a: str, b: str) -> DataFrame:
    """One-row (w1, n_a, n_b): the 1-Wasserstein (earth-mover)
    distance between groups `a` and `b` of `value_col` — KS (q136)
    reports the WORST CDF gap, W1 integrates ALL of it (∫|F_a − F_b|),
    so a broad small shift that KS shrugs at still moves W1. Same
    scale shape as KS: the corpus reduces to per-distinct-value counts
    in one map-side-combined group-by; the CDF walk runs on that
    value-domain-sized table. Each |F_a − F_b|·gap term quantizes to
    an exact BIGINT (floor(·1e12) — identical double expression in
    both engines, so identical integer), making the sum ORDER-FREE;
    the quantization bias is ≤ |values|·1e-12, far under the 1e-6
    pin. Empty group → NULL-by-contract."""
    cells = (
        df.filter(F.col(group_col).isin(a, b))
        .groupBy(F.col(value_col).cast("double").alias("__v"))
        .agg(
            F.sum((F.col(group_col) == a).cast("long")).alias("__ca"),
            F.sum((F.col(group_col) == b).cast("long")).alias("__cb"),
        )
    )
    w = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy()
    wl = Window.orderBy("__v")
    m = cells.select(
        "__v",
        F.lead("__v").over(wl).alias("__vn"),
        F.sum("__ca").over(w).alias("__cuma"),
        F.sum("__cb").over(w).alias("__cumb"),
        F.sum("__ca").over(wt).alias("__na"),
        F.sum("__cb").over(wt).alias("__nb"),
    ).filter(F.col("__vn").isNotNull())
    term = F.floor(
        F.abs(F.col("__cuma").cast("double") / F.col("__na")
              - F.col("__cumb").cast("double") / F.col("__nb"))
        * (F.col("__vn") - F.col("__v")) * F.lit(1e12)).cast("long")
    gated = F.when((F.col("__na") > 0) & (F.col("__nb") > 0), term)
    return m.agg(
        pin(F.sum(gated) / F.lit(1e12))
        .alias("w1"),
        F.max("__na").alias("n_a"),
        F.max("__nb").alias("n_b"),
    )


@query(
    "q260_wasserstein_drift",
    oracle=f"""
    WITH s AS (
      SELECT CAST(n_chars AS DOUBLE) AS v,
             CASE WHEN {_hash_u32_sql('doc_id')} % 100 < 80 THEN 'train'
                  WHEN {_hash_u32_sql('doc_id')} % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ),
    c AS (
      SELECT v,
             sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS ca,
             sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS cb
      FROM s WHERE split IN ('train', 'test') GROUP BY v
    ),
    m AS (
      SELECT v, lead(v) OVER (ORDER BY v) AS vn,
             sum(ca) OVER (ORDER BY v) AS cuma,
             sum(cb) OVER (ORDER BY v) AS cumb,
             sum(ca) OVER () AS na,
             sum(cb) OVER () AS nb
      FROM c
    ),
    t AS (
      SELECT na, nb,
             CASE WHEN na > 0 AND nb > 0 THEN
               CAST(floor(abs(CAST(cuma AS DOUBLE) / na
                              - CAST(cumb AS DOUBLE) / nb)
                          * (vn - v) * 1e12) AS BIGINT)
             END AS term
      FROM m WHERE vn IS NOT NULL
    )
    SELECT {pin_sql("sum(term) / 1e12")} AS w1,
           CAST(max(na) AS BIGINT) AS n_a,
           CAST(max(nb) AS BIGINT) AS n_b
    FROM t
    """,
)
def q260_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 distance between the train and test splits' document-length
    distributions (q136's fixture — KS and W1 together are the
    standard drift pair: worst gap + integrated gap), one
    value-hash-checked row."""
    docs = load_table(spark, sf_dir, "documents")
    split = hash_split(docs, "doc_id")
    return wasserstein1(split, "n_chars", "split", "train", "test")


def t_closeness(df: DataFrame, quasi_cols: list[str],
                sensitive: Column) -> DataFrame:
    """(quasi..., n, emd): per-equivalence-class t-closeness — the
    ordered-attribute earth-mover distance between each class's
    sensitive-value distribution and the global one,
    EMD = Σ_i |cum_g(i)/n_g − cum(i)/N| / (k−1) over the k-value
    domain (Li et al. 2007; a release is t-close iff max(emd) ≤ t).
    Completes the privacy-audit trio: k-anonymity (q203) bounds class
    SIZE, l-diversity (q219) bounds sensitive CARDINALITY, t-closeness
    bounds sensitive DISTRIBUTION distance — the strongest of the
    three.

    Scale shape: one (quasi × value) cell group-by; the dense grid is
    classes × the bounded value domain (the per-class CDF needs zero
    cells, so values broadcast onto the class frame); per-class CDFs
    are numerous-small-group windows. Per-step gaps quantize to exact
    BIGINTs (floor(·1e12), identical text both engines) so the
    per-class sum is order-free; emd pins at 1e-6."""
    sv = sensitive.cast("long").alias("__s")
    cells = (df.select(*quasi_cols, sv)
             .groupBy(*quasi_cols, "__s")
             .agg(F.count(F.lit(1)).cast("long").alias("__c")))
    values = (cells.groupBy("__s")
              .agg(F.sum("__c").cast("long").alias("__cg")))
    wv = Window.orderBy("__s").rowsBetween(Window.unboundedPreceding, 0)
    gdist = values.select(
        "__s", F.sum("__cg").over(wv).alias("__gcum"),
        F.sum("__cg").over(Window.partitionBy()).alias("__n"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("__k"))
    groups = cells.select(*quasi_cols).distinct()
    grid = (groups.join(F.broadcast(gdist.select("__s", "__gcum",
                                                 "__n", "__k")),
                        how="cross")
            .join(cells, [*quasi_cols, "__s"], "left")
            .na.fill({"__c": 0}))
    wg = (Window.partitionBy(*quasi_cols).orderBy("__s")
          .rowsBetween(Window.unboundedPreceding, 0))
    wgt = Window.partitionBy(*quasi_cols)
    stepped = grid.select(
        *quasi_cols, "__gcum", "__n", "__k",
        F.sum("__c").over(wg).alias("__cum"),
        F.sum("__c").over(wgt).alias("__ng"))
    term = F.floor(
        F.abs(F.col("__cum").cast("double") / F.col("__ng")
              - F.col("__gcum").cast("double") / F.col("__n"))
        * F.lit(1e12)).cast("long")
    agg = (stepped.groupBy(*quasi_cols)
           .agg(F.max("__ng").alias("n"),
                F.max("__k").alias("__k"),
                F.sum(term).alias("__t")))
    emd = F.col("__t") / F.lit(1e12) / (F.col("__k") - 1)
    return agg.select(
        *quasi_cols, "n",
        F.when(F.col("__k") > 1,
               pin(emd))
        .alias("emd"))


@query(
    "q259_t_closeness",
    oracle=f"""
    WITH src AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS s
      FROM customer
    ),
    cells AS (
      SELECT c_nationkey, c_mktsegment, s,
             CAST(count(*) AS BIGINT) AS c
      FROM src GROUP BY 1, 2, 3
    ),
    vals AS (
      SELECT s, CAST(sum(c) AS BIGINT) AS cg FROM cells GROUP BY s
    ),
    gdist AS (
      SELECT s, sum(cg) OVER (ORDER BY s) AS gcum,
             sum(cg) OVER () AS n,
             count(*) OVER () AS k
      FROM vals
    ),
    grid AS (
      SELECT g.c_nationkey, g.c_mktsegment, d.s, d.gcum, d.n, d.k,
             coalesce(c.c, 0) AS c
      FROM (SELECT DISTINCT c_nationkey, c_mktsegment FROM cells) g
      CROSS JOIN gdist d
      LEFT JOIN cells c ON c.c_nationkey = g.c_nationkey
                       AND c.c_mktsegment = g.c_mktsegment
                       AND c.s = d.s
    ),
    stepped AS (
      SELECT c_nationkey, c_mktsegment, gcum, n, k,
             sum(c) OVER (PARTITION BY c_nationkey, c_mktsegment
                          ORDER BY s) AS cum,
             sum(c) OVER (PARTITION BY c_nationkey, c_mktsegment)
               AS ng
      FROM grid
    ),
    agg AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(max(ng) AS BIGINT) AS n, max(k) AS k,
             CAST(sum(CAST(floor(abs(CAST(cum AS DOUBLE) / ng
                                     - CAST(gcum AS DOUBLE) / n)
                                 * 1e12) AS BIGINT)) AS BIGINT) AS t
      FROM stepped GROUP BY 1, 2
    )
    SELECT c_nationkey, c_mktsegment, n,
           CASE WHEN k > 1 THEN
             {pin_sql("t / 1e12 / (k - 1)")}
           END AS emd
    FROM agg
    """,
)
def q259_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit of the q203/q219 release shape: per
    (nation, segment) class, the EMD between its account-balance-
    bucket distribution and the global one — every (class, n, emd) row
    value-hash-checked. max(emd) over the output IS the release's t."""
    c = load_table(spark, sf_dir, "customer")
    return t_closeness(c, ["c_nationkey", "c_mktsegment"],
                       F.floor(F.col("c_acctbal") / 1000))


def cramers_v(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """One-row (chi2, dof, n, v): Cramér's V — chi-square (q135's
    exact machinery, zero-cell correction included) normalized to
    [0, 1] so association strengths are comparable ACROSS tables:
    V = sqrt(chi2 / (n·(min(|A|,|B|)−1))). Same single cell group-by;
    v derives from the ALREADY-PINNED chi2 (sqrt is IEEE-exact), so
    both engines compute the identical double. Degenerate domains
    (|A| or |B| = 1) report v NULL-by-contract."""
    cells = (
        df.filter(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
        .groupBy(F.col(a_col).alias("__a"), F.col(b_col).alias("__b"))
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    wa = Window.partitionBy("__a")
    wb = Window.partitionBy("__b")
    wt = Window.partitionBy()
    m = cells.select(
        "__a", "__b", "__n",
        F.sum("__n").over(wa).alias("__ra"),
        F.sum("__n").over(wb).alias("__cb"),
        F.sum("__n").over(wt).alias("__tot"),
    )
    e = (F.col("__ra").cast("double") * F.col("__cb")) / F.col("__tot")
    term = (F.col("__n") - e) * (F.col("__n") - e) / e
    agg = m.agg(
        pin(F.sum(term) + F.max("__tot") - F.sum(e)).alias("chi2"),
        ((F.countDistinct("__a") - 1)
         * (F.countDistinct("__b") - 1)).alias("dof"),
        F.max("__tot").alias("n"),
        F.least(F.countDistinct("__a"), F.countDistinct("__b"))
        .alias("__mink"))
    v = F.sqrt(F.col("chi2")
               / (F.col("n").cast("double") * (F.col("__mink") - 1)))
    return agg.select(
        "chi2", "dof", "n",
        F.when(F.col("__mink") > 1,
               pin(v)).alias("v"))


@query(
    "q264_cramers_v",
    oracle=f"""
    WITH c AS (
      SELECT lang, source, count(*) AS n FROM documents
      WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2
    ),
    m AS (
      SELECT n,
             sum(n) OVER (PARTITION BY lang) AS ra,
             sum(n) OVER (PARTITION BY source) AS cb,
             sum(n) OVER () AS tot
      FROM c
    ),
    agg AS (
      SELECT {pin_sql("(sum((n - CAST(ra AS DOUBLE) * cb / tot)"
                      " * (n - CAST(ra AS DOUBLE) * cb / tot)"
                      " / (CAST(ra AS DOUBLE) * cb / tot))"
                      " + max(tot)"
                      " - sum(CAST(ra AS DOUBLE) * cb / tot))")} AS chi2,
             CAST(max(tot) AS BIGINT) AS n
      FROM m
    ),
    ks AS (
      SELECT count(DISTINCT lang) AS ka, count(DISTINCT source) AS kb
      FROM c
    )
    SELECT chi2,
           CAST((ka - 1) * (kb - 1) AS BIGINT) AS dof, n,
           CASE WHEN least(ka, kb) > 1 THEN
             {pin_sql("sqrt(chi2"
                      " / (CAST(n AS DOUBLE) * (least(ka, kb) - 1)))")}
           END AS v
    FROM agg, ks
    """,
)
def q264_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V between document language and source — the
    normalized lang×source association a mixture designer compares
    across tables. One hash-checked row: pinned chi2, exact dof/n,
    pinned v."""
    docs = load_table(spark, sf_dir, "documents")
    return cramers_v(docs, "lang", "source")


def cramer_von_mises(df: DataFrame, value_col: str, group_col: str,
                     a: str, b: str) -> DataFrame:
    """One-row (n_a, n_b, cvm): the two-sample Cramér–von Mises
    criterion between groups `a` and `b` —
    T = (n_a·n_b / N²) · Σ_pooled (F_a(x) − F_b(x))², the squared-gap
    integral over the pooled empirical distribution. Completes the
    drift trio: KS (q136) reports the WORST CDF gap, W1 (q260) the
    integrated |gap|, CvM the integrated SQUARED gap (most sensitive
    to several medium gaps at once). Round-11 registration candidate.

    Same scale shape as both siblings: per-distinct-value counts in one
    map-side-combined group-by, then a value-domain-sized CDF walk.
    Each gap²·1e12 quantizes to a BIGINT and multiplies the exact cell
    count BEFORE the sum (both engines identical integers, so the sum
    is order-free; carried at DECIMAL(38,0)/HUGEINT since Σ ≤ n·1e12);
    the quantization itself is the contract — bias ≤ n·1e-12/N²·n_an_b
    ≪ the 1e-6 pin. Empty group → NULL-by-contract."""
    cells = (
        df.filter(F.col(group_col).isin(a, b))
        .groupBy(F.col(value_col).cast("double").alias("__v"))
        .agg(
            F.sum((F.col(group_col) == a).cast("long")).alias("__ca"),
            F.sum((F.col(group_col) == b).cast("long")).alias("__cb"),
        )
    )
    w = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy()
    m = cells.select(
        (F.col("__ca") + F.col("__cb")).alias("__c"),
        F.sum("__ca").over(w).alias("__cuma"),
        F.sum("__cb").over(w).alias("__cumb"),
        F.sum("__ca").over(wt).alias("__na"),
        F.sum("__cb").over(wt).alias("__nb"),
    )
    gap = (F.col("__cuma").cast("double") / F.col("__na")
           - F.col("__cumb").cast("double") / F.col("__nb"))
    term = (dec(F.col("__c"))
            * dec(F.floor(gap * gap * F.lit(1e12))))
    agg = m.filter((F.col("__na") > 0) & (F.col("__nb") > 0)).agg(
        F.sum(term).alias("__ts"),
        F.max("__na").alias("n_a"),
        F.max("__nb").alias("n_b"))
    nn = (F.col("n_a") + F.col("n_b")).cast("double")
    cvm = (F.col("n_a").cast("double") * F.col("n_b") / (nn * nn)
           * (F.col("__ts").cast("double") / F.lit(1e12)))
    return agg.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        pin(cvm).alias("cvm"))


def _cvm_oracle() -> str:
    gap = "(CAST(cuma AS DOUBLE) / na - CAST(cumb AS DOUBLE) / nb)"
    return f"""
    WITH s AS (
      SELECT n_chars,
             CASE WHEN {_hash_u32_sql('doc_id')} % 100 < 80 THEN 'train'
                  WHEN {_hash_u32_sql('doc_id')} % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ),
    c AS (
      SELECT CAST(n_chars AS DOUBLE) AS v,
             CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
               AS BIGINT) AS ca,
             CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END)
               AS BIGINT) AS cb
      FROM s WHERE split IN ('train', 'test') GROUP BY 1
    ),
    m AS (
      SELECT ca + cb AS c,
             sum(ca) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cuma,
             sum(cb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cumb,
             sum(ca) OVER () AS na, sum(cb) OVER () AS nb
      FROM c
    ),
    agg AS (
      SELECT sum(CAST(c AS HUGEINT)
                 * CAST(floor({gap} * {gap} * 1e12) AS HUGEINT)) AS ts,
             CAST(max(na) AS BIGINT) AS n_a,
             CAST(max(nb) AS BIGINT) AS n_b
      FROM m WHERE na > 0 AND nb > 0
    )
    SELECT n_a, n_b,
           {pin_sql("CAST(n_a AS DOUBLE) * n_b"
                    " / (CAST(n_a + n_b AS DOUBLE)"
                    " * CAST(n_a + n_b AS DOUBLE))"
                    " * (CAST(ts AS DOUBLE) / 1e12)")}
             AS cvm
    FROM agg
    """


@query("q279_cramer_von_mises", oracle=_cvm_oracle())
def q279_cramer_von_mises(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér–von Mises between the train and test splits' document
    lengths — the squared-gap integral completing q136 KS (worst gap)
    and q260 W1 (integrated |gap|). One hash-checked row."""
    docs = load_table(spark, sf_dir, "documents")
    split = hash_split(docs, "doc_id")
    return cramer_von_mises(split, "n_chars", "split", "train", "test")


def mixture_conformance(df: DataFrame, dim_col: str,
                        expected_ppm: dict[str, int]) -> DataFrame:
    """(category, n, expected_ppm, observed_ppm, deviation_ppm,
    chi2_term): does the ACTUAL corpus mix match the DECLARED mixture
    spec (the dataset card's weights, q169/q185's contract)? One row
    per declared category plus one '__other__' row for anything
    undeclared — so both drift WITHIN the spec and contamination
    OUTSIDE it surface. Round-11 registration candidate.

    One map-side-combined category group-by joined against the
    broadcast spec; counts and ppm values are exact integers
    (observed_ppm = n·1e6 div N — floored integer division, identical
    both engines); each chi-square term (o−e)²/e is a single pinned
    double over exact integers. Σ chi2_term is the audit statistic;
    emitting per-category terms keeps every row hash-checkable AND
    points at the offending source directly.

    '__other__' is RESERVED for the undeclared-mass row this operator
    adds itself; a spec that declares it would collide with that row
    in the full_outer join and double-report the category, so it is
    rejected up front."""
    if "__other__" in expected_ppm:
        raise ValueError(
            "expected_ppm must not declare '__other__' — it is the "
            "reserved catch-all row mixture_conformance itself emits")
    spark = df.sparkSession
    spec = spark.createDataFrame(
        sorted(expected_ppm.items()),
        "category string, expected_ppm long")
    cells = (df.select(
        F.coalesce(
            F.when(F.col(dim_col).isin(*expected_ppm.keys()),
                   F.col(dim_col)),
            F.lit("__other__")).alias("category"))
        .groupBy("category")
        .agg(F.count(F.lit(1)).cast("long").alias("n")))
    tot = cells.agg(F.sum("n").cast("long").alias("__tot"))
    full = (spec.unionByName(spark.createDataFrame(
        [("__other__", 0)], "category string, expected_ppm long"))
        .join(cells, "category", "full_outer")
        .crossJoin(F.broadcast(tot))
        .select("category",
                F.coalesce("n", F.lit(0)).cast("long").alias("n"),
                F.coalesce("expected_ppm", F.lit(0)).cast("long")
                .alias("expected_ppm"),
                "__tot"))
    obs_ppm = F.expr("(n * 1000000) div __tot")
    e = (F.col("expected_ppm").cast("double") / 1e6
         * F.col("__tot"))
    chi = F.when(F.col("expected_ppm") > 0,
                 pin((F.col("n") - e) * (F.col("n") - e) / e))
    return full.select(
        "category", "n", "expected_ppm",
        obs_ppm.alias("observed_ppm"),
        (obs_ppm - F.col("expected_ppm")).alias("deviation_ppm"),
        chi.alias("chi2_term"))


def anderson_darling_2s(df: DataFrame, value_col: str, group_col: str,
                        a: str, b: str) -> DataFrame:
    """One-row (n_a, n_b, a2): the two-sample Anderson–Darling
    statistic (Scholz–Stephens k-sample form at k = 2, ties handled by
    distinct-value cells) — the TAIL-SENSITIVE member of the drift
    family: KS (q136) sees the worst gap, W1 (q260) the integrated
    gap, CvM (q279) the integrated squared gap, AD reweights that
    integral by 1/(F(1−F)) so divergence in the tails — where a
    quality filter actually bites — dominates. Round-11 registration
    candidate.

    A² = Σ_j ℓ_j·[(N·M_aj − n_a·B_j)²/(n_a) + (N·M_bj − n_b·B_j)²/
    (n_b)] / (N·B_j·(N−B_j)) over non-final distinct values (ℓ = tie
    count, B = pooled cum, M = per-group cum). Same value-domain walk
    as its siblings; each bracket is exact int128 integers
    ((N·M − n·B)² tops int64; the inner N·M product itself stays in
    int64 up to N < 3e9 rows — the documented bound, same class as
    gini's c·(c+1)/2), the per-value term is one
    exact-integer-derived double quantized to floor(·1e12) BIGINT —
    order-free sum — and A² pins once. Empty group →
    NULL-by-contract."""
    cells = (
        df.filter(F.col(group_col).isin(a, b))
        .groupBy(F.col(value_col).cast("double").alias("__v"))
        .agg(
            F.sum((F.col(group_col) == a).cast("long")).alias("__ca"),
            F.sum((F.col(group_col) == b).cast("long")).alias("__cb"),
        )
    )
    w = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy()
    m = cells.select(
        (F.col("__ca") + F.col("__cb")).alias("__l"),
        F.sum("__ca").over(w).alias("__ma"),
        F.sum("__cb").over(w).alias("__mb"),
        F.sum("__ca").over(wt).alias("__na"),
        F.sum("__cb").over(wt).alias("__nb"),
    )
    nn = F.col("__na") + F.col("__nb")
    bb = F.col("__ma") + F.col("__mb")
    da = dec(nn * F.col("__ma") - F.col("__na") * bb)
    db = dec(nn * F.col("__mb") - F.col("__nb") * bb)
    bracket = (da * da).cast("double") / F.col("__na") \
        + (db * db).cast("double") / F.col("__nb")
    term = (F.col("__l").cast("double") * bracket
            / (nn.cast("double") * bb * (nn - bb)))
    qterm = F.floor(term * F.lit(1e12)).cast("long")
    agg = (m.filter((F.col("__na") > 0) & (F.col("__nb") > 0)
                    & (bb < nn))
           .agg(F.sum(qterm).alias("__ts"),
                F.max("__na").alias("n_a"),
                F.max("__nb").alias("n_b")))
    return agg.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        pin(F.col("__ts") / F.lit(1e12)).alias("a2"))


_MIX_SPEC = {f"src{i}": 50_000 for i in range(16)}
_MIX_SPEC["src16"] = 200_000


def _mix_oracle() -> str:
    declared = ", ".join(f"('{k}', {v})" for k, v in
                         sorted(_MIX_SPEC.items()))
    inlist = ", ".join(f"'{k}'" for k in sorted(_MIX_SPEC))
    return f"""
    WITH spec AS (
      SELECT * FROM (VALUES {declared}, ('__other__', 0))
        AS t(category, expected_ppm)
    ),
    cells AS (
      SELECT CASE WHEN source IN ({inlist}) THEN source
                  ELSE '__other__' END AS category,
             CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM cells),
    fl AS (
      SELECT coalesce(s.category, c.category) AS category,
             CAST(coalesce(c.n, 0) AS BIGINT) AS n,
             CAST(coalesce(s.expected_ppm, 0) AS BIGINT)
               AS expected_ppm,
             tot
      FROM spec s FULL JOIN cells c ON s.category = c.category, tot
    )
    SELECT category, n, expected_ppm,
           CAST((n * 1000000) // tot AS BIGINT) AS observed_ppm,
           CAST((n * 1000000) // tot - expected_ppm AS BIGINT)
             AS deviation_ppm,
           CASE WHEN expected_ppm > 0 THEN
             {pin_sql("(n - CAST(expected_ppm AS DOUBLE) / 1e6 * tot)"
                      " * (n - CAST(expected_ppm AS DOUBLE) / 1e6 * tot)"
                      " / (CAST(expected_ppm AS DOUBLE) / 1e6 * tot)")}
           END AS chi2_term
    FROM fl
    """


@query("q287_mixture_conformance", oracle=_mix_oracle())
def q287_mixture_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does the document corpus match its declared source mixture
    (5% per srcN plus a 20% src16 slice)? Per-category observed/
    expected ppm, deviation, and chi-square term — drift inside the
    spec AND contamination outside it (the '__other__' row) in one
    hash-checked table."""
    docs = load_table(spark, sf_dir, "documents")
    return mixture_conformance(docs, "source", _MIX_SPEC)


def _ad_oracle() -> str:
    return f"""
    WITH s AS (
      SELECT n_chars,
             CASE WHEN {_hash_u32_sql('doc_id')} % 100 < 80 THEN 'train'
                  WHEN {_hash_u32_sql('doc_id')} % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ),
    c AS (
      SELECT CAST(n_chars AS DOUBLE) AS v,
             CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
               AS BIGINT) AS ca,
             CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END)
               AS BIGINT) AS cb
      FROM s WHERE split IN ('train', 'test') GROUP BY 1
    ),
    m AS (
      SELECT ca + cb AS l,
             sum(ca) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS ma,
             sum(cb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS mb,
             sum(ca) OVER () AS na, sum(cb) OVER () AS nb
      FROM c
    ),
    t AS (
      SELECT na, nb,
             CAST(floor(
               CAST(l AS DOUBLE)
               * (CAST(CAST((na + nb) * ma - na * (ma + mb) AS HUGEINT)
                       * ((na + nb) * ma - na * (ma + mb)) AS DOUBLE)
                  / na
                  + CAST(CAST((na + nb) * mb - nb * (ma + mb) AS HUGEINT)
                         * ((na + nb) * mb - nb * (ma + mb)) AS DOUBLE)
                    / nb)
               / (CAST(na + nb AS DOUBLE) * (ma + mb)
                  * ((na + nb) - (ma + mb)))
               * 1e12) AS BIGINT) AS q
      FROM m
      WHERE na > 0 AND nb > 0 AND ma + mb < na + nb
    )
    SELECT CAST(max(na) AS BIGINT) AS n_a,
           CAST(max(nb) AS BIGINT) AS n_b,
           {pin_sql("sum(q) / 1e12")} AS a2
    FROM t
    """


@query("q288_anderson_darling", oracle=_ad_oracle())
def q288_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Anderson-Darling between the train and test splits'
    document lengths — the tail-weighted member of the drift family
    (KS q136 / W1 q260 / CvM q279 complete the set). One hash-checked
    (n_a, n_b, a2) row."""
    docs = load_table(spark, sf_dir, "documents")
    split = hash_split(docs, "doc_id")
    return anderson_darling_2s(split, "n_chars", "split",
                               "train", "test")


_DP_SALT = 777


def dp_noisy_counts(df: DataFrame, dim: Column, epsilon: float = 1.0,
                    salt: int = _DP_SALT) -> DataFrame:
    """(cohort, n, noise, noisy_n, epsilon): ε-differentially-private
    release of per-cohort counts via the Laplace mechanism —
    sensitivity of a count under add/remove-one is 1, so noise ~
    Laplace(1/ε) added to each count gives the textbook ε-DP release.
    The noise here is SEEDED: inverse-CDF over the portable hash
    (u = (hash_u32(cohort+salt) + 0.5)/2³², the +0.5 keeping u strictly
    inside (0,1) so ln never sees 0), which makes the release
    reproducible cross-engine and hash-checkable — the correctness
    property under test is the MECHANISM (inverse CDF, scale, clamp),
    not secrecy; a production release would draw u from a CSPRNG and
    emit ONLY noisy_n. Truth columns are emitted beside the noisy ones
    for exactly that audit purpose.

    Scale shape: one map-side-combined group-by; noise is a per-GROUP
    scalar expression (cohort-count many rows, not corpus rows). ln is
    bit-identical cross-engine here (the q265 pins)."""
    cells = (df.select(dim.cast("long").alias("cohort"))
             .filter(F.col("cohort").isNotNull())
             .groupBy("cohort")
             .agg(F.count(F.lit(1)).cast("long").alias("n")))
    u = (hash_u32(F.col("cohort") + salt) + F.lit(0.5)) \
        / F.lit(4294967296.0)
    c = u - F.lit(0.5)
    noise = (F.lit(-1.0 / epsilon) * F.signum(c)
             * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(c)))
    return cells.select(
        "cohort", "n",
        pin(noise).alias("noise"),
        pin(F.col("n") + noise).alias("noisy_n"),
        F.lit(float(epsilon)).alias("epsilon"))


@query(
    "q298_dp_noisy_counts",
    oracle=f"""
    WITH cells AS (
      SELECT user_id % 32 AS cohort,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    nz AS (
      SELECT cohort, n,
             -1.0 * sign((({_hash_u32_sql('(cohort + 777)')}) + 0.5)
                         / 4294967296.0 - 0.5)
             * ln(1.0 - 2.0
                  * abs((({_hash_u32_sql('(cohort + 777)')}) + 0.5)
                        / 4294967296.0 - 0.5))
               AS noise
      FROM cells
    )
    SELECT cohort, n,
           {pin_sql("noise")} AS noise,
           {pin_sql("(n + noise)")} AS noisy_n,
           1.0 AS epsilon
    FROM nz
    """,
)
def q298_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε=1 Laplace-mechanism release of per-cohort event counts
    (user_id mod 32 cohorts) with the seeded inverse-CDF noise —
    mechanism arithmetic hash-checked row for row."""
    ev = load_table(spark, sf_dir, "events")
    return dp_noisy_counts(ev, F.col("user_id") % 32)
