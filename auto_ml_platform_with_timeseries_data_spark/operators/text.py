"""Text-analysis operators for training-data pipelines (BASELINE.json
north star): token statistics, quality scoring, language identification,
document fingerprinting (the md5 fingerprint lives in dedup.py).

All operators are pure pyspark.sql.functions expressions — one
projection / one narrow pass per document, no UDFs, no shuffle — so
they stream through 100 TB at scan speed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from auto_ml_platform_with_timeseries_data_spark.functions.text_exprs import (
    normalize_text,
    tokens,
)
from auto_ml_platform_with_timeseries_data_spark.operators.timeseries import (
    pin,
    pin_sql,
)
from auto_ml_platform_with_timeseries_data_spark.registry import query
from auto_ml_platform_with_timeseries_data_spark.tables import keep, load_table, release

# Synthetic language profiles over the fixtures' generator vocabulary.
# Real language-ID swaps in per-language stopword/character-ngram
# profiles; the operator (profile-score + argmax) is unchanged.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "fast", "slow"),
    "es": ("data", "table", "row", "column"),
    "de": ("join", "merge", "sort", "hash"),
    "fr": ("query", "filter", "scan", "agg"),
    "zh": ("spark", "stream", "batch", "vector"),
}


def token_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n_tokens, n_distinct_tokens, avg_token_len) per document.

    Token counting baseline: whitespace tokenization over normalized
    text (a BPE-ish subword estimate = n_chars/4 is also exposed)."""
    toks = tokens(normalize_text(text_col))
    tok_lens = F.transform(toks, lambda t: F.length(t))
    return df.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.round(
            F.aggregate(tok_lens, F.lit(0).cast("bigint"), lambda a, x: a + x)
            .cast("double") / F.size(toks),
            6,
        ).alias("avg_token_len"),
        (F.length(normalize_text(text_col)) / F.lit(4.0)).alias("approx_bpe_tokens"),
    )


def quality_score(df: DataFrame, id_col: str, text_col: str,
                  stopwords: tuple[str, ...] = ("the", "a")) -> DataFrame:
    """Heuristic document quality: stopword ratio (fluency proxy),
    length saturation, alpha-character ratio. score ∈ [0,1]."""
    norm = normalize_text(text_col)
    toks = tokens(norm)
    n_tok = F.size(toks)
    stop_ratio = (
        F.size(F.filter(toks, lambda t: t.isin(*stopwords))).cast("double") / n_tok
    )
    len_score = F.least(n_tok.cast("double"), F.lit(200.0)) / F.lit(200.0)
    # an empty document has zero normalized length: alpha ratio is 0
    # by contract (no signal), never an ANSI divide error
    alpha_ratio = F.when(
        F.length(norm) > 0,
        F.length(F.regexp_replace(norm, r"[^a-z]", "")).cast("double")
        / F.length(norm),
    ).otherwise(F.lit(0.0))
    return df.select(
        F.col(id_col),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(len_score, 6).alias("length_score"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        F.round((stop_ratio + len_score + alpha_ratio) / 3.0, 6).alias("quality"),
    )


def language_id(df: DataFrame, id_col: str, text_col: str,
                profiles: dict[str, tuple[str, ...]] | None = None) -> DataFrame:
    """Profile-scoring language ID: score(lang) = fraction of tokens in
    that language's marker set; argmax with alphabetical tie-break.
    Implemented as a stack → window argmax so the plan is one narrow
    projection + one tiny per-doc reduction."""
    profiles = profiles or LANG_PROFILES
    toks = tokens(normalize_text(text_col))
    score_cols = []
    for lang, markers in sorted(profiles.items()):
        score = (
            F.size(F.filter(toks, lambda t: t.isin(*markers))).cast("double")
            / F.size(toks)
        )
        score_cols.append(F.round(score, 6).alias(f"__s_{lang}"))
    scored = df.select(F.col(id_col), *score_cols)
    pairs = ", ".join(f"'{lang}', __s_{lang}" for lang in sorted(profiles))
    long = scored.selectExpr(
        id_col, f"stack({len(profiles)}, {pairs}) as (predicted_lang, score)"
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("predicted_lang"))
    return (
        long.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(id_col, "predicted_lang", "score")
    )


# ---------------------------------------------------------------------------
# Registered queries + oracles
# ---------------------------------------------------------------------------

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKS = f"string_split({_NORM}, ' ')"


@query(
    "q20_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len({_TOKS}) AS INT) AS n_tokens,
           CAST(len(list_distinct({_TOKS})) AS INT) AS n_distinct_tokens,
           ROUND(CAST(list_sum(list_transform({_TOKS}, t -> len(t))) AS DOUBLE)
                 / len({_TOKS}), 6) AS avg_token_len,
           len({_NORM}) / 4.0 AS approx_bpe_tokens
    FROM documents
    """,
)
def q20_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_stats(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "q21_quality_score",
    oracle=f"""
    SELECT doc_id,
           ROUND(CAST(len(list_filter({_TOKS}, t -> t IN ('the', 'a'))) AS DOUBLE)
                 / len({_TOKS}), 6) AS stopword_ratio,
           ROUND(LEAST(CAST(len({_TOKS}) AS DOUBLE), 200.0) / 200.0, 6) AS length_score,
           ROUND(CAST(len(regexp_replace({_NORM}, '[^a-z]', '', 'g')) AS DOUBLE)
                 / len({_NORM}), 6) AS alpha_ratio,
           ROUND((CAST(len(list_filter({_TOKS}, t -> t IN ('the', 'a'))) AS DOUBLE) / len({_TOKS})
                  + LEAST(CAST(len({_TOKS}) AS DOUBLE), 200.0) / 200.0
                  + CAST(len(regexp_replace({_NORM}, '[^a-z]', '', 'g')) AS DOUBLE) / len({_NORM})
                 ) / 3.0, 6) AS quality
    FROM documents
    """,
)
def q21_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(load_table(spark, sf_dir, "documents"), "doc_id", "text")


def _langid_oracle() -> str:
    unions = " UNION ALL ".join(
        f"""SELECT doc_id, '{lang}' AS predicted_lang,
            ROUND(CAST(len(list_filter({_TOKS}, t -> t IN ({marker_list}))) AS DOUBLE)
                  / len({_TOKS}), 6) AS score
            FROM documents"""
        for lang, markers in sorted(LANG_PROFILES.items())
        for marker_list in [", ".join(f"'{m}'" for m in markers)]
    )
    return f"""
    SELECT doc_id, predicted_lang, score FROM ({unions})
    QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, predicted_lang ASC) = 1
    """


@query("q22_langid", oracle=_langid_oracle())
def q22_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return language_id(load_table(spark, sf_dir, "documents"), "doc_id", "text")


def winnow_fingerprints(df: DataFrame, id_col: str, text_col: str,
                        k: int = 3, w: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., MOSS): hash
    every k-token shingle with a rolling window of w hashes, select each
    window's minimum — guarantees a shared fingerprint for any match of
    length ≥ w+k−1 tokens while storing ~2/(w+1) of all hashes. Output:
    (id, fingerprint) distinct pairs.

    The hash is int(md5(gram)[:8], 16) — portable across engines (DuckDB
    casts '0x…' strings; Spark `conv`), unlike xxhash64/murmur which
    exist in only one of the two.

    Fully NARROW plan: token array → gram-hash array (bound in its own
    projection — HOF lambdas can't CSE an inline chain, see dedup.py) →
    per-window minima via slice/array_min → array_distinct → explode.
    Zero shuffles: fingerprinting runs at scan speed on any cluster."""
    tok = df.select(
        F.col(id_col), tokens(normalize_text(text_col)).alias("__t")
    ).filter(F.size("__t") >= k + w - 1)
    hashes = tok.select(
        id_col,
        F.transform(
            F.sequence(F.lit(0), F.size("__t") - k),
            lambda i: F.conv(
                F.substring(
                    F.md5(F.array_join(F.slice("__t", i + 1, k), " ")), 1, 8
                ),
                16, 10,
            ).cast("long"),
        ).alias("__h"),
    )
    mins = hashes.select(
        id_col,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size("__h") - w),
                lambda j: F.array_min(F.slice("__h", j + 1, w)),
            )
        ).alias("__fps"),
    )
    # explode_OUTER, deliberately: plain explode triggers
    # InferFiltersFromGenerate, which infers `size(__fps) > 0` and pushes
    # it below every projection with the whole tokenize→md5→window-min
    # chain INLINED — measured 29s vs 0.6s at sf0.001 (~50× slowdown).
    # The outer variant infers no filter, and emits no null rows here
    # because the token-count filter guarantees ≥ 1 window per doc.
    return mins.select(
        F.col(id_col), F.explode_outer("__fps").alias("fingerprint")
    )


@query(
    "q51_winnow_fingerprints",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS tk
      FROM documents
    ),
    h AS (
      SELECT doc_id,
             list_transform(range(1, len(tk) - 3 + 2),
               i -> CAST('0x' || substr(md5(array_to_string(tk[i:i+2], ' ')), 1, 8) AS BIGINT)
             ) AS hs
      FROM t WHERE len(tk) >= 3 + 4 - 1
    )
    SELECT doc_id,
           unnest(list_distinct(list_transform(range(1, len(hs) - 4 + 2),
                  j -> list_min(hs[j:j+3])))) AS fingerprint
    FROM h
    """,
)
def q51_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, "doc_id", "text", k=3, w=4)


# GPT-2-ish pre-tokenizer: contractions | words | 1-3 digit number
# chunks | punctuation runs. Deliberately restricted to a regex subset
# with identical semantics in Java regex (Spark) and RE2 (DuckDB).
BPE_PRETOKEN_PATTERN = r"'[a-z]+|[a-z]+|[0-9]{1,3}|[^a-z0-9\s]+"


def bpe_token_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n_bpe_tokens, n_distinct_bpe_tokens): BPE-style pre-token
    counts — the unit LLM data budgets are written in (≈ tokens before
    merges; the whitespace count in token_stats underestimates by ~1.3×
    on punctuated text). One narrow projection, JVM regex, no UDF."""
    toks = F.regexp_extract_all(
        normalize_text(text_col), F.lit(BPE_PRETOKEN_PATTERN), 0)
    return df.select(
        F.col(id_col),
        F.size(toks).alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_bpe_tokens"),
    )


@query(
    "q57_bpe_tokens",
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
               '''[a-z]+|[a-z]+|[0-9]{1,3}|[^a-z0-9\\s]+')) AS n_bpe_tokens,
           len(list_distinct(regexp_extract_all(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
               '''[a-z]+|[a-z]+|[0-9]{1,3}|[^a-z0-9\\s]+'))) AS n_distinct_bpe_tokens
    FROM documents
    """,
)
def q57_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return bpe_token_stats(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# TF-IDF top terms per document
# ---------------------------------------------------------------------------


def tfidf_top_terms(df: DataFrame, id_col: str, text_col: str,
                    k: int = 3) -> DataFrame:
    """Top-k characteristic terms per document by raw-count TF × smooth
    IDF (ln((N+1)/(df+1)) + 1, the sklearn convention); ties break
    lexicographically so the ranking is total and engine-portable.

    Two shuffles at any scale: term counts per (doc, term) — one
    exchange keyed by doc spread over terms, partial-aggregated
    map-side — and the per-doc top-k window. The document-frequency
    table joins in as a broadcast (|vocab| rows, small next to the
    corpus); N arrives as a 1-row broadcast cross join, never a
    driver collect."""
    toks = df.select(
        F.col(id_col).alias("__id"),
        tokens(normalize_text(text_col)).alias("__toks"),
    ).filter(F.size("__toks") > 0)
    terms = toks.select("__id", F.explode("__toks").alias("term"))
    tf = terms.groupBy("__id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = terms.groupBy("term").agg(
        F.countDistinct("__id").alias("__df"))
    n_docs = toks.agg(F.count(F.lit(1)).alias("__n"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "__tfidf",
            F.col("tf") * (F.log((F.col("__n") + 1) / (F.col("__df") + 1)) + 1),
        )
    )
    w = Window.partitionBy("__id").orderBy(F.desc("__tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("__id").alias(id_col), "term", "rank",
                F.round("__tfidf", 6).alias("tfidf"))
    )


@query(
    "q89_tfidf_topk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents WHERE len({_TOKS}) > 0
    ), terms AS (
      SELECT doc_id, unnest(t) AS term FROM toks
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY term
    ), n AS (SELECT count(*) AS n_docs FROM toks),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             tf.tf * (ln((n.n_docs + 1) / CAST(dfreq.df + 1 AS DOUBLE)) + 1)
               AS tfidf
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, rank, ROUND(tfidf, 6) AS tfidf
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY tfidf DESC, term ASC) AS rank
          FROM scored)
    WHERE rank <= 3
    """,
)
def q89_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tfidf_top_terms(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", k=3)


# ---------------------------------------------------------------------------
# Document chunking (fixed token windows with stride/overlap)
# ---------------------------------------------------------------------------

_CHUNK = 32
_STRIDE = 24


def chunk_documents(df: DataFrame, id_col: str, text_col: str,
                    size: int = _CHUNK, stride: int = _STRIDE) -> DataFrame:
    """Split documents into fixed-size token chunks every `stride`
    tokens (overlap = size − stride) — the context-window chunking step
    before embedding or training. One row per (doc, chunk) with the
    chunk's token span; starts come from `sequence`, so the fan-out is
    a generator expression inside the scan stage (no shuffle at all —
    chunking is map-only, then downstream repartitions as it likes)."""
    toks = df.select(
        F.col(id_col).alias("__id"),
        tokens(normalize_text(text_col)).alias("__toks"),
    ).filter(F.size("__toks") > 0)
    n = F.size("__toks")
    starts = F.sequence(F.lit(0), n - 1, F.lit(stride))
    ex = toks.select(
        "__id", "__toks", F.size("__toks").alias("__n"),
        F.posexplode(starts).alias("chunk_idx", "__s"),
    )
    return ex.select(
        F.col("__id").alias(id_col), "chunk_idx",
        F.least(F.lit(size), F.col("__n") - F.col("__s")).alias("chunk_len"),
        F.element_at("__toks", F.col("__s") + 1).alias("first_token"),
        F.element_at(
            "__toks", F.least(F.col("__s") + size, F.col("__n"))
        ).alias("last_token"),
    )


@query(
    "q93_chunk_documents",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t, len({_TOKS}) AS n
      FROM documents WHERE len({_TOKS}) > 0
    )
    SELECT doc_id, u.i AS chunk_idx,
           LEAST({_CHUNK}, n - u.s) AS chunk_len,
           t[u.s + 1] AS first_token,
           t[LEAST(u.s + {_CHUNK}, n)] AS last_token
    FROM (
      SELECT doc_id, t, n,
             unnest(list_transform(range(0, n, {_STRIDE}),
                    (s, i) -> {{'s': s, 'i': i - 1}})) AS u
      FROM toks
    )
    """,
)
def q93_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_documents(
        load_table(spark, sf_dir, "documents"), "doc_id", "text")


# ---------------------------------------------------------------------------
# Redaction / scrubbing (pattern count + replace + length delta)
# ---------------------------------------------------------------------------

_REDACT_RE = r"\b(the|a)\b"


@query(
    "q94_redact_tokens",
    oracle=f"""
    WITH r AS (
      SELECT lang,
             len(regexp_extract_all({_NORM}, '\\b(the|a)\\b')) AS n_hits,
             len({_NORM}) -
             len(regexp_replace({_NORM}, '\\b(the|a)\\b', '<TOK>', 'g'))
               AS len_delta
      FROM documents
    )
    SELECT lang, count(*) AS n_docs,
           -- DuckDB sum(int) widens to HUGEINT → pandas float64, which
           -- breaks the driver's int-vs-float value hash; pin to BIGINT
           CAST(sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_with_hits,
           CAST(sum(n_hits) AS BIGINT) AS total_hits,
           CAST(sum(len_delta) AS BIGINT) AS total_len_delta
    FROM r GROUP BY lang
    """,
)
def q94_redact_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrubbing stage shape (PII masking stand-in): count pattern hits,
    rewrite with a placeholder, and audit the size delta — all three as
    row-local regexp expressions over the normalized text (map-only +
    one small aggregate). The pattern here is a stopword class because
    the synthetic corpus has no PII-like spans; swap the regex for
    emails/phones/SSNs in a real pipeline — the plan is identical."""
    docs = load_table(spark, sf_dir, "documents")
    norm = normalize_text("text")
    base = docs.select(
        "lang",
        F.regexp_count(norm, F.lit(_REDACT_RE)).alias("__hits"),
        (F.length(norm)
         - F.length(F.regexp_replace(norm, _REDACT_RE, "<TOK>"))
         ).alias("__delta"),
    )
    return base.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("__hits") > 0, 1).otherwise(0)).alias("docs_with_hits"),
        F.sum("__hits").alias("total_hits"),
        F.sum("__delta").alias("total_len_delta"),
    )


# ---------------------------------------------------------------------------
# Bigram collocations (PMI)
# ---------------------------------------------------------------------------


@query(
    "q109_bigram_pmi",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ),
    uni AS (SELECT word, count(*) AS c FROM tok GROUP BY word),
    n_uni AS (SELECT count(*) AS n FROM tok),
    bi AS (
      SELECT a.word AS w1, b.word AS w2, count(*) AS c_xy
      FROM tok a JOIN tok b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      GROUP BY a.word, b.word
    ),
    n_bi AS (SELECT sum(c_xy) AS n FROM bi)
    SELECT bi.w1, bi.w2, bi.c_xy,
           ROUND(ln((CAST(bi.c_xy AS DOUBLE) / CAST(n_bi.n AS DOUBLE)) /
                    ((CAST(u1.c AS DOUBLE) / CAST(n_uni.n AS DOUBLE)) *
                     (CAST(u2.c AS DOUBLE) / CAST(n_uni.n AS DOUBLE)))),
                 4) AS pmi
    FROM bi, n_bi, n_uni
    JOIN uni u1 ON bi.w1 = u1.word
    JOIN uni u2 ON bi.w2 = u2.word
    ORDER BY bi.c_xy DESC, bi.w1, bi.w2
    LIMIT 20
    """,
)
def q109_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top bigrams with pointwise mutual
    information pmi = ln(p(xy) / (p(x)·p(y))) — the standard signal for
    multi-word expressions in corpus curation.

    Scale: bigrams are built with arrays_zip over two array slices —
    pure JVM expression work inside the scan stage, no self-join of the
    token table (the oracle's positional join is the semantic spec, not
    the plan). One shuffle aggregates bigram counts, one aggregates
    unigram counts; both totals reduce from the count tables, never
    rescanning text. Unigram counts broadcast back onto the bigram
    table (vocabulary ≪ corpus). Top-k is TakeOrdered on (count, pair),
    deterministic under ties."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    pairs = docs.select(
        F.explode(
            F.arrays_zip(
                F.slice(words, 1, F.greatest(F.size(words) - 1, F.lit(0))),
                F.expr("slice(split(text, ' '), 2, "
                       "greatest(size(split(text, ' ')) - 1, 0))"),
            )
        ).alias("bg")
    ).select(F.col("bg.0").alias("w1"), F.col("bg.1").alias("w2"))

    tok = docs.select(F.explode(words).alias("word"))
    uni = tok.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    bi = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy"))
    n_uni = uni.agg(F.sum("c").cast("double").alias("nu"))
    n_bi = bi.agg(F.sum("c_xy").cast("double").alias("nb"))

    u1 = uni.select(F.col("word").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("word").alias("w2"), F.col("c").alias("c2"))
    return (
        bi.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
        .select(
            "w1", "w2", "c_xy",
            F.round(
                F.log(
                    (F.col("c_xy") / F.col("nb"))
                    / ((F.col("c1") / F.col("nu")) * (F.col("c2") / F.col("nu")))
                ),
                4,
            ).alias("pmi"),
        )
        .orderBy(F.desc("c_xy"), "w1", "w2")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Repetition ratio (duplicate n-gram mass) — boilerplate/spam signal
# ---------------------------------------------------------------------------


@query(
    "q111_repetition_ratio",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ),
    grams AS (
      SELECT a.doc_id, a.word || ' ' || b.word || ' ' || c.word AS g
      FROM tok a
      JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      JOIN tok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
    ),
    per_doc AS (
      SELECT doc_id, count(*) AS n_grams,
             count(DISTINCT g) AS n_distinct
      FROM grams GROUP BY doc_id
    )
    SELECT doc_id, n_grams,
           ROUND(1.0 - CAST(n_distinct AS DOUBLE) / n_grams, 6) AS rep_ratio
    FROM per_doc
    ORDER BY rep_ratio DESC, doc_id
    LIMIT 50
    """,
)
def q111_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-trigram mass per document: 1 − distinct/total 3-grams.
    High values flag boilerplate, keyword stuffing, and generation
    loops — a standard pretraining quality filter.

    Scale: trigrams are built by zipping three slices of the token
    array (JVM expression inside the scan stage, no self-join); the
    per-doc distinct count is a two-level aggregate keyed by doc_id —
    doc-sized state, perfectly parallel, no global distinct. Top-k via
    TakeOrdered."""
    docs = load_table(spark, sf_dir, "documents")
    w = "split(text, ' ')"
    grams = docs.selectExpr(
        "doc_id",
        f"""explode(transform(
              sequence(1, greatest(size({w}) - 2, 0)),
              i -> concat_ws(' ', element_at({w}, i),
                             element_at({w}, i + 1),
                             element_at({w}, i + 2)))) AS g""",
    )
    per_doc = grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.countDistinct("g").alias("n_distinct"),
    )
    return (
        per_doc.select(
            "doc_id", "n_grams",
            F.round(
                F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_grams"),
                6,
            ).alias("rep_ratio"),
        )
        .orderBy(F.desc("rep_ratio"), "doc_id")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Word-distribution entropy — vocabulary-diversity signal
# ---------------------------------------------------------------------------


@query(
    "q112_word_entropy",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    wc AS (
      SELECT doc_id, word, count(*) AS c FROM tok GROUP BY doc_id, word
    ),
    tot AS (
      SELECT doc_id, sum(c) AS n FROM wc GROUP BY doc_id
    )
    SELECT wc.doc_id,
           CAST(tot.n AS BIGINT) AS n_tokens,  -- HUGEINT→BIGINT (hash parity)
           ROUND(-sum((CAST(c AS DOUBLE) / tot.n) * ln(CAST(c AS DOUBLE) / tot.n)),
                 6) AS entropy
    FROM wc JOIN tot ON wc.doc_id = tot.doc_id
    GROUP BY wc.doc_id, tot.n
    ORDER BY entropy, wc.doc_id
    LIMIT 50
    """,
)
def q112_word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each document's unigram distribution —
    low-entropy docs are repetitive/templated, a complementary signal
    to q111 (which only sees exact trigram repeats).

    Scale: both aggregation levels are keyed by doc_id, so after the
    first shuffle the (doc, word) counts, the per-doc totals, and the
    entropy reduction are all partition-local — Catalyst plans the
    groupBys without re-shuffling. Entropy terms sum as doubles within
    one doc (bounded count), rounded to 6; ties broken by doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    wc = tok.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("c"))
    tot = wc.groupBy("doc_id").agg(F.sum("c").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    return (
        wc.join(tot, "doc_id")
        .groupBy("doc_id", "n")
        .agg(F.round(-F.sum(p * F.log(p)), 6).alias("entropy"))
        .select(
            "doc_id", F.col("n").alias("n_tokens"), "entropy"
        )
        .orderBy("entropy", "doc_id")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# BM25 relevance scoring
# ---------------------------------------------------------------------------


def bm25_scores(df: DataFrame, id_col: str, text_col: str,
                query_terms: list[str], k1: float = 1.2, b: float = 0.75,
                round_to: int = 4) -> DataFrame:
    """BM25 relevance of every document against a bag of query terms —
    the classic retrieval scorer (Robertson/Spärck Jones), and the
    standard lexical half of a hybrid (BM25 + embedding) corpus search.

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·len/avglen)),
    idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))  (Lucene's non-negative
    variant).

    Shape: one explode over matching terms only (the filter folds into
    the generate), per-(doc, term) counts partial-aggregate before the
    shuffle; df/N/avgdl are a tiny aggregate broadcast back as a 1-row
    cross join — the corpus is scanned twice (stats + scoring), never
    joined against itself. Output: (id, score) for docs matching ≥1
    term."""
    toks = tokens(normalize_text(text_col))
    base = df.select(F.col(id_col).alias("__id"), toks.alias("__toks")) \
             .withColumn("__len", F.size("__toks"))
    stats = base.agg(
        F.count(F.lit(1)).alias("__n"),
        F.avg("__len").alias("__avgdl"),
    )
    terms = F.array(*[F.lit(t) for t in query_terms])
    tf = (
        base.select("__id", "__len",
                    F.explode(F.array_intersect(terms, F.col("__toks")))
                    .alias("__t"), "__toks")
        .select("__id", "__len", "__t",
                F.size(F.filter("__toks", lambda x: x == F.col("__t")))
                .alias("__tf"))
    )
    # df(t) as a count-over-window keyed by term instead of a separate
    # aggregate + join: the aggregate would re-run the whole tokenize →
    # explode lineage (a third corpus scan); the window reuses the tf
    # rows with one term-keyed shuffle (hot terms are AQE-skew fodder).
    docfreq = F.count(F.lit(1)).over(Window.partitionBy("__t"))
    scored = (
        tf.withColumn("__df", docfreq)
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "__idf",
            F.log(F.lit(1.0) + (F.col("__n") - F.col("__df") + 0.5)
                  / (F.col("__df") + 0.5)),
        )
        .withColumn(
            "__s",
            F.col("__idf") * F.col("__tf") * (k1 + 1)
            / (F.col("__tf") + k1 * (1 - b + b * F.col("__len") / F.col("__avgdl"))),
        )
    )
    return (
        scored.groupBy(F.col("__id").alias(id_col))
        .agg(F.round(F.sum("__s"), round_to).alias("score"))
    )


_BM25_TERMS = ("data", "model", "system")


@query(
    "q121_bm25",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {_TOKS} AS toks, len({_TOKS}) AS dl FROM documents
    ),
    stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM base),
    tf AS (
      SELECT doc_id, dl, t,
             len(list_filter(toks, x -> x = t)) AS tf
      FROM (
        SELECT doc_id, dl, toks,
               unnest(list_intersect(['data','model','system'], toks)) AS t
        FROM base
      )
    ),
    df AS (SELECT t, count(*) AS df FROM tf GROUP BY t)
    SELECT tf.doc_id,
           ROUND(sum(ln(1.0 + (stats.n - df.df + 0.5) / (df.df + 0.5))
                     * tf.tf * 2.2
                     / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / stats.avgdl))),
                 4) AS score
    FROM tf JOIN df ON tf.t = df.t CROSS JOIN stats
    GROUP BY tf.doc_id
    """,
)
def q121_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return bm25_scores(docs, "doc_id", "text", list(_BM25_TERMS))


# ---------------------------------------------------------------------------
# q138 — span-level duplication (C4/RefinedWeb-style substring dedup signal)
# ---------------------------------------------------------------------------

_SPAN_TOKENS = 10


def span_duplication(df: DataFrame, id_col: str, text_col: str,
                     group_col: str, span_tokens: int = _SPAN_TOKENS) -> DataFrame:
    """Per-group duplicate-span statistics: documents are cut into
    consecutive `span_tokens`-token spans (stride = span length), and a
    span is DUPLICATED if its exact text occurs more than once in the
    corpus. Output: (group, n_spans, n_dup_spans, dup_rate).

    This is the sub-document dedup signal the C4/RefinedWeb pipelines
    act on (boilerplate headers/footers repeat across pages that are
    NOT document-level duplicates — doc-level dedup misses them;
    span-level counting finds them). Two shuffles: span-keyed counts
    (map-side partial; boilerplate skew lands on AQE's skew handling
    like the LSH buckets), then a semi-join of spans against the
    duplicated subset and a group rollup."""
    toks = df.select(
        F.col(id_col).alias("__id"), F.col(group_col).alias("__g"),
        tokens(normalize_text(text_col)).alias("__toks"),
    ).filter(F.size("__toks") >= span_tokens)
    spans = toks.select(
        "__id", "__g",
        F.explode(F.transform(
            F.sequence(F.lit(0), F.floor(F.size("__toks") / span_tokens)
                       .cast("int") - 1),
            lambda i: F.concat_ws(
                " ", F.slice("__toks", i * span_tokens + 1, span_tokens)),
        )).alias("__span"),
    )
    dup = (spans.groupBy("__span").agg(F.count(F.lit(1)).alias("__c"))
           .filter(F.col("__c") > 1).select("__span"))
    flagged = spans.join(dup, "__span", "left_semi")
    per_g = spans.groupBy("__g").agg(F.count(F.lit(1)).alias("n_spans"))
    dup_g = flagged.groupBy("__g").agg(
        F.count(F.lit(1)).alias("n_dup_spans"))
    return (
        per_g.join(dup_g, "__g", "left")
        .select(
            F.col("__g").alias("group"),
            "n_spans",
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            pin(F.coalesce("n_dup_spans", F.lit(0))
                / F.col("n_spans").cast("double")).alias("dup_rate"),
        )
    )


@query(
    "q138_span_dedup",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, string_split({_NORM}, ' ') AS toks
      FROM documents WHERE len(string_split({_NORM}, ' ')) >= {_SPAN_TOKENS}
    ),
    s AS (
      SELECT doc_id, lang,
             array_to_string(
               toks[i * {_SPAN_TOKENS} + 1 : (i + 1) * {_SPAN_TOKENS}],
               ' ') AS span
      FROM t, unnest(range(0, len(toks) // {_SPAN_TOKENS})) AS u(i)
    ),
    d AS (SELECT span FROM s GROUP BY span HAVING count(*) > 1)
    SELECT lang AS "group",
           count(*) AS n_spans,
           CAST(sum(CASE WHEN s.span IN (SELECT span FROM d)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
           {pin_sql("CAST(sum(CASE WHEN s.span IN (SELECT span FROM d)"
                    " THEN 1 ELSE 0 END) AS DOUBLE)"
                    " / count(*)")} AS dup_rate
    FROM s GROUP BY lang
    """,
)
def q138_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What fraction of each language's 10-token spans repeat anywhere
    in the corpus? The boilerplate detector doc-level dedup misses."""
    docs = load_table(spark, sf_dir, "documents")
    return span_duplication(docs, "doc_id", "text", "lang")


# ---------------------------------------------------------------------------
# q139 — unigram-LM pseudo-perplexity (cheap LM-quality proxy)
# ---------------------------------------------------------------------------


def unigram_logprob(df: DataFrame, id_col: str, text_col: str,
                    top_n: int = 50) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram LM: logprob(doc) = (1/|doc|)·Σ ln(count(w)/N). The cheap
    stand-in for LM-perplexity quality filtering (low scores = rare-
    token soup: OCR noise, codes, lorem; high = common-word text) used
    to triage before an expensive model pass. Returns the `top_n`
    LOWEST-scoring documents (the filter's kill list), ties broken by
    id.

    Scale: the vocabulary reduces map-side to (word, count) — the only
    corpus-sized shuffle is word-keyed; the per-doc mean then reuses
    the same tokenized frame, joined against the (small, aggregated)
    vocab. Exact integer counts; ln ratios pinned at 1e-6."""
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.explode(tokens(normalize_text(text_col))).alias("__w"),
    )
    vocab = toks.groupBy("__w").agg(F.count(F.lit(1)).alias("__c"))
    total = vocab.agg(F.sum("__c").alias("__n"))
    scored = (
        toks.join(vocab, "__w")
        .crossJoin(F.broadcast(total))
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.avg(F.log(F.col("__c").cast("double") / F.col("__n")))
            .alias("__lp"),
        )
    )
    return (
        scored.select(
            F.col("__id").alias("doc_id"), "n_tokens",
            pin(F.col("__lp")).alias("logprob"),
        )
        .orderBy(F.asc("logprob"), F.asc("doc_id"))
        .limit(top_n)
    )


@query(
    "q139_unigram_logprob",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS w
      FROM documents
    ),
    v AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
    n AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM v)
    SELECT tok.doc_id, count(*) AS n_tokens,
           {pin_sql("avg(ln(CAST(v.c AS DOUBLE) / n.n))")}
             AS logprob
    FROM tok JOIN v USING (w), n
    GROUP BY tok.doc_id
    ORDER BY logprob ASC, tok.doc_id ASC
    LIMIT 50
    """,
)
def q139_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 50 lowest unigram-LM-scored documents — the kill list a
    perplexity-style quality filter would hand to review."""
    docs = load_table(spark, sf_dir, "documents")
    return unigram_logprob(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# q147/q148 — BPE tokenizer TRAINING (distributed merge learning)
#
# q57 counts tokens under a FIXED BPE-ish pre-tokenizer; these operators
# learn the merge table itself — the map-reduce tokenizer-training loop
# (Sennrich et al. 2016; what HF tokenizers' trainer distributes): count
# weighted adjacent symbol pairs across the word-frequency table, merge
# the argmax pair everywhere, repeat.
# ---------------------------------------------------------------------------


def _word_freqs(df: DataFrame, text_col: str) -> DataFrame:
    """(w, cnt): the corpus collapsed to its word-frequency table — the
    ONE corpus-sized shuffle in BPE training. Every merge round after
    this runs on |vocab| rows, not |corpus| (the standard trick: pair
    counts weight by word frequency instead of re-scanning text)."""
    return (
        df.select(F.explode(tokens(normalize_text(text_col))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    )


def _adjacent_pairs(syms: Column) -> Column:
    """array<struct<l,r>> of adjacent symbol pairs."""
    return F.when(
        F.size(syms) >= 2,
        F.arrays_zip(
            F.slice(syms, 1, F.size(syms) - 1).alias("l"),
            F.slice(syms, 2, F.size(syms) - 1).alias("r"),
        ),
    ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))


def _apply_merge(syms: Column, left: str, right: str) -> Column:
    """Leftmost-nonoverlapping merge of (left, right) → left+right via a
    sequential JVM fold — exact BPE semantics ("a a a" with pair (a,a)
    → ["aa","a"], the merged symbol does not re-pair with what follows
    unless it equals `left` itself)."""
    merged = left + right
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1),
                     F.array(F.lit(merged))),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def bpe_learn(df: DataFrame, text_col: str, num_merges: int = 10,
              min_count: int = 2) -> DataFrame:
    """Learn a BPE merge table over the corpus. Output one row per merge:
    (rank, left, right, pair_count, new_symbol), rank 1 = first merge.

    Distributed shape: after the single corpus shuffle (_word_freqs),
    each round is one |vocab|-row pair-explode + map-side-partial count
    and a ONE-ROW argmax collect (the learned merge — model parameters,
    like fitted centroids), then a map-only fold applies the merge.
    Round state persists and the previous round releases, the
    connected-components pattern. Ties break (count desc, left, right)
    so the table is deterministic on any cluster. At 100 TB the word
    table is the Zipf head — millions of rows against billions of
    documents — so rounds cost seconds; the loop count (vocab size) is
    the training budget, exactly as in single-node BPE."""
    spark = df.sparkSession
    state = keep(_word_freqs(df, text_col).select(
        "cnt", F.split("w", "").alias("syms")))
    merges: list[tuple] = []
    try:
        for rank in range(1, num_merges + 1):
            best = (
                state.select("cnt", F.explode(_adjacent_pairs(F.col("syms")))
                             .alias("p"))
                .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
                .agg(F.sum("cnt").alias("c"))
                .orderBy(F.desc("c"), "l", "r")
                .first()
            )
            if best is None or best["c"] < min_count:
                break
            merges.append((rank, best["l"], best["r"], int(best["c"]),
                           best["l"] + best["r"]))
            nxt = keep(state.select(
                "cnt", _apply_merge(F.col("syms"), best["l"], best["r"])
                .alias("syms")))
            nxt.count()  # materialize before releasing the parent
            release(state)
            state = nxt
    finally:
        release(state)
    return spark.createDataFrame(
        merges,
        "rank int, left string, right string, pair_count long, "
        "new_symbol string")


@query("q147_bpe_learn")  # rows-only: iterative argmax loop (like q15/q130)
def q147_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 10 learned BPE merges over the documents corpus — pinned by
    a pure-Python BPE reference in tests/test_bpe_learn.py; the round-1
    pair-count machinery is oracle-checked separately by q148."""
    docs = load_table(spark, sf_dir, "documents")
    return bpe_learn(docs, "text", num_merges=10)


_BPE_PAIRS_DUCK = f"""
    WITH w AS (
      SELECT tok AS w, count(*) AS cnt FROM (
        SELECT unnest(string_split({{norm}}, ' ')) AS tok FROM documents
      ) WHERE tok != '' GROUP BY tok
    ),
    p AS (
      SELECT substr(w, i, 1) AS l, substr(w, i + 1, 1) AS r, cnt
      FROM w, LATERAL unnest(range(1, len(w))) AS t(i)
    )
    SELECT l, r, CAST(sum(cnt) AS BIGINT) AS pair_count
    FROM p GROUP BY l, r
    ORDER BY pair_count DESC, l, r
    LIMIT 20
"""


@query(
    "q148_bpe_pair_counts",
    oracle=_BPE_PAIRS_DUCK.format(
        norm="trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"),
)
def q148_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-1 of BPE training, oracle-checked: the top-20 weighted
    adjacent character-pair counts over the word-frequency table — the
    distributed-heavy half of the loop (the per-round argmax/fold that
    follows is mechanical). Deterministic (count desc, l, r) order."""
    docs = load_table(spark, sf_dir, "documents")
    words = _word_freqs(docs, "text")
    return (
        words.select("cnt",
                     F.explode(_adjacent_pairs(F.split("w", ""))).alias("p"))
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("cnt").alias("pair_count"))
        .orderBy(F.desc("pair_count"), "l", "r")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q176 — BPE ENCODE (apply a merge table), the third leg of the
# tokenizer story: q148 oracle-checks training round 1, q147 learns the
# table, this applies one
# ---------------------------------------------------------------------------

# fixed merge table (rank order). Every pair has left != right, which
# makes leftmost-nonoverlapping string replace EXACTLY equivalent to
# the sequential _apply_merge fold (a "|l|r|" occurrence can only
# overlap another when l == r), so the oracle can apply the merges with
# chained replace() over pipe-delimited symbols.
_ENC_MERGES = (("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("o", "n"))


def bpe_encode_counts(df: DataFrame, id_col: str, text_col: str,
                      merges=_ENC_MERGES) -> DataFrame:
    """Apply a learned BPE merge table and report per-document token
    economics: words, characters, and post-merge BPE token count — the
    numbers a pretraining budget is actually denominated in.

    Distributed shape (the production vocab trick, in reverse of
    training): the corpus explodes to (doc, word) pairs, but the
    5-merge fold runs ONCE PER DISTINCT WORD — the Zipf head — and
    joins back on the word; the join side carries a 2-column table and
    AQE broadcasts it at fixture scale / hash-joins it at vocab scale.
    Encoding cost is O(|vocab| · merges), not O(corpus · merges)."""
    toks = tokens(normalize_text(text_col))
    words = (df.select(F.col(id_col), F.explode(toks).alias("w"))
             .filter(F.col("w") != ""))
    enc = F.split(F.col("w"), "")
    for left, right in merges:
        enc = _apply_merge(enc, left, right)
    vocab = words.select("w").distinct().select(
        "w", F.size(enc).alias("__n_bpe"))
    return (
        words.join(vocab, "w")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_words"),
             F.sum(F.length("w")).alias("n_chars_words"),
             F.sum("__n_bpe").alias("n_bpe_tokens"))
    )


def _bpe_encode_oracle() -> str:
    norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    enc = "'|' || regexp_replace(w, '(.)', '\\1|', 'g')"
    for left, right in _ENC_MERGES:
        enc = f"replace({enc}, '|{left}|{right}|', '|{left}{right}|')"
    return f"""
    WITH w AS (
      SELECT doc_id, tok AS w FROM (
        SELECT doc_id, unnest(string_split({norm}, ' ')) AS tok
        FROM documents
      ) WHERE tok != ''
    ),
    e AS (SELECT doc_id, w, {enc} AS enc FROM w)
    SELECT doc_id, count(*) AS n_words,
           CAST(sum(length(w)) AS BIGINT) AS n_chars_words,
           CAST(sum(len(string_split(trim(enc, '|'), '|'))) AS BIGINT)
             AS n_bpe_tokens
    FROM e GROUP BY doc_id
    """


@query("q176_bpe_encode", oracle=_bpe_encode_oracle())
def q176_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode the corpus with a fixed 5-merge BPE table (th, the, in,
    an, on) and emit per-doc word/char/BPE-token counts — every count
    value-hash-checked against the oracle's chained-replace
    reimplementation of the same leftmost-nonoverlapping merges."""
    docs = load_table(spark, sf_dir, "documents")
    return bpe_encode_counts(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# q190 — ExactSubstr span-REMOVAL rewrite (the constructive half of
# q138's span-duplication audit: excise corpus-repeated spans, keep the
# first occurrence — Lee et al.'s substring dedup, at span granularity)
# ---------------------------------------------------------------------------

_ESR_SPAN = 10


def exact_substring_rewrite(df: DataFrame, id_col: str, text_col: str,
                            span_tokens: int = _ESR_SPAN) -> DataFrame:
    """Rewrite every document so that each exact `span_tokens`-token
    span occurs AT MOST ONCE in the whole corpus: documents cut into
    consecutive spans (stride = span length, q138's grid), every
    occurrence after the global first — ordered by (doc_id, span_idx)
    — is excised, and the text is rebuilt from the surviving spans plus
    the (< span_tokens) tail remainder, which is always kept. Output:
    (doc_id, n_tokens, tokens_removed, text_kept). This is the
    operation production LLM pipelines run between exact and fuzzy
    dedup — the constructive counterpart of q138, which only measures.

    Scale: the first-occurrence rank is ONE span-keyed window —
    partitioned on xxhash64(span) so the shuffle KEY is 8 bytes (the
    span text rides along once because the rebuild needs it; a rewrite
    op cannot avoid moving the corpus it rewrites). Within a hash
    bucket row_number orders by (doc_id, span_idx) — the same
    global-first rule as the oracle's partition-by-text, modulo a
    2⁻⁶⁴ hash collision (the _hash_grams contract). The rebuild is a
    per-doc groupBy with state bounded by the document itself;
    boilerplate skew (one span repeated millions of times) lands on
    one window partition but carries only (id, idx) pairs per
    occurrence beyond the first-kept span text."""
    st = span_tokens
    d = (df.select(F.col(id_col).alias("__id"),
                   tokens(normalize_text(text_col)).alias("__toks"))
         .withColumn("__n", F.size("__toks"))
         .withColumn("__k", F.floor(F.col("__n") / st).cast("int")))
    spans = (
        d.filter(F.col("__k") >= 1)
        .select("__id", F.explode(F.transform(
            F.sequence(F.lit(0), F.col("__k") - 1),
            lambda i: F.struct(
                i.alias("i"),
                F.concat_ws(" ", F.slice("__toks", i * st + 1, st))
                .alias("span")))).alias("sp"))
        .select("__id", F.col("sp.i").alias("__i"),
                F.col("sp.span").alias("__span"))
    )
    w = Window.partitionBy(F.xxhash64("__span")).orderBy("__id", "__i")
    flagged = spans.withColumn("__rn", F.row_number().over(w))
    g = flagged.groupBy("__id").agg(
        F.count(F.lit(1)).alias("__nspans"),
        F.sum(F.when(F.col("__rn") == 1, 1).otherwise(0))
        .cast("long").alias("__nkept"),
        F.flatten(F.transform(
            F.array_sort(F.collect_list(
                F.when(F.col("__rn") == 1, F.struct("__i", "__span")))),
            lambda x: F.split(x["__span"], " "))).alias("__kept_toks"),
    )
    return (
        d.join(g, "__id", "left")
        .select(
            F.col("__id").alias("doc_id"),
            F.col("__n").cast("long").alias("n_tokens"),
            (F.lit(st) * (F.coalesce("__nspans", F.lit(0))
                          - F.coalesce("__nkept", F.lit(0))))
            .cast("long").alias("tokens_removed"),
            F.array_join(
                F.concat(
                    F.coalesce(F.col("__kept_toks"),
                               F.array().cast("array<string>")),
                    F.slice("__toks", F.col("__k") * st + 1,
                            F.col("__n") - F.col("__k") * st)),
                " ").alias("text_kept"),
        )
    )


def _esr_oracle() -> str:
    st = _ESR_SPAN
    return f"""
    WITH t AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS toks
      FROM documents
    ),
    s AS (
      SELECT doc_id, i,
             array_to_string(toks[i * {st} + 1 : (i + 1) * {st}], ' ')
               AS span
      FROM t, unnest(range(0, len(toks) // {st})) AS u(i)
    ),
    k AS (
      SELECT doc_id, i, span,
             row_number() OVER (PARTITION BY span
                                ORDER BY doc_id, i) AS rn
      FROM s
    ),
    g AS (
      SELECT doc_id,
             count(*) AS nspans,
             count(*) FILTER (WHERE rn = 1) AS nkept,
             coalesce(array_to_string(
               list(span ORDER BY i) FILTER (WHERE rn = 1), ' '), '')
               AS kept
      FROM k GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST({st} * (coalesce(g.nspans, 0) - coalesce(g.nkept, 0))
             AS BIGINT) AS tokens_removed,
           trim(coalesce(g.kept, '') || ' ' ||
                coalesce(array_to_string(
                  t.toks[(len(t.toks) // {st}) * {st} + 1 : len(t.toks)],
                  ' '), '')) AS text_kept
    FROM t LEFT JOIN g ON t.doc_id = g.doc_id
    """


@query("q190_exact_substr_rewrite", oracle=_esr_oracle())
def q190_exact_substr_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-dedup the documents table: every 10-token span that
    repeats anywhere in the corpus survives only at its first
    (doc_id, span_idx) occurrence; each document comes back rewritten
    with its removed-token count. The full rewritten TEXT of every
    document is value-hash-checked against the oracle's
    partition-by-span-text reimplementation."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_substring_rewrite(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# q192 — bigram-LM pseudo-perplexity (the CCNet-style LM quality filter:
# q139's unigram proxy upgraded to conditional bigram probabilities with
# add-one smoothing — the cheapest model that penalizes IMPLAUSIBLE
# SEQUENCES, not just rare words)
# ---------------------------------------------------------------------------


def bigram_logprob(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document mean bigram log-probability under the corpus's own
    add-one-smoothed bigram LM: logprob(doc) = (1/B)·Σ ln((c(w₁,w₂)+1)
    / (c(w₁)+V)) over the doc's B consecutive-token bigrams, V = corpus
    vocabulary size. Word salad scores low even when every WORD is
    common — the sequence signal the unigram filter (q139) cannot see;
    this is the shape of CCNet's LM filter with the trained KenLM
    swapped for the corpus's own counts.

    Scale: the model is two count tables built by word-keyed map-side-
    combined groupBys (bigram table ≈ corpus bigram vocabulary — big
    but distributable; never collected); scoring joins each doc bigram
    against the two tables on their natural keys, then one per-doc
    rollup. Counts are exact BIGINTs; only the final ln ratios are
    floating, pinned at 1e-6 (the q139 convention)."""
    n1 = F.greatest(F.size("__toks") - 1, F.lit(0))
    # r15 optimization: the tokenized corpus feeds FIVE subtrees (the
    # bigram table build, the scoring probe, the unigram table, the
    # vocab count, the per-doc left-join base) — unpersisted, each
    # re-scanned the source and re-ran the normalize+tokenize regexes
    # (5 source scans in the plan, the tokenizer being the expensive
    # part). Persist the (id, tokens) frame once — the same pattern
    # the minhash pipeline pins with its single-scan plan test.
    base = keep(df.select(
        F.col(id_col).alias("__id"),
        tokens(normalize_text(text_col)).alias("__toks")))
    bg = base.select(
        "__id",
        F.explode(F.zip_with(
            F.slice("__toks", 1, n1), F.slice("__toks", 2, n1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))).alias("b"),
    ).select("__id", "b.w1", "b.w2")
    uni = (base.select(F.explode("__toks").alias("w"))
           .groupBy("w").agg(F.count(F.lit(1)).alias("__c1")))
    big = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("__c12"))
    vocab = uni.agg(F.count(F.lit(1)).alias("__v"))
    scored = (
        bg.join(big, ["w1", "w2"])
        .join(uni.withColumnRenamed("w", "w1"), "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.avg(F.log((F.col("__c12") + F.lit(1)).cast("double")
                        / (F.col("__c1") + F.col("__v"))))
            .alias("__lp"),
        )
    )
    return (
        base.select("__id").join(scored, "__id", "left")
        .select(
            F.col("__id").alias("doc_id"),
            F.coalesce("n_bigrams", F.lit(0)).cast("long")
            .alias("n_bigrams"),
            F.coalesce(
                pin(F.col("__lp")),
                F.lit(0.0)).alias("avg_logprob"),
        )
    )


@query(
    "q192_bigram_lm_logprob",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    bg AS (
      SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      FROM tk, unnest(range(1, len(toks))) AS u(i)
    ),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
    uni AS (
      SELECT w, count(*) AS c1
      FROM (SELECT unnest(toks) AS w FROM tk) GROUP BY w
    ),
    v AS (SELECT count(*) AS vsz FROM uni),
    sc AS (
      SELECT b.doc_id, count(*) AS n_bigrams,
             avg(ln(CAST(c.c12 + 1 AS DOUBLE) / (u.c1 + v.vsz))) AS lp
      FROM bg b
      JOIN c12 c ON b.w1 = c.w1 AND b.w2 = c.w2
      JOIN uni u ON b.w1 = u.w
      CROSS JOIN v
      GROUP BY b.doc_id
    )
    SELECT t.doc_id,
           CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           coalesce({pin_sql("s.lp")}, 0.0) AS avg_logprob
    FROM tk t LEFT JOIN sc s ON t.doc_id = s.doc_id
    """,
)
def q192_bigram_lm_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document under the corpus's own add-one bigram LM —
    exact integer count tables, per-doc mean ln ratios pinned at 1e-6,
    all 500 rows value-hash-checked."""
    docs = load_table(spark, sf_dir, "documents")
    return bigram_logprob(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# q199 — CCNet-style perplexity bucketing (head / middle / tail)
# ---------------------------------------------------------------------------


def perplexity_buckets(df: DataFrame, id_col: str, text_col: str,
                       lang_col: str) -> DataFrame:
    """Assign every document to CCNet's head/middle/tail tercile by
    LM score WITHIN its language: score with the corpus bigram LM
    (bigram_logprob — exact count tables, mean ln ratio pinned at
    1e-6), rank per language by (score desc, id), and compute the
    tercile ARITHMETICALLY as ⌊(rank−1)·3 / n_lang⌋ rather than via
    NTILE so both engines distribute remainders identically. Per-lang
    bucketing is the point of CCNet's design: a uniform global
    threshold would class low-resource languages wholesale as tail.

    Scale: the LM tables distribute (word-keyed groupBys); the rank is
    one window per language partition over (id, score) pairs — the
    text itself never enters the shuffle. The tercile boundaries need
    n_lang, a per-partition count — no global sort."""
    scored = bigram_logprob(df, id_col, text_col)
    lang = df.select(F.col(id_col).alias("doc_id"),
                     F.col(lang_col).alias("lang"))
    j = scored.join(lang, "doc_id")
    w = Window.partitionBy("lang")
    rn = F.row_number().over(
        w.orderBy(F.col("avg_logprob").desc(), F.col("doc_id").asc()))
    cnt = F.count(F.lit(1)).over(w)
    idx = F.floor((rn - 1) * 3 / cnt).cast("int")
    return j.select(
        "doc_id", "lang", "avg_logprob",
        F.element_at(F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
                     idx + 1).alias("bucket"),
    )


@query(
    "q199_perplexity_buckets",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, lang, {_TOKS} AS toks FROM documents
    ),
    bg AS (
      SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      FROM tk, unnest(range(1, len(toks))) AS u(i)
    ),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
    uni AS (
      SELECT w, count(*) AS c1
      FROM (SELECT unnest(toks) AS w FROM tk) GROUP BY w
    ),
    v AS (SELECT count(*) AS vsz FROM uni),
    sc AS (
      SELECT b.doc_id,
             avg(ln(CAST(c.c12 + 1 AS DOUBLE) / (u.c1 + v.vsz))) AS lp
      FROM bg b
      JOIN c12 c ON b.w1 = c.w1 AND b.w2 = c.w2
      JOIN uni u ON b.w1 = u.w
      CROSS JOIN v
      GROUP BY b.doc_id
    ),
    pinned AS (
      SELECT t.doc_id, t.lang,
             coalesce({pin_sql("s.lp")}, 0.0) AS avg_logprob
      FROM tk t LEFT JOIN sc s ON t.doc_id = s.doc_id
    ),
    ranked AS (
      SELECT doc_id, lang, avg_logprob,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY avg_logprob DESC, doc_id ASC) AS rn,
             count(*) OVER (PARTITION BY lang) AS cnt
      FROM pinned
    )
    SELECT doc_id, lang, avg_logprob,
           (['head', 'middle', 'tail'])
             [CAST(floor((rn - 1) * 3.0 / cnt) AS INT) + 1] AS bucket
    FROM ranked
    """,
)
def q199_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket every document head/middle/tail by per-language bigram-LM
    score terciles — all 500 (doc, lang, score, bucket) rows
    value-hash-checked."""
    docs = load_table(spark, sf_dir, "documents")
    return perplexity_buckets(docs, "doc_id", "text", "lang")


# ---------------------------------------------------------------------------
# q205 — HTML boilerplate extraction (the WET/trafilatura-shape stage)
# ---------------------------------------------------------------------------


def html_extract_text(df: DataFrame, id_col: str,
                      html_col: str) -> DataFrame:
    """Main-content extraction from raw HTML — the first stage of every
    web-corpus pipeline (WARC → text): drop <script>/<style> blocks
    WITH their contents, drop structural boilerplate containers
    (<title>/<nav>/<header>/<footer>/<aside>) with their contents,
    flatten the
    remaining markup to whitespace, decode the three load-bearing
    entities, and normalize. Pure JVM regexp chain — map-only, no UDF,
    scan-speed at any corpus size; each pattern is RE2-safe so the
    identical program runs in the oracle."""
    c = F.col(html_col)
    # non-greedy block removal — RE2-compatible (no lookaround), so the
    # oracle runs the byte-identical program
    c = F.regexp_replace(c, r"<script[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, r"<style[^>]*>.*?</style>", " ")
    for tag in ("title", "nav", "header", "footer", "aside"):
        c = F.regexp_replace(c, f"<{tag}[^>]*>.*?</{tag}>", " ")
    c = F.regexp_replace(c, r"<[^>]+>", " ")
    c = F.regexp_replace(c, "&amp;", "&")
    c = F.regexp_replace(c, "&lt;", "<")
    c = F.regexp_replace(c, "&gt;", ">")
    return df.select(
        F.col(id_col).alias("doc_id"),
        normalize_text(c).alias("extracted"),
    )


def _synth_html(text_col: str = "text") -> "Column":
    """Deterministic HTML wrapper for the fixture corpus: title, script,
    nav, the document body in <p>, footer — the shape a crawled page
    has, built in-query so the extractor faces real markup (the
    multimodal synth-BMP convention applied to web pages)."""
    toks = tokens(normalize_text(text_col))
    return F.concat(
        F.lit("<html><head><title>"), F.element_at(toks, 1),
        F.lit("</title><script>var x = 1 < 2;</script>"
              "<style>p { color: red }</style></head>"
              "<body><nav><a href=\"/\">home</a> about</nav>"
              "<header>site</header><p>"),
        F.col(text_col),
        F.lit("</p><aside>ads &amp; links</aside>"
              "<footer>copyright</footer></body></html>"))


_Q205_SYNTH_DUCK = (
    "concat('<html><head><title>', "
    f"({_TOKS})[1], "
    "'</title><script>var x = 1 < 2;</script>"
    "<style>p { color: red }</style></head>"
    "<body><nav><a href=\"/\">home</a> about</nav>"
    "<header>site</header><p>', "
    "text, "
    "'</p><aside>ads &amp; links</aside>"
    "<footer>copyright</footer></body></html>')"
)


@query(
    "q205_html_extract",
    oracle=f"""
    WITH raw AS (SELECT doc_id, {_Q205_SYNTH_DUCK} AS h FROM documents),
    s1 AS (SELECT doc_id,
                  regexp_replace(h, '<script[^>]*>.*?</script>', ' ', 'g')
                    AS h FROM raw),
    s2 AS (SELECT doc_id,
                  regexp_replace(h, '<style[^>]*>.*?</style>', ' ', 'g')
                    AS h FROM s1),
    s2t AS (SELECT doc_id,
                   regexp_replace(h, '<title[^>]*>.*?</title>', ' ', 'g')
                     AS h FROM s2),
    s3 AS (SELECT doc_id,
                  regexp_replace(h, '<nav[^>]*>.*?</nav>', ' ', 'g')
                    AS h FROM s2t),
    s4 AS (SELECT doc_id,
                  regexp_replace(h, '<header[^>]*>.*?</header>', ' ', 'g')
                    AS h FROM s3),
    s5 AS (SELECT doc_id,
                  regexp_replace(h, '<footer[^>]*>.*?</footer>', ' ', 'g')
                    AS h FROM s4),
    s6 AS (SELECT doc_id,
                  regexp_replace(h, '<aside[^>]*>.*?</aside>', ' ', 'g')
                    AS h FROM s5),
    s7 AS (SELECT doc_id,
                  regexp_replace(h, '<[^>]+>', ' ', 'g') AS h FROM s6),
    s8 AS (SELECT doc_id,
                  replace(replace(replace(h, '&amp;', '&'),
                          '&lt;', '<'), '&gt;', '>') AS h FROM s7),
    ex AS (SELECT doc_id,
                  trim(regexp_replace(lower(h), '\\s+', ' ', 'g'))
                    AS extracted FROM s8)
    SELECT e.doc_id, e.extracted,
           CAST(CASE WHEN e.extracted =
                  trim(regexp_replace(lower(d.text), '\\s+', ' ', 'g'))
                THEN 1 ELSE 0 END AS INT) AS clean_roundtrip
    FROM ex e JOIN documents d ON e.doc_id = d.doc_id
    """,
)
def q205_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wrap every document in synthesized page markup (title, script,
    style, nav/header/footer/aside boilerplate) and run the extractor:
    the recovered main content must round-trip to the original
    normalized text — full extracted text AND the round-trip
    certificate value-hash-checked for all rows."""
    docs = load_table(spark, sf_dir, "documents")
    wrapped = docs.select(
        "doc_id", F.col("text").alias("__orig"),
        _synth_html("text").alias("html"))
    out = html_extract_text(wrapped, "doc_id", "html")
    return (out.join(wrapped.select("doc_id", "__orig"), "doc_id")
            .select(
                "doc_id", "extracted",
                (F.col("extracted") == normalize_text("__orig"))
                .cast("int").alias("clean_roundtrip")))


# ---------------------------------------------------------------------------
# q206 — URL canonicalization (crawl frontier / dedup key normalization)
# ---------------------------------------------------------------------------


def normalize_urls(df: DataFrame, id_col: str, url_col: str) -> DataFrame:
    """Canonicalize crawl URLs into the dedup/frontier key every web
    pipeline groups by: lowercase, strip the fragment, drop tracking
    (utm_*) parameters, strip the default port, collapse duplicate
    path slashes, strip a leading www. — then surface the host. All
    JVM regexp chains (map-only, scan-speed); the oracle mirrors each
    step with RE2 equivalents (replacement backreference syntax
    differs — $1 vs \\\\1 — but the outputs are byte-identical, which
    is what the value hash checks)."""
    u = F.lower(F.col(url_col))
    u = F.regexp_replace(u, r"#.*$", "")                       # fragment
    u = F.regexp_replace(u, r"utm_[a-z]+=[^&]*&?", "")         # tracking
    u = F.regexp_replace(u, r"[?&]$", "")                      # dangling sep
    u = F.regexp_replace(u, r":80/", "/")                      # default port
    u = F.regexp_replace(u, r"([^:/])//+", "$1/")              # dup slashes
    u = F.regexp_replace(u, r"://www\.", "://")                # www
    return df.select(
        F.col(id_col).alias("doc_id"),
        u.alias("norm_url"),
        F.regexp_extract(u, r"://([^/]+)", 1).alias("host"),
    )


@query(
    "q206_url_normalize",
    oracle="""
    WITH raw AS (
      SELECT doc_id,
             concat('HTTP://WWW.Example', CAST(doc_id % 7 AS VARCHAR),
                    '.COM:80//Path//', source,
                    '/?utm_source=feed&id=', CAST(doc_id AS VARCHAR),
                    '&utm_campaign=x#Frag') AS url
      FROM documents
    ),
    s1 AS (SELECT doc_id, lower(url) AS u FROM raw),
    s2 AS (SELECT doc_id, regexp_replace(u, '#.*$', '', 'g') AS u FROM s1),
    s3 AS (SELECT doc_id,
                  regexp_replace(u, 'utm_[a-z]+=[^&]*&?', '', 'g') AS u
           FROM s2),
    s4 AS (SELECT doc_id, regexp_replace(u, '[?&]$', '', 'g') AS u FROM s3),
    s5 AS (SELECT doc_id, regexp_replace(u, ':80/', '/', 'g') AS u FROM s4),
    s6 AS (SELECT doc_id,
                  regexp_replace(u, '([^:/])//+', '\\1/', 'g') AS u
           FROM s5),
    s7 AS (SELECT doc_id,
                  regexp_replace(u, '://www\\.', '://', 'g') AS u FROM s6)
    SELECT doc_id, u AS norm_url,
           regexp_extract(u, '://([^/]+)', 1) AS host
    FROM s7
    """,
)
def q206_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a messy crawl URL per document (uppercase scheme and
    host, default port, duplicate slashes, utm tracking params,
    fragment) and canonicalize it — normalized URL and extracted host
    value-hash-checked for every row."""
    docs = load_table(spark, sf_dir, "documents")
    raw = docs.select(
        "doc_id",
        F.concat(
            F.lit("HTTP://WWW.Example"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".COM:80//Path//"), F.col("source"),
            F.lit("/?utm_source=feed&id="), F.col("doc_id").cast("string"),
            F.lit("&utm_campaign=x#Frag")).alias("url"))
    return normalize_urls(raw, "doc_id", "url")


# ---------------------------------------------------------------------------
# q232 — positional phrase search: the inverted-index capability BM25
# (q121) lacks — "these words ADJACENT, in this order" — built from
# (doc, position, word) postings and a position-adjacency join, the
# way search engines execute quoted queries over positional postings
# lists.
# ---------------------------------------------------------------------------


def phrase_occurrences(df: DataFrame, id_col: str, text_col: str,
                       top_docs: int = 50) -> DataFrame:
    """Find the corpus's most frequent word bigram (ties break
    lexicographically) and return the ``top_docs`` documents with the
    most ADJACENT occurrences of it: (w1, w2, doc, n_occurrences).

    Adjacency needs NO exchange at all: each document's token array is
    already co-located in its row, so the (w_i, w_{i+1}) stream comes
    from zipping the array with its own 1-shifted slice map-side
    (whole-stage codegen; an earlier revision self-joined the exploded
    postings on (doc, position+1), shuffling the full postings twice —
    at corpus scale that is pure overhead for the same pair multiset).
    At serving scale the same adjacency check runs against the postings
    of the PHRASE words only (a selective word-keyed fetch from the
    inverted index); here the per-doc bigram table doubles as the
    phrase-frequency source, so both the global top-1 and the per-doc
    counts reduce from one map-side pair stream. The driver never sees
    more than the broadcast 1-row top phrase."""
    arr = tokens(normalize_text(text_col))
    pairs = F.when(
        F.size(arr) >= 2,
        F.zip_with(F.slice(arr, 1, F.size(arr) - 1),
                   F.slice(arr, 2, F.size(arr) - 1),
                   lambda a, b: F.struct(a.alias("w1"), b.alias("w2"))))
    adj = (df.select(F.col(id_col).alias("__id"),
                     F.explode(pairs).alias("__bg"))
           .select("__id", F.col("__bg.w1").alias("w1"),
                   F.col("__bg.w2").alias("w2")))
    perdoc = (adj.groupBy("__id", "w1", "w2")
              .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences")))
    top = (perdoc.groupBy("w1", "w2")
           .agg(F.sum("n_occurrences").alias("__t"))
           .orderBy(F.desc("__t"), F.asc("w1"), F.asc("w2")).limit(1)
           .select("w1", "w2"))
    return (perdoc.join(F.broadcast(top), ["w1", "w2"])
            .select("w1", "w2", F.col("__id").alias("doc_id"),
                    "n_occurrences")
            .orderBy(F.desc("n_occurrences"), F.asc("doc_id"))
            .limit(top_docs))


@query(
    "q232_phrase_search",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, p - 1 AS p, w
      FROM (SELECT doc_id,
                   unnest(string_split({_NORM}, ' ')) AS w,
                   generate_subscripts(string_split({_NORM}, ' '), 1)
                     AS p
            FROM documents)
    ),
    adj AS (
      SELECT x.doc_id, x.w AS w1, y.w AS w2
      FROM tok x JOIN tok y
        ON x.doc_id = y.doc_id AND y.p = x.p + 1
    ),
    perdoc AS (
      SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS n_occurrences
      FROM adj GROUP BY 1, 2, 3
    ),
    top AS (
      SELECT w1, w2 FROM perdoc
      GROUP BY w1, w2
      ORDER BY sum(n_occurrences) DESC, w1 ASC, w2 ASC LIMIT 1
    )
    SELECT p.w1, p.w2, p.doc_id, p.n_occurrences
    FROM perdoc p JOIN top USING (w1, w2)
    ORDER BY p.n_occurrences DESC, p.doc_id ASC LIMIT 50
    """,
)
def q232_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quoted-phrase search over positional postings: the corpus's top
    bigram phrase and the 50 documents containing it most often as an
    ADJACENT pair — every row value-hash-checked against the oracle's
    position-subscript formulation."""
    docs = load_table(spark, sf_dir, "documents")
    return phrase_occurrences(docs, "doc_id", "text")


def zipf_slope(df: DataFrame, group_col: str, text_col: str,
               top_ranks: int = 100) -> DataFrame:
    """(group, n_ranks, total_tokens, slope, intercept): the Zipf
    power-law fit per corpus slice — OLS of ln(freq) on ln(rank) over
    the top `top_ranks` word frequencies. Natural text runs slope
    ≈ −1; a slice whose slope collapses toward 0 (flat frequencies —
    boilerplate, tables, spam farms) or dives steep (tiny effective
    vocabulary) is the classic corpus-pathology smell test next to
    q112's entropy.

    Scale shape: word counts are one map-side-combined group-by (the
    LM shape); ranking is a numerous-small-groups window; the fit
    reduces each group to four sums. Exactness: ln(rank) and ln(cnt)
    are single libm calls on integers (bit-identical cross-engine —
    the q265 evidence), each x/y/xy/x² term quantizes to
    floor(·1e12) BIGINT so every sum is order-free; slope and
    intercept derive from those integers and pin once. A group with
    one distinct frequency rank reports NULL-by-contract."""
    toks = df.select(F.col(group_col).alias("__g"),
                     F.explode(tokens(normalize_text(text_col)))
                     .alias("__w"))
    cnt = toks.groupBy("__g", "__w").agg(
        F.count(F.lit(1)).cast("long").alias("__c"))
    w = Window.partitionBy("__g").orderBy(F.desc("__c"), F.asc("__w"))
    ranked = (cnt.withColumn("__r", F.row_number().over(w))
              .filter(F.col("__r") <= top_ranks))
    q12 = lambda c: F.floor(c * F.lit(1e12)).cast("long")  # noqa: E731
    x = F.log(F.col("__r").cast("double"))
    y = F.log(F.col("__c").cast("double"))
    agg = ranked.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("n_ranks"),
        F.sum("__c").cast("long").alias("total_tokens"),
        F.sum(q12(x)).alias("__qx"),
        F.sum(q12(y)).alias("__qy"),
        F.sum(q12(x * y)).alias("__qxy"),
        F.sum(q12(x * x)).alias("__qxx"))
    sx = F.col("__qx") / F.lit(1e12)
    sy = F.col("__qy") / F.lit(1e12)
    sxy = F.col("__qxy") / F.lit(1e12)
    sxx = F.col("__qxx") / F.lit(1e12)
    r = F.col("n_ranks").cast("double")
    den = r * sxx - sx * sx
    fitted = agg.withColumn(
        "__slope", F.when(den > 0, (r * sxy - sx * sy) / den))
    return fitted.select(
        F.col("__g").alias(group_col), "n_ranks", "total_tokens",
        pin(F.col("__slope")).alias("slope"),
        pin((sy - F.col("__slope") * sx) / r).alias("intercept"))


@query(
    "q273_zipf_slope",
    oracle=f"""
    WITH tok AS (
      SELECT source AS g, unnest(string_split({_NORM}, ' ')) AS w
      FROM documents
    ),
    cnt AS (
      SELECT g, w, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY g, w
    ),
    ranked AS (
      SELECT g, c,
             row_number() OVER (PARTITION BY g
                                ORDER BY c DESC, w ASC) AS r
      FROM cnt
    ),
    agg AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n_ranks,
             CAST(sum(c) AS BIGINT) AS total_tokens,
             sum(CAST(floor(ln(CAST(r AS DOUBLE)) * 1e12) AS BIGINT))
               AS qx,
             sum(CAST(floor(ln(CAST(c AS DOUBLE)) * 1e12) AS BIGINT))
               AS qy,
             sum(CAST(floor(ln(CAST(r AS DOUBLE))
                            * ln(CAST(c AS DOUBLE)) * 1e12) AS BIGINT))
               AS qxy,
             sum(CAST(floor(ln(CAST(r AS DOUBLE))
                            * ln(CAST(r AS DOUBLE)) * 1e12) AS BIGINT))
               AS qxx
      FROM ranked WHERE r <= 100
      GROUP BY g
    ),
    fitted AS (
      SELECT g, n_ranks, total_tokens, qx, qy,
             CASE WHEN CAST(n_ranks AS DOUBLE) * (qxx / 1e12)
                       - (qx / 1e12) * (qx / 1e12) > 0 THEN
               (CAST(n_ranks AS DOUBLE) * (qxy / 1e12)
                - (qx / 1e12) * (qy / 1e12))
               / (CAST(n_ranks AS DOUBLE) * (qxx / 1e12)
                  - (qx / 1e12) * (qx / 1e12))
             END AS slope_raw
      FROM agg
    )
    SELECT g AS source, n_ranks, total_tokens,
           {pin_sql("slope_raw")} AS slope,
           {pin_sql("(qy / 1e12 - slope_raw * (qx / 1e12))"
                    " / CAST(n_ranks AS DOUBLE)")}
             AS intercept
    FROM fitted
    """,
)
def q273_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf slope of each document source's top-100 word frequencies —
    one hash-checked (source, n_ranks, total_tokens, slope, intercept)
    row per slice, the power-law pathology check a corpus audit runs
    next to entropy (q112) and repetition (q111)."""
    docs = load_table(spark, sf_dir, "documents")
    return zipf_slope(docs, "source", "text")


# ---------------------------------------------------------------------------
# q336 — RAG/context-window CHUNKING with the FULL TEXT PAYLOAD:
# q93's chunker AUDITS spans (first/last token + length per chunk,
# 32/24 geometry); this emits the reassembled chunk_text itself — the
# column an embed-everything job actually feeds the encoder — at the
# retrieval-typical 64/16 geometry, value-hash-checking the entire
# reconstructed text of every chunk rather than its endpoints.
# Distinct from q76's pack_sequences (which CONCATENATES short docs
# into training rows) and q190's span grid (stride = span, no
# overlap, dedup-oriented).
#
# Contract: stride = chunk_tokens - overlap; chunk i covers tokens
# [i*stride, i*stride + chunk_tokens); the last chunk starts at the
# largest i*stride < n_tokens and may be short; every token is in at
# least one chunk and consecutive chunks share exactly `overlap`
# tokens (except a short last).  Pure integer/token arithmetic — no
# floats anywhere, so the oracle is token-identical by construction.
#
# Scale: tokenize is narrow; the explode fans out n/stride rows per
# doc with ONE slice each (no shuffle until the caller aggregates);
# chunk ids are (doc_id, chunk_idx) — embarrassingly parallel, the
# shape a 100 TB embed-everything job needs.
# ---------------------------------------------------------------------------

_CHUNK_TOKENS = 64
_CHUNK_OVERLAP = 16


def chunk_documents_text(df: DataFrame, id_col: str, text_col: str,
                         chunk_tokens: int = _CHUNK_TOKENS,
                         overlap: int = _CHUNK_OVERLAP) -> DataFrame:
    """(id, chunk_idx, start_tok, n_tok, chunk_text): overlapping
    fixed-token chunks per document.  Docs with zero tokens emit
    nothing; 0 <= overlap < chunk_tokens enforced."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    tok = df.select(
        F.col(id_col).alias("__id"),
        tokens(normalize_text(text_col)).alias("__toks"),
    ).filter(F.size("__toks") >= 1)
    n = F.size("__toks")
    # number of chunks: 1 + floor((n - 1) / stride) would overshoot
    # when the last full chunk already covers the tail; the standard
    # rule is chunks at starts 0, stride, ... while start < n AND
    # (start == 0 OR start + overlap < n) — equivalently
    # k = 1 + ceil(max(0, n - chunk) / stride)
    extra = F.greatest(F.lit(0), n - F.lit(chunk_tokens))
    k = (F.lit(1)
         + F.floor((extra + F.lit(stride - 1)) / F.lit(stride))
         .cast("int"))
    out = tok.select(
        "__id", "__toks",
        F.explode(F.sequence(F.lit(0), k - 1)).alias("chunk_idx"))
    start = F.col("chunk_idx") * F.lit(stride)
    piece = F.slice(F.col("__toks"), start + 1, F.lit(chunk_tokens))
    return out.select(
        F.col("__id").alias(id_col),
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        start.cast("int").alias("start_tok"),
        F.size(piece).cast("int").alias("n_tok"),
        F.array_join(piece, " ").alias("chunk_text"))


def _chunk_oracle(chunk_tokens: int = _CHUNK_TOKENS,
                  overlap: int = _CHUNK_OVERLAP) -> str:
    stride = chunk_tokens - overlap
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS t
      FROM documents
      WHERE len(string_split({_NORM}, ' ')) >= 1
    ),
    k AS (
      SELECT doc_id, t,
             1 + CAST(floor((greatest(0, len(t) - {chunk_tokens})
                             + {stride - 1}) / {stride}) AS INT) AS nk
      FROM toks
    ),
    fanned AS (
      SELECT doc_id, t, CAST(u.i AS INT) AS chunk_idx
      FROM k, LATERAL (SELECT unnest(range(0, nk)) AS i) u
    )
    SELECT doc_id, chunk_idx,
           CAST(chunk_idx * {stride} AS INT) AS start_tok,
           CAST(len(list_slice(t, chunk_idx * {stride} + 1,
                               chunk_idx * {stride} + {chunk_tokens}))
                AS INT) AS n_tok,
           array_to_string(
             list_slice(t, chunk_idx * {stride} + 1,
                        chunk_idx * {stride} + {chunk_tokens}), ' ')
             AS chunk_text
    FROM fanned
    """


@query("q336_chunk_documents", oracle=_chunk_oracle())
def q336_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk every document into 64-token windows with 16-token
    overlap — the RAG/embedding prep step; every (doc, chunk) row's
    FULL TEXT is value-hash-checked against the oracle's list-slice
    reimplementation (pure integer arithmetic, no float anywhere)."""
    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents_text(docs, "doc_id", "text")
