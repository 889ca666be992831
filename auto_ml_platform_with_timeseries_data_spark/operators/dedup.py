"""Deduplication operators for training-data pipelines (BASELINE.json
north star; beyond the reference's surface, designed for 100 TB).

Four tiers, cheapest first:

- exact dedup: hash-groupBy on normalized text — one shuffle keyed by
  the (tiny) md5, never the full text.
- content fingerprint: md5 of normalized text (portable across engines,
  hence oracle-checkable).
- MinHash + LSH banding: k hash functions per shingle set via xxhash64
  (JVM-side, no UDF); band → bucket → self-join on (band, band_hash)
  produces candidate pairs LINEAR in data size (no O(n²) cross join);
  candidates verified with exact Jaccard.
- SimHash: 64-bit signature via per-bit majority vote over token hashes;
  near-dups = signatures within small Hamming distance.
- n-gram Jaccard: exact verification kernel, also exposed standalone
  with lang-blocked candidate generation (oracle-checkable).

Scale notes: the LSH self-join shuffles on (band_id, band_hash) — hot
buckets (boilerplate docs) are the classic skew source; AQE skew-join
splits them, and `max_bucket_size` hard-caps degenerate buckets the way
production dedup pipelines do.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from auto_ml_platform_with_timeseries_data_spark.functions.text_exprs import (
    jaccard,
    normalize_text,
    tokens,
    word_ngrams,
)


def _grams_df(df: DataFrame, id_col: str, text_col: str, shingle_n: int,
              extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """(id, __grams) with distinct word n-gram shingles.

    Tokenization is bound to a real column in its own projection BEFORE
    the n-gram transform. This matters enormously: ``word_ngrams`` refers
    to its token array once per element inside a higher-order lambda,
    where codegen cannot common-subexpression-eliminate — an inline
    ``split(regexp_replace(...))`` would re-run the regex O(n_tokens)
    times per row (measured 16× slower at sf0.1). CollapseProject keeps
    the two projections separate because the alias is non-cheap and
    multiply-referenced."""
    tok = df.select(
        *extra_cols, F.col(id_col).alias("__id"),
        tokens(normalize_text(text_col)).alias("__toks"),
    ).filter(F.size("__toks") >= shingle_n)
    # ^ the emptiness filter lives HERE, on the token array, not on the
    # gram array downstream: predicate pushdown inlines a filter's full
    # expression below the projections, so a later size(__grams)>0 would
    # re-evaluate the whole tokenize→ngram chain per row (measured 40×
    # slower). size(__toks) pushes down as one split+regexp — cheap.
    return tok.select(
        *extra_cols, "__id",
        F.array_distinct(word_ngrams(F.col("__toks"), shingle_n)).alias("__grams"),
    )


def _spread(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition by key to defaultParallelism ahead of a FAN-OUT stage.

    AQE sizes shuffle-read partitions by their INPUT bytes; a small
    upstream (a few hundred k rows) gets coalesced to 1-2 partitions,
    and any self-join / pair-explosion downstream then multiplies rows
    on 1-2 cores (measured: the sf0.1 jaccard index join ran on ONE
    partition, 6.3s → 2.1s with this repartition). An explicit
    repartition-by-number is exempt from AQE coalescing, and keying it
    on the join/group columns lets the planner reuse the exchange
    instead of adding one. At cluster scale inputs are large enough
    that AQE would keep parallelism anyway — this is a floor, not a
    cap, because fan-out output ≫ input is invisible to AQE's
    input-byte cost model."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *cols)


def _hash_grams(grams: DataFrame) -> DataFrame:
    """Replace __grams string arrays with xxhash64 long arrays. Jaccard
    over the hashes equals Jaccard over the grams barring a 64-bit
    collision (~2^-64 per pair) — and the pair-join rows shrink ~6×
    while array_intersect compares 8-byte longs instead of strings."""
    return grams.withColumn(
        "__grams", F.transform("__grams", lambda g: F.xxhash64(g))
    )
from auto_ml_platform_with_timeseries_data_spark.registry import query
from auto_ml_platform_with_timeseries_data_spark.tables import keep, load_table, release

# ---------------------------------------------------------------------------
# Exact dedup + fingerprint
# ---------------------------------------------------------------------------


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Tag every row with its duplicate group: (id, canonical_id,
    group_size). canonical = min id among rows with identical normalized
    text. Grouping key is md5(norm) so the shuffle carries 32 bytes per
    row, not the document body."""
    keyed = df.select(
        F.col(id_col), F.md5(normalize_text(text_col)).alias("__fp")
    )
    w = Window.partitionBy("__fp")
    return keyed.select(
        id_col,
        F.min(id_col).over(w).alias("canonical_id"),
        F.count(F.lit(1)).over(w).alias("group_size"),
    )


def deduplicate_exact(df: DataFrame, text_col: str) -> DataFrame:
    """Keep one row per distinct normalized text (dropDuplicates on the
    fingerprint — order-independent, scale-out)."""
    return df.withColumn("__fp", F.md5(normalize_text(text_col))).dropDuplicates(
        ["__fp"]
    ).drop("__fp")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(df: DataFrame, id_col: str, shingles: Column,
                       num_hashes: int = 32,
                       pre_hashed: bool = False) -> DataFrame:
    """(id, sig array<long>): for hash-family member i, min over distinct
    shingles of xxhash64(xxhash64(shingle), i).

    Fully NARROW plan — no explode, no shuffle: each string shingle is
    hashed exactly once (projection 1 binds the long array), then the
    num_hashes family members are derived by re-hashing the 8-byte long,
    which is ~10× cheaper than re-hashing the string per member. At
    cluster scale signature construction runs at scan speed; the only
    shuffle in the LSH pipeline is the band-bucket join.

    Precondition: rows have ≥1 shingle (callers filter on token count —
    a filter on the shingle column here would be pushdown-inlined into a
    per-row re-evaluation of the whole chain). Empty arrays yield null
    signature entries, which the banding stage would bucket together.

    `pre_hashed=True` means `shingles` is already an array<long> of
    xxhash64'd distinct grams (_hash_grams output) — the signature
    family is identical either way, so callers that also need the
    hashed gram sets (the LSH verify step) can compute them once.
    """
    if pre_hashed:
        hashed = df.select(F.col(id_col).alias("__id"),
                           shingles.alias("__gh"))
    else:
        hashed = df.select(
            F.col(id_col).alias("__id"),
            F.transform(F.array_distinct(shingles),
                        lambda g: F.xxhash64(g)).alias("__gh"),
        )
    return hashed.select(
        "__id",
        F.array(*[
            F.array_min(
                F.transform(F.col("__gh"), lambda h: F.xxhash64(h, F.lit(i)))
            )
            for i in range(num_hashes)
        ]).alias("__sig"),
    )


def minhash_lsh_candidates(df: DataFrame, id_col: str, text_col: str,
                           num_hashes: int = 32, bands: int = 8,
                           shingle_n: int = 3,
                           max_bucket_size: int = 1000,
                           grams_hashed: DataFrame | None = None) -> DataFrame:
    """Candidate near-dup pairs via LSH banding: (id_a, id_b) with
    id_a < id_b that share at least one band. Rows per band-bucket are
    capped at `max_bucket_size` to bound worst-case skew. Pass
    `grams_hashed` (_hash_grams output, ideally persisted) to reuse an
    existing gram computation instead of re-running the text chain."""
    rows_per_band = num_hashes // bands
    if grams_hashed is not None:
        sig = minhash_signatures(grams_hashed, "__id", F.col("__grams"),
                                 num_hashes, pre_hashed=True)
    else:
        grams = _grams_df(df, id_col, text_col, shingle_n)
        sig = minhash_signatures(grams, "__id", F.col("__grams"), num_hashes)
    banded = sig.select(
        "__id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            *[F.element_at(F.col("__sig"), b * rows_per_band + r + 1)
                              for r in range(rows_per_band)],
                        )
                    ).alias("bucket"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("__id", "bb.band", "bb.bucket")
    # ONE shuffle on (band, bucket), then in-bucket pair expansion with a
    # higher-order function — no self-join, so the whole scan→grams→
    # signature chain executes exactly once (a self-join would run it
    # per side: measured 4 parquet scans and 0 ReusedExchange). Buckets
    # are sorted+capped inside the aggregate to bound worst-case skew.
    members = banded.groupBy("band", "bucket").agg(
        F.slice(F.array_sort(F.collect_list("__id")), 1, max_bucket_size)
        .alias("__ids")
    )
    # Pair explosion is a fan-out pipelined onto the agg's (AQE-coalesced)
    # output partitions — re-spread first so it runs on every core.
    members = _spread(members.filter(F.size("__ids") > 1), "band", "bucket")
    # explode_OUTER: plain explode makes InferFiltersFromGenerate add
    # `size(<pair-expansion HOF>) > 0`, re-running the whole expansion a
    # second time per bucket (see winnow_fingerprints for the measured
    # pathology). size(__ids) > 1 already guarantees ≥ 1 pair, so the
    # outer variant emits no null rows.
    pairs = members.select(
        F.explode_outer(
            F.flatten(F.transform(
                "__ids",
                lambda a: F.transform(
                    F.filter(F.col("__ids"), lambda b: b > a),
                    lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
                ),
            ))
        ).alias("p")
    )
    return pairs.select("p.id_a", "p.id_b").distinct()


def minhash_dedup_pairs(df: DataFrame, id_col: str, text_col: str,
                        threshold: float = 0.7, num_hashes: int = 32,
                        bands: int = 8, shingle_n: int = 3) -> DataFrame:
    """LSH candidates verified with exact n-gram Jaccard ≥ threshold.
    Output: (id_a, id_b, jaccard)."""
    # ONE text→grams→hash chain for the whole pipeline: the persisted
    # hashed-gram table feeds signature construction AND both verify-join
    # sides (it's ~two orders of magnitude smaller than the text; the
    # signature family is xxhash64(gram_hash, i), so it derives from the
    # hashed grams without touching strings again).
    grams = keep(_hash_grams(_grams_df(df, id_col, text_col, shingle_n)))
    cands = minhash_lsh_candidates(df, id_col, text_col, num_hashes, bands,
                                   shingle_n, grams_hashed=grams)
    ga = grams.select(F.col("__id").alias("id_a"), F.col("__grams").alias("__ga"))
    gb = grams.select(F.col("__id").alias("id_b"), F.col("__grams").alias("__gb"))
    return (
        cands.join(ga, "id_a").join(gb, "id_b")
        .select(
            "id_a", "id_b",
            F.round(jaccard(F.col("__ga"), F.col("__gb")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per document: bit b of the signature is set iff the
    majority of token hashes have bit b set. One explode + one groupBy
    with 64 conditional-sum aggregates — fully JVM-side."""
    tok = df.select(
        F.col(id_col), F.explode(tokens(normalize_text(text_col))).alias("__t")
    ).withColumn("__h", F.xxhash64("__t"))
    bit_votes = [
        F.sum(
            F.when(F.shiftright(F.col("__h"), b).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"__b{b}")
        for b in range(64)
    ]
    votes = tok.groupBy(id_col).agg(*bit_votes)
    sig = reduce(
        lambda acc, b: acc + F.when(
            F.col(f"__b{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long")),
        range(1, 64),
        F.when(F.col("__b0") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long")),
    )
    return votes.select(F.col(id_col), sig.alias("simhash"))


def hamming_band_pairs(sigs: DataFrame, id_col: str,
                       sig_cols: Sequence[tuple[str, int]],
                       max_hamming: int = 3) -> DataFrame:
    """Near-pairs by Hamming distance over one or more integer signature
    columns, candidate-blocked on 16-bit bands: the signature bits split
    into B = Σ⌈bits/16⌉ bands, candidates join on (band_id, band
    value), and survivors verify the exact popcount of the XOR. By
    pigeonhole, a pair within distance d ≤ B−1 differs in at most B−1
    bands and therefore shares at least one band exactly — so for
    max_hamming ≤ B−1 recall is EXACT, not probabilistic.

    ``sig_cols`` is [(column, n_bits), ...] — e.g. [("simhash", 64)]
    for one 64-bit signature, or [("dhash_lo", 32), ("dhash_hi", 32)]
    for a fingerprint carried as two 32-bit halves (q186's dHash).
    Returns (id_a, id_b, hamming).

    Scale shape shared with the LSH/simhash candidates: ONE (band_id,
    band) shuffle, in-bucket pair expansion via HOFs after the
    aggregate (the signature chain executes once, not per join side),
    popcount verification entirely JVM-side."""
    names = [c for c, _ in sig_cols]
    bands = []
    for col, nbits in sig_cols:
        for off in range(0, nbits, 16):
            bands.append(F.struct(
                F.lit(len(bands)).alias("band_id"),
                F.shiftright(F.col(col), off).bitwiseAND(F.lit(0xFFFF))
                .alias("band"),
            ))
    chunks = sigs.select(
        id_col, *names, F.explode(F.array(*bands)).alias("bb"),
    ).select(id_col, *names, "bb.band_id", "bb.band")
    members = chunks.groupBy("band_id", "band").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col(id_col).alias("id"), *names))
        ).alias("__m")
    )
    # Same fan-out-after-agg trap as the LSH buckets — re-spread; same
    # explode_outer rationale (≥1 pair guaranteed by size(__m) > 1).
    members = _spread(members.filter(F.size("__m") > 1), "band_id", "band")

    def _ham(a, b):
        return reduce(
            lambda acc, c: acc + F.bit_count(a[c].bitwiseXOR(b[c])),
            names[1:],
            F.bit_count(a[names[0]].bitwiseXOR(b[names[0]])),
        )

    pairs = members.select(
        F.explode_outer(
            F.flatten(F.transform(
                "__m",
                lambda a: F.transform(
                    F.filter(F.col("__m"), lambda b: b["id"] > a["id"]),
                    lambda b: F.struct(
                        a["id"].alias("id_a"), b["id"].alias("id_b"),
                        _ham(a, b).alias("hamming"),
                    ),
                ),
            ))
        ).alias("p")
    )
    return (
        pairs.select("p.id_a", "p.id_b", "p.hamming")
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_near_pairs(df: DataFrame, id_col: str, text_col: str,
                       max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, candidate-blocked on
    16-bit signature chunks (a pair within distance d≤3 shares at least
    one of the 4 chunks exactly — pigeonhole). Thin wrapper over the
    generic `hamming_band_pairs` machinery, which q189 reuses for
    perceptual image fingerprints."""
    sigs = simhash64(df, id_col, text_col)
    return hamming_band_pairs(sigs, id_col, [("simhash", 64)], max_hamming)


# ---------------------------------------------------------------------------
# n-gram Jaccard with blocking (oracle-checkable)
# ---------------------------------------------------------------------------


def jaccard_pairs_blocked(df: DataFrame, id_col: str, text_col: str,
                          block_col: str, shingle_n: int = 2,
                          threshold: float = 0.2, strategy: str = "auto",
                          index_budget: int = 50_000_000) -> DataFrame:
    """Exact all-pairs n-gram Jaccard ≥ threshold within blocks (e.g.
    same language): (block, id_a, id_b, jaccard).

    Two physical strategies behind one logical contract, chosen by a
    cost estimate the way an optimizer would:

    - ``index``: inverted-index count join — explode grams, self-join on
      (block, gram), groupBy pair, COUNT = |A∩B| exactly, so Jaccard
      falls out with no array materialization and no verification pass.
      The join fans out Σ df² rows over (block, gram) buckets; optimal
      when the vocabulary is small/shared (prefix filtering has no
      selectivity there) but quadratic in hot-gram doc frequency.
    - ``prefix``: AllPairs/PPJoin candidate pruning + exact verify —
      near-linear fan-out under a Zipfian vocabulary; the 100 TB path.
    - ``auto``: one linear aggregate computes the EXACT index-join row
      count Σ df² (no sampling needed — it's a sum over gram frequencies)
      and picks ``index`` iff it fits ``index_budget`` rows.
    """
    grams = keep(_hash_grams(_grams_df(
        df.withColumnRenamed(block_col, "__blk"), id_col, text_col, shingle_n,
        extra_cols=("__blk",),
    )))
    if strategy == "auto":
        cost = (
            grams.select("__blk", F.explode("__grams").alias("__g"))
            .groupBy("__blk", "__g").count()
            .agg(F.sum(F.col("count") * F.col("count"))).first()[0]
        ) or 0
        strategy = "index" if cost <= index_budget else "prefix"
    if strategy == "index":
        return _jaccard_pairs_index(grams, float(threshold))
    return _jaccard_pairs_prefix(grams, float(threshold))


def _jaccard_pairs_index(grams: DataFrame, t: float) -> DataFrame:
    """Exact Jaccard via inverted-index counting: for co-occurring pairs,
    COUNT over the (block, gram) join IS |A∩B| (gram arrays are
    distinct), so J = c/(|A|+|B|−c). Pairs sharing zero grams never
    appear — correct for any threshold > 0. Set sizes ride along as
    groupBy keys (functionally dependent on the ids), avoiding a
    re-join against the gram table."""
    ex = _spread(
        grams.select(
            "__blk", "__id", F.size("__grams").alias("__n"),
            F.explode("__grams").alias("__g"),
        ),
        "__blk", "__g",
    )
    pairs = (
        ex.alias("a").join(ex.alias("b"), ["__blk", "__g"])
        .filter(
            (F.col("a.__id") < F.col("b.__id"))
            # length filter: t·|A| ≤ |B| ≤ |A|/t — prunes before the agg
            & (F.col("b.__n") >= F.ceil(F.lit(t) * F.col("a.__n")))
            & (F.col("b.__n") * F.lit(t) <= F.col("a.__n"))
        )
        .groupBy(
            "__blk",
            F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"),
            F.col("a.__n").alias("__na"), F.col("b.__n").alias("__nb"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("__c"))
    )
    # Filter on the UNROUNDED ratio (the oracle's form), round only in
    # the projection — same double arithmetic on both engines.
    return (
        pairs
        .filter(F.col("__c") / (F.col("__na") + F.col("__nb") - F.col("__c"))
                >= F.lit(t))
        .select(
            F.col("__blk").alias("block"), "id_a", "id_b",
            F.round(
                F.col("__c") / (F.col("__na") + F.col("__nb") - F.col("__c")),
                6,
            ).alias("jaccard"),
        )
    )


def _jaccard_pairs_prefix(grams: DataFrame, t: float) -> DataFrame:
    """AllPairs/PPJoin: three lossless filters before exact verification.

    1. PREFIX filter (AllPairs): under a canonical global gram order,
       J(A,B) ≥ t forces a shared gram within each one's first
       |A| − ⌈t·|A|⌉ + 1 grams. Rarity-ascending order makes those
       prefixes the RAREST grams, so the candidate join on (block, gram)
       fans out near-linearly instead of the per-block cross join.
    2. LENGTH filter: t·|A| ≤ |B| ≤ |A|/t.
    3. POSITIONAL+SUFFIX filter (PPJoin): the join finds ALL grams in
       prefix(A) ∩ prefix(B) — count them (cnt) and take g* = the
       max-ordered one, at positions (i*, j*) in the full sorted lists.
       Every common gram NOT counted lies strictly after g* on both
       sides: if g < g* in the global order and g ∈ A∩B, then g precedes
       g* in both sorted lists, so it sits inside both prefixes and the
       join would have counted it. Hence
       |A∩B| ≤ cnt + min(|A|−1−i*, |B|−1−j*), and with (i₀, j₀) the
       min-matched positions also |A∩B| ≤ min(|A|−i₀, |B|−j₀). Prune
       pairs whose bounds fall below α = ⌈t/(1+t)·(|A|+|B|)⌉.
    """
    # Canonical order = (global doc-frequency asc, gram asc); prefix =
    # the first |g| − ⌈t·|g|⌉ + 1 grams of each doc in that order.
    exploded = grams.select("__blk", "__id", F.explode("__grams").alias("__g"))
    freq = exploded.groupBy("__g").agg(F.count(F.lit(1)).alias("__df"))
    prefixes = (
        exploded.join(freq, "__g")
        .groupBy("__blk", "__id")
        .agg(F.array_sort(
            F.collect_list(F.struct("__df", "__g"))
        ).alias("__ordered"))
        .join(grams.select("__id", F.size("__grams").alias("__n")), "__id")
        .select(
            "__blk", "__id", "__n",
            F.posexplode(F.slice(
                F.transform("__ordered", lambda s: s["__g"]),
                1,
                (F.col("__n")
                 - F.ceil(F.lit(t) * F.col("__n")) + 1
                 ).cast("int"),
            )).alias("__pos", "__g"),  # __pos is 0-based within the list
        )
    )
    # Fan-out self-join below — see _spread (1-partition AQE trap).
    prefixes = _spread(prefixes, "__blk", "__g")
    matches = (
        prefixes.alias("a")
        .join(prefixes.alias("b"), ["__blk", "__g"])
        .filter(
            (F.col("a.__id") < F.col("b.__id"))
            # length filter
            & (F.col("b.__n") >= F.ceil(F.lit(t) * F.col("a.__n")))
            & (F.col("b.__n") * F.lit(t) <= F.col("a.__n"))
        )
        .select(
            "__blk",
            F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"),
            F.col("a.__n").alias("__na"), F.col("b.__n").alias("__nb"),
            F.col("a.__pos").alias("__ia"), F.col("b.__pos").alias("__jb"),
        )
    )
    # Positional + suffix bounds (see docstring). Min-matched positions
    # give min(na−i₀, nb−j₀); max-matched positions + the exact count of
    # prefix∩prefix matches give cnt + min(na−1−i*, nb−1−j*) — on a
    # shared-vocabulary corpus the second bound prunes ~2.3× more
    # candidates than the first (measured at sf0.1: 911k → 392k).
    # ceil(α − ε): the ε guards against the float ratio landing a hair
    # ABOVE an exact-integer α and over-pruning a true pair.
    alpha = F.ceil(
        F.lit(t / (1.0 + t)) * (F.col("__na") + F.col("__nb")) - F.lit(1e-9)
    )
    cands = (
        matches.groupBy("__blk", "id_a", "id_b", "__na", "__nb")
        .agg(
            F.min("__ia").alias("__ia"), F.min("__jb").alias("__jb"),
            F.max("__ia").alias("__iax"), F.max("__jb").alias("__jbx"),
            F.count(F.lit(1)).alias("__cnt"),
        )
        .filter(
            (F.least(F.col("__na") - F.col("__ia"),
                     F.col("__nb") - F.col("__jb")) >= alpha)
            & (F.col("__cnt")
               + F.least(F.col("__na") - 1 - F.col("__iax"),
                         F.col("__nb") - 1 - F.col("__jbx")) >= alpha)
        )
        .select("__blk", "id_a", "id_b", "__na", "__nb")
    )
    ga = grams.select(F.col("__id").alias("id_a"), F.col("__grams").alias("__ga"))
    gb = grams.select(F.col("__id").alias("id_b"), F.col("__grams").alias("__gb"))
    # Verify with ONE array_intersect; |A|,|B| ride along from the
    # candidate row, and the threshold test runs on the UNROUNDED ratio
    # (the oracle's form) before the display rounding.
    return (
        cands.join(ga, "id_a").join(gb, "id_b")
        .select(
            "__blk", "id_a", "id_b", "__na", "__nb",
            F.size(F.array_intersect("__ga", "__gb")).cast("double")
            .alias("__i"),
        )
        .filter(F.col("__i") / (F.col("__na") + F.col("__nb") - F.col("__i"))
                >= F.lit(t))
        .select(
            F.col("__blk").alias("block"), "id_a", "id_b",
            F.round(
                F.col("__i") / (F.col("__na") + F.col("__nb") - F.col("__i")),
                6,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Registered queries + oracles
# ---------------------------------------------------------------------------

_NORM_DUCK = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_JACCARD_THRESHOLD = 0.5


@query(
    "q16_dedup_exact",
    oracle=f"""
    SELECT doc_id,
           CAST(min(doc_id) OVER (PARTITION BY fp) AS BIGINT) AS canonical_id,
           count(*) OVER (PARTITION BY fp) AS group_size
    FROM (SELECT doc_id, md5({_NORM_DUCK}) AS fp FROM documents)
    """,
)
def q16_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup_groups(docs, "doc_id", "text")


@query(
    "q33_fingerprint",
    oracle=f"SELECT doc_id, md5({_NORM_DUCK}) AS fingerprint FROM documents",
)
def q33_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.md5(normalize_text("text")).alias("fingerprint")
    )


_JACCARD_PAIRS_DUCK = f"""
    WITH g AS (
      SELECT lang, doc_id,
             list_distinct(list_transform(
               range(1, len(string_split({_NORM_DUCK}, ' '))),
               i -> string_split({_NORM_DUCK}, ' ')[i] || ' ' ||
                    string_split({_NORM_DUCK}, ' ')[i + 1]
             )) AS grams
      FROM documents
    )
    SELECT a.lang AS block, a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
                 (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))), 6) AS jaccard
    FROM g a JOIN g b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
          (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
          >= {_JACCARD_THRESHOLD}
"""


@query("q18_jaccard_pairs", oracle=_JACCARD_PAIRS_DUCK)
def q18_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return jaccard_pairs_blocked(docs, "doc_id", "text", "lang",
                                 shingle_n=2, threshold=_JACCARD_THRESHOLD)


@query("q17_minhash_dedup")  # rows-only: xxhash64 has no DuckDB equivalent
def q17_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.35)


@query("q23_simhash")  # rows-only: xxhash64 has no DuckDB equivalent
def q23_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash64(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components over a pair graph
# ---------------------------------------------------------------------------


def connected_components(vertices: DataFrame, edges: DataFrame,
                         id_col: str = "id", src: str = "id_a",
                         dst: str = "id_b", max_iter: int = 25) -> DataFrame:
    """(id, component) where component = min vertex id reachable through
    `edges` — the canonical-document assignment for near-dup clusters
    (every doc keeps the smallest id of its duplicate family).

    Iterative min-label propagation: each round every vertex takes the
    min of its own label and its neighbors' labels; fixpoint after
    O(graph diameter) rounds. Near-dup graphs are shallow (clusters are
    cliques-ish, diameter 2-3), so 3-4 rounds close real corpora. Each
    round is one broadcast-ready join + groupBy-min; labels persist per
    round and the loop stops as soon as a round changes nothing (a
    count on a changed-filter — the driver holds only the scalar).
    At extreme scale swap the propagation step for the large-star/
    small-star rewriting (Kiveris et al., "Connected Components in
    MapReduce"), which converges in O(log²) rounds on adversarial
    chains; the operator contract is unchanged."""
    # Persist the DIRECTED edges before mirroring: the union references
    # the edge plan twice, and an expensive upstream (e.g. a similarity
    # join) would otherwise execute once per direction.
    directed = keep(edges.select(F.col(src).alias("u"),
                                 F.col(dst).alias("v")))
    e = keep(directed.unionAll(
        directed.select(F.col("v").alias("u"), F.col("u").alias("v"))))
    # Iterate ONLY over vertices that touch an edge: isolated vertices
    # are their own component by definition and never change, and the
    # near-dup graph is always sparse next to the corpus (hundreds of
    # nodes vs 50k docs at sf0.1 — at 100 TB, millions vs billions), so
    # every propagation round shrinks from corpus-sized to graph-sized.
    # Isolated vertices rejoin map-only at the end.
    edge_vertices = (
        directed.select(F.col("u").alias("id"))
        .unionAll(directed.select(F.col("v").alias("id")))
        .distinct()
    )
    all_labels = vertices.select(F.col(id_col).alias("id"))
    labels = keep(edge_vertices.select("id", F.col("id").alias("comp")))
    cached = labels  # the DF actually holding the persisted round state
    for _ in range(max_iter):
        nbr_min = (
            e.join(labels.select(F.col("id").alias("v"),
                                 F.col("comp").alias("vcomp")), "v")
            .groupBy("u").agg(F.min("vcomp").alias("nbr_comp"))
        )
        # Carry a per-row changed flag through the same select instead of
        # re-joining new vs old labels: one job per round, not two.
        stepped = keep(
            labels.join(nbr_min, labels["id"] == nbr_min["u"], "left")
            .select(
                "id",
                F.least(F.col("comp"),
                        F.coalesce("nbr_comp", F.col("comp"))).alias("comp"),
                (F.coalesce("nbr_comp", F.col("comp")) < F.col("comp"))
                .alias("__chg"),
            )
        )
        changed = stepped.filter("__chg").limit(1).count()
        release(cached)
        cached = stepped
        labels = stepped.select("id", "comp")
        if changed == 0:
            break
    release(e, directed)
    # isolated vertices: component = own id (left join keeps every vertex)
    return (
        all_labels.join(labels, "id", "left")
        .select("id", F.coalesce("comp", F.col("id")).alias("component"))
    )


@query(
    "q55_dedup_components",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_JACCARD_PAIRS_DUCK}),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION ALL
      SELECT id_b AS u, id_a AS v FROM pairs
    ),
    reach(src, dst) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u
    )
    SELECT src AS doc_id, min(dst) AS component
    FROM reach GROUP BY src
    """,
)
def q55_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering end to end: exact jaccard pairs (q18) as the
    edge set, connected components as the canonical-id assignment. The
    oracle computes the same components by transitive closure (recursive
    CTE) — tractable at oracle scale, while the Spark path converges in
    O(diameter) distributed rounds."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs_blocked(docs, "doc_id", "text", "lang",
                                  shingle_n=2, threshold=_JACCARD_THRESHOLD)
    comp = connected_components(
        docs.select("doc_id"), pairs.select("id_a", "id_b"),
        id_col="doc_id")
    return comp.select(F.col("id").alias("doc_id"), "component")


# ---------------------------------------------------------------------------
# q140 — containment pairs (asymmetric overlap; catches quotes/subsets)
# ---------------------------------------------------------------------------

_CONTAINMENT_T = 0.5


def containment_pairs_blocked(df: DataFrame, id_col: str, text_col: str,
                              block_col: str, shingle_n: int = 2,
                              threshold: float = _CONTAINMENT_T) -> DataFrame:
    """Exact n-gram CONTAINMENT pairs within blocks: (block, id_a, id_b,
    containment) with containment = |A∩B| / min(|A|, |B|) ≥ threshold.

    The asymmetric complement of Jaccard (q18): a short document quoted
    verbatim inside a long one has containment ≈ 1 but Jaccard ≈
    |short|/|long| ≈ 0 — Jaccard-only dedup keeps the quote-inclusion
    duplicates. Same inverted-index count join as _jaccard_pairs_index
    (the co-occurrence COUNT is |A∩B| either way); only the length
    filter changes — containment has none (a tiny doc can be contained
    in any size), so the fan-out is bounded by gram df alone and the
    blocked grouping carries the scale argument."""
    grams = _hash_grams(_grams_df(
        df.withColumnRenamed(block_col, "__blk"), id_col, text_col,
        shingle_n, extra_cols=("__blk",),
    ))
    ex = _spread(
        grams.select(
            "__blk", "__id", F.size("__grams").alias("__n"),
            F.explode("__grams").alias("__g"),
        ),
        "__blk", "__g",
    )
    pairs = (
        ex.alias("a").join(ex.alias("b"), ["__blk", "__g"])
        .filter(F.col("a.__id") < F.col("b.__id"))
        .groupBy(
            "__blk",
            F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"),
            F.col("a.__n").alias("__na"), F.col("b.__n").alias("__nb"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("__c"))
    )
    cont = F.col("__c") / F.least("__na", "__nb")
    return (
        pairs.filter(cont >= F.lit(threshold))
        .select(
            F.col("__blk").alias("block"), "id_a", "id_b",
            F.round(cont, 6).alias("containment"),
        )
    )


_CONTAINMENT_PAIRS_DUCK = f"""
    WITH g AS (
      SELECT lang, doc_id,
             list_distinct(list_transform(
               range(1, len(string_split({_NORM_DUCK}, ' '))),
               i -> string_split({_NORM_DUCK}, ' ')[i] || ' ' ||
                    string_split({_NORM_DUCK}, ' ')[i + 1]
             )) AS grams
      FROM documents
    )
    SELECT a.lang AS block, a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
                 LEAST(len(a.grams), len(b.grams)), 6) AS containment
    FROM g a JOIN g b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
          LEAST(len(a.grams), len(b.grams)) >= {_CONTAINMENT_T}
"""


@query("q140_containment_pairs", oracle=_CONTAINMENT_PAIRS_DUCK)
def q140_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return containment_pairs_blocked(docs, "doc_id", "text", "lang",
                                     shingle_n=2, threshold=_CONTAINMENT_T)


# ---------------------------------------------------------------------------
# Portable exact twins for the xxhash64-based signatures (q141/q142)
#
# q17 (MinHash-LSH) and q23 (SimHash) are rows-only: xxhash64 has no
# DuckDB equivalent, so the driver can only count their rows. These
# twins run the IDENTICAL signature machinery — shingling, min-over-
# hash-family, per-bit majority vote — through a hash family both
# engines can compute exactly: a 31-base polynomial rolling hash over
# the gram/token characters, mod the prime 1_000_000_007 (products stay
# < 2^63, so BIGINT arithmetic never overflows in either engine), then
# the affine family h_i(g) = (a_i·h(g) + b_i) mod p. Every signature
# value gets a real driver value-hash check; the production queries
# keep xxhash64 (wider, cheaper — one JVM intrinsic vs a per-char
# fold), with the twins certifying the surrounding machinery.
# ---------------------------------------------------------------------------

_POLY_P = 1_000_000_007
_MINHASH_TWIN_H = 8  # hash functions in the portable family


def _polyhash(g: Column) -> Column:
    """base-31 polynomial rolling hash of a string, mod _POLY_P —
    sequential fold over character code points, bit-identical in any
    engine with 64-bit integers."""
    codes = F.transform(
        F.sequence(F.lit(1), F.length(g)),
        lambda i: F.ascii(g.substr(i, F.lit(1))).cast("long"),
    )
    return F.aggregate(
        codes, F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + c) % _POLY_P,
    )


def minhash_signatures_portable(df: DataFrame, id_col: str, text_col: str,
                                num_hashes: int = _MINHASH_TWIN_H,
                                shingle_n: int = 2) -> DataFrame:
    """(id, sig_0..sig_{H-1}): MinHash signature row through the portable
    polynomial family — same shingle pipeline as the production path
    (normalize → tokens → distinct word n-grams), same min-per-hash
    reduction, SQL-checkable hash family. The per-gram hash is bound to
    its own projection so the H affine transforms reuse it instead of
    re-folding the characters H times (the _grams_df CSE lesson)."""
    grams = _grams_df(df, id_col, text_col, shingle_n)
    hashed = grams.select(
        "__id", F.transform("__grams", _polyhash).alias("__hs"))

    def affine(i: int):
        # single-arg lambda on purpose: a 2-arg lambda would make
        # F.transform pass the ARRAY INDEX as the second argument
        return lambda h: (F.lit(2 * i + 1) * h + F.lit(7919 * i)) % _POLY_P

    sigs = [
        F.array_min(F.transform("__hs", affine(i))).alias(f"sig_{i}")
        for i in range(num_hashes)
    ]
    return hashed.select(F.col("__id").alias(id_col), *sigs)


_POLY_DUCK = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(range(1, len({g}) + 1), "
    "i -> CAST(ascii(substr({g}, i, 1)) AS BIGINT))), "
    f"(a, b) -> (a * 31 + b) % {_POLY_P})"
)


def _minhash_twin_oracle() -> str:
    sig_cols = ",\n           ".join(
        f"list_min(list_transform(hs, h -> ({2 * i + 1} * h + {7919 * i}) "
        f"% {_POLY_P})) AS sig_{i}"
        for i in range(_MINHASH_TWIN_H)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split({_NORM_DUCK}, ' ') AS t FROM documents
      WHERE len(string_split({_NORM_DUCK}, ' ')) >= 2
    ),
    g AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(t)),
               i -> t[i] || ' ' || t[i + 1])) AS grams
      FROM toks
    ),
    h AS (
      SELECT doc_id,
             list_transform(grams, g -> {_POLY_DUCK.format(g='g')}) AS hs
      FROM g
    )
    SELECT doc_id,
           {sig_cols}
    FROM h
    """


@query("q141_minhash_portable", oracle=_minhash_twin_oracle())
def q141_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_signatures_portable(docs, "doc_id", "text")


_SIMHASH_TWIN_BITS = 16


def simhash_portable(df: DataFrame, id_col: str, text_col: str,
                     nbits: int = _SIMHASH_TWIN_BITS) -> DataFrame:
    """(id, simhash): per-bit majority vote over portable token hashes —
    the q23 machinery (explode with multiplicity → per-bit ±1 votes →
    bit pack) with a SQL-checkable hash. nbits=16 because the
    polynomial hash carries ~30 well-mixed bits; the vote/pack logic is
    identical at any width."""
    tok = df.select(
        F.col(id_col),
        F.explode(tokens(normalize_text(text_col))).alias("__t"),
    ).select(id_col, _polyhash(F.col("__t")).alias("__h"))
    bit_votes = [
        F.sum(
            F.when(F.shiftright(F.col("__h"), b).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"__b{b}")
        for b in range(nbits)
    ]
    votes = tok.groupBy(id_col).agg(*bit_votes)
    sig = reduce(
        lambda acc, b: acc + F.when(
            F.col(f"__b{b}") > 0, F.lit(1 << b).cast("long")
        ).otherwise(F.lit(0).cast("long")),
        range(1, nbits),
        F.when(F.col("__b0") > 0, F.lit(1).cast("long"))
        .otherwise(F.lit(0).cast("long")),
    )
    return votes.select(F.col(id_col), sig.alias("simhash"))


def _simhash_twin_oracle() -> str:
    vote_cols = ",\n             ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(_SIMHASH_TWIN_BITS)
    )
    pack = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(_SIMHASH_TWIN_BITS)
    )
    return f"""
    WITH t AS (
      SELECT doc_id, unnest(string_split({_NORM_DUCK}, ' ')) AS tok
      FROM documents
    ),
    h AS (
      SELECT doc_id, {_POLY_DUCK.format(g='tok')} AS h FROM t
    ),
    v AS (
      SELECT doc_id,
             {vote_cols}
      FROM h GROUP BY doc_id
    )
    SELECT doc_id, CAST({pack} AS BIGINT) AS simhash FROM v
    """


@query("q142_simhash_portable", oracle=_simhash_twin_oracle())
def q142_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash_portable(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# Incremental dedup: delta batch vs an existing corpus fingerprint index
# ---------------------------------------------------------------------------


def fingerprint_index(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Materialize the corpus dedup index: one row per distinct
    normalized-text fingerprint with its canonical (min) id. This is
    the ONLY state an incremental pipeline keeps about the historical
    corpus — 32-byte md5 + 8-byte id per distinct document, so the
    100 TB corpus collapses to a few GB of index that never has to be
    re-scanned when new crawl batches arrive."""
    return (
        df.select(F.md5(normalize_text(text_col)).alias("fingerprint"),
                  F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("canonical_id"))
    )


def incremental_dedup_status(delta: DataFrame, index: DataFrame,
                             id_col: str, text_col: str) -> DataFrame:
    """Classify each delta-batch document against an existing corpus
    fingerprint index (from `fingerprint_index`) without touching
    corpus text: `dup_corpus` (fingerprint already indexed —
    canonical_id points into the corpus), `novel` (first sight
    anywhere — the row owns its fingerprint within the delta), or
    `dup_delta` (another delta row with a smaller id owns it).

    Scale shape: the delta is fingerprinted map-side (md5 of the
    normalized text), then both the within-delta canonical window and
    the index join key on that 32-byte fingerprint — the document body
    never shuffles. The window's hash partitioning on `__fp` is
    reusable by the subsequent sort-merge join on the same key, so the
    delta side is exchanged once; the index side (the big one at
    100 TB) streams through as the join's other input with no
    auxiliary pass. Novelty of a crawl batch is decided by ONE join
    against index state, not a recompute over the corpus."""
    fp = delta.select(
        F.col(id_col), F.md5(normalize_text(text_col)).alias("__fp")
    )
    w = Window.partitionBy("__fp")
    delta_canon = fp.select(
        id_col, "__fp",
        F.min(id_col).over(w).alias("__delta_canonical"),
    )
    joined = delta_canon.join(
        index.withColumnRenamed("fingerprint", "__fp"), on="__fp", how="left"
    )
    return joined.select(
        F.col(id_col),
        F.when(F.col("canonical_id").isNotNull(), F.lit("dup_corpus"))
        .when(F.col(id_col) == F.col("__delta_canonical"), F.lit("novel"))
        .otherwise(F.lit("dup_delta"))
        .alias("status"),
        F.coalesce("canonical_id", "__delta_canonical").alias("canonical_id"),
    )


_INCREMENTAL_DEDUP_DUCK = f"""
    WITH fp AS (
      SELECT doc_id, md5({_NORM_DUCK}) AS fp FROM documents
    ),
    idx AS (
      SELECT fp, min(doc_id) AS corpus_canonical
      FROM fp WHERE doc_id % 5 != 0 GROUP BY fp
    ),
    delta AS (
      SELECT doc_id, fp,
             min(doc_id) OVER (PARTITION BY fp) AS delta_canonical
      FROM fp WHERE doc_id % 5 = 0
    )
    SELECT d.doc_id,
           CASE WHEN i.fp IS NOT NULL THEN 'dup_corpus'
                WHEN d.doc_id = d.delta_canonical THEN 'novel'
                ELSE 'dup_delta' END AS status,
           CAST(coalesce(i.corpus_canonical, d.delta_canonical) AS BIGINT)
             AS canonical_id
    FROM delta d LEFT JOIN idx i ON d.fp = i.fp
"""


@query("q154_incremental_dedup", oracle=_INCREMENTAL_DEDUP_DUCK)
def q154_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental crawl-batch dedup: corpus = doc_id % 5 != 0 (the
    already-indexed 80%), delta = doc_id % 5 == 0 (the new batch).
    The corpus contributes only its fingerprint index; each delta doc
    is labeled dup_corpus / dup_delta / novel with its canonical id."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    idx = fingerprint_index(corpus, "doc_id", "text")
    return incremental_dedup_status(delta, idx, "doc_id", "text")


def update_fingerprint_index(index: DataFrame, delta: DataFrame,
                             id_col: str, text_col: str) -> DataFrame:
    """Index MAINTENANCE — the append-back half of the incremental
    pipeline that q154 consumes: merge the delta batch's NOVEL
    fingerprints into the corpus index, keeping the existing canonical
    for any fingerprint already indexed (dedup-on-merge; the q83
    merge/upsert pattern applied to dedup state). Without this step the
    index silently goes stale after the first batch — the daily
    operational loop at 100 TB is exactly
    ``index = update_fingerprint_index(index, todays_crawl)``.

    Scale shape: the delta is fingerprinted and reduced to one row per
    distinct fingerprint (delta-sized), then LEFT ANTI joins the index
    on the 32-byte fingerprint — work is linear in the DELTA, never a
    corpus rescan; the union is a metadata-only plan concat. Canonical
    ids never change once assigned (min corpus id wins forever), so
    downstream dup_corpus labels are stable across batches."""
    delta_idx = fingerprint_index(delta, id_col, text_col)
    novel = delta_idx.join(index.select("fingerprint"), "fingerprint",
                           "left_anti")
    return index.unionByName(novel)


_INDEX_UPDATE_DUCK = f"""
    WITH fp AS (
      SELECT doc_id, md5({_NORM_DUCK}) AS fp FROM documents
    ),
    idx AS (
      SELECT fp, min(doc_id) AS canonical_id
      FROM fp WHERE doc_id % 5 != 0 GROUP BY fp
    ),
    didx AS (
      SELECT fp, min(doc_id) AS canonical_id
      FROM fp WHERE doc_id % 5 = 0 GROUP BY fp
    )
    SELECT fp AS fingerprint, CAST(canonical_id AS BIGINT) AS canonical_id
    FROM idx
    UNION ALL
    SELECT d.fp AS fingerprint, CAST(d.canonical_id AS BIGINT) AS canonical_id
    FROM didx d
    WHERE NOT EXISTS (SELECT 1 FROM idx i WHERE i.fp = d.fp)
"""


@query("q165_index_update", oracle=_INDEX_UPDATE_DUCK)
def q165_index_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Roll the q154 corpus index forward by one batch: same split
    contract (corpus = doc_id % 5 != 0, delta = doc_id % 5 == 0); the
    result is the UPDATED index — every corpus fingerprint with its
    original canonical, plus one row per novel delta fingerprint
    canonicalized to its min delta id."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    idx = fingerprint_index(corpus, "doc_id", "text")
    return update_fingerprint_index(idx, delta, "doc_id", "text")


# ---------------------------------------------------------------------------
# Incremental NEAR-dup: delta batch vs the corpus LSH signature index
# (the q154 exact-index pattern, one tier up — and, unlike production
# MinHash (xxhash64), built on the q141 portable family so the whole
# path is oracle-checkable end-to-end)
# ---------------------------------------------------------------------------

_INC_BAND_ROWS = 2
_INC_THRESHOLD = 0.35


def _portable_bands(sig: DataFrame, id_col: str, out_id: str,
                    band_rows: int = _INC_BAND_ROWS,
                    num_hashes: int = _MINHASH_TWIN_H) -> DataFrame:
    """Melt a wide signature row into (id, band, k1..kr) band rows —
    the join keys are the raw BIGINT signature values (no string
    concatenation, so no cross-engine formatting contract)."""
    nbands = num_hashes // band_rows
    return sig.select(
        F.col(id_col).alias(out_id),
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                *[F.col(f"sig_{b * band_rows + r}").alias(f"k{r}")
                  for r in range(band_rows)],
            )
            for b in range(nbands)
        ])).alias("__b"),
    ).select(out_id, "__b.*")


def incremental_neardup_pairs(delta: DataFrame, corpus: DataFrame,
                              id_col: str, text_col: str,
                              threshold: float = _INC_THRESHOLD,
                              band_rows: int = _INC_BAND_ROWS,
                              broadcast_delta: bool = False) -> DataFrame:
    """Near-duplicate pairs between a new delta batch and the existing
    corpus, via the corpus's STORED MinHash band index: (delta_id,
    corpus_id, jaccard) for word-bigram Jaccard ≥ threshold among LSH
    candidates — exact up to a ~1e-4 poly-hash collision (grams travel
    as base-31 hashes mod 1e9+7; the bound is derived below).

    Scale shape: the corpus contributes its band index (nbands small
    ints per doc — persisted state in production, recomputed here);
    the delta's bands join it on (band, k1..kr) — the standard LSH
    shuffle, linear in data. Only candidate ids fetch gram sets for
    the exact verify (an id-keyed semi-join — point lookups against
    the corpus, not a rescan). With r=2 rows × 4 bands the family
    catches J≥0.7 pairs w.p. ~0.94 and J≥0.9 w.p. ~0.999; candidates
    below that are bonus, and the emitted set is deterministic either
    way (candidates ∩ exact-verified), which is what the oracle
    re-derives.

    The exact verify is SORT-FREE and never shuffles a pair-wide row:

    - gram sets travel as DISTINCT POLY-HASH INT ARRAYS (portable
      base-31 hash mod 1e9+7, 4 bytes as INT), ~4 bytes/gram instead
      of the ~20-30-byte gram text.  Jaccard over the hashed sets
      equals string-gram Jaccard unless two distinct grams in a pair's
      union collide mod 1e9+7 (~|A∪B|²/2p ≈ 8e-5 for 400-gram unions)
      — and is deterministic and IDENTICAL cross-engine either way,
      since the oracle folds the same family over the same grams.
      Measured alone: 2.0× verify wall at copies=30 (73.4 s vs 145.6
      s; int equality beats string equality inside array_intersect).
    - candidate pairs are grouped per corpus doc (slim collect_list of
      delta ids — fan-in bounded by |delta|), the corpus arrays join
      that ONCE (each corpus doc's grams cross the wire once, not once
      per pair), pairs re-explode MAP-SIDE, and the delta arrays
      arrive by BROADCAST — legitimate by the operator's own contract
      (the delta is the small incremental batch; ~4B × grams × |delta|
      ≈ 160 MB even at the 100x ladder's 100k-doc delta).  No
      sort-merge join ever sees a row carrying a gram array, so the
      clone-degenerate copies² staging streams instead of spilling:
      round 12's string-payload verify overflowed local disk TWICE at
      copies=100 (42 GB spill); this plan completes the 100x point
      (BASELINE.md round-13 ladder).  ``broadcast_delta`` defaults to
      FALSE (the shuffle join): nothing in the signature enforces the
      "delta is small" contract, and a corpus-sized "delta" under an
      unconditional ``F.broadcast`` would blow Spark's broadcast /
      driver-memory limits.  Callers that KNOW their delta is an
      incremental batch (q162, the rolling-crawl loop) opt in to the
      broadcast plan explicitly; both plans emit identical rows
      (unit-tested) and both are pair-bounded and sort-free."""
    sd = minhash_signatures_portable(delta, id_col, text_col)
    sc = minhash_signatures_portable(corpus, id_col, text_col)
    keys = ["band"] + [f"k{r}" for r in range(band_rows)]
    cand = (
        _portable_bands(sd, id_col, "delta_id", band_rows)
        .join(_portable_bands(sc, id_col, "corpus_id", band_rows), keys)
        .select("delta_id", "corpus_id").distinct()
    )
    hashed = lambda d: F.array_distinct(  # noqa: E731
        F.transform(d, lambda g: _polyhash(g).cast("int")))
    gd = _grams_df(delta, id_col, text_col, 2).select(
        F.col("__id").alias("delta_id"),
        hashed(F.col("__grams")).alias("__ga"))
    gc = _grams_df(corpus, id_col, text_col, 2).select(
        F.col("__id").alias("corpus_id"),
        hashed(F.col("__grams")).alias("__gb"))
    if not broadcast_delta:
        paired = cand.join(gd, "delta_id").join(gc, "corpus_id")
    else:
        cgrp = cand.groupBy("corpus_id").agg(
            F.collect_list("delta_id").alias("__dids"))
        paired = (
            cgrp.join(gc, "corpus_id")
            .select("corpus_id", "__gb",
                    F.explode("__dids").alias("delta_id"))
            .join(F.broadcast(gd), "delta_id")
        )
    return (
        paired.select(
            "delta_id", "corpus_id",
            F.round(jaccard(F.col("__ga"), F.col("__gb")), 6)
            .alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _inc_neardup_oracle() -> str:
    nbands = _MINHASH_TWIN_H // _INC_BAND_ROWS
    sig_items = ", ".join(
        f"list_min(list_transform(hs, h -> ({2 * i + 1} * h + {7919 * i}) "
        f"% {_POLY_P}))"
        for i in range(_MINHASH_TWIN_H)
    )
    band_rows_sql = "\n      UNION ALL\n".join(
        f"      SELECT doc_id, {b} AS band, "
        f"s[{b * _INC_BAND_ROWS + 1}] AS k1, "
        f"s[{b * _INC_BAND_ROWS + 2}] AS k2 FROM sig"
        for b in range(nbands)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split({_NORM_DUCK}, ' ') AS t FROM documents
      WHERE len(string_split({_NORM_DUCK}, ' ')) >= 2
    ),
    g AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(t)),
               i -> t[i] || ' ' || t[i + 1])) AS grams
      FROM toks
    ),
    h AS (
      SELECT doc_id,
             list_transform(grams, g -> {_POLY_DUCK.format(g='g')}) AS hs
      FROM g
    ),
    sig AS (SELECT doc_id, [{sig_items}] AS s FROM h),
    bands AS (
{band_rows_sql}
    ),
    cand AS (
      SELECT DISTINCT d.doc_id AS delta_id, c.doc_id AS corpus_id
      FROM bands d JOIN bands c
        ON d.band = c.band AND d.k1 = c.k1 AND d.k2 = c.k2
      WHERE d.doc_id % 5 = 0 AND c.doc_id % 5 != 0
    ),
    hd AS (
      -- the engine's exact verify runs over DISTINCT poly-hash sets
      -- (bytes-lean shuffle), not the gram strings; fold the same
      -- family here so the emitted jaccard is identical even on a
      -- mod-p collision
      SELECT doc_id, list_distinct(hs) AS hg FROM h
    )
    SELECT delta_id, corpus_id,
           ROUND(CAST(len(list_intersect(a.hg, b.hg)) AS DOUBLE) /
                 (len(a.hg) + len(b.hg)
                  - len(list_intersect(a.hg, b.hg))), 6) AS jaccard
    FROM cand JOIN hd a ON a.doc_id = cand.delta_id
              JOIN hd b ON b.doc_id = cand.corpus_id
    WHERE CAST(len(list_intersect(a.hg, b.hg)) AS DOUBLE) /
          (len(a.hg) + len(b.hg)
           - len(list_intersect(a.hg, b.hg))) >= {_INC_THRESHOLD}
    """


@query("q162_incremental_neardup", oracle=_inc_neardup_oracle())
def q162_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup screening of the delta batch (doc_id % 5 == 0) against
    the corpus signature index (doc_id % 5 != 0): same split contract
    as q154, LSH-candidate + exact-Jaccard semantics, every pair
    value-hash-checked through the portable hash family."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    return incremental_neardup_pairs(delta, corpus, "doc_id", "text",
                                     broadcast_delta=True)


# ---------------------------------------------------------------------------
# q179 — canonical SELECTION policy per near-dup cluster (keep-best,
# not keep-first)
# ---------------------------------------------------------------------------


def select_canonical(docs: DataFrame, components: DataFrame, id_col: str,
                     quality_col: str) -> DataFrame:
    """Pick each dup cluster's surviving document by a QUALITY policy —
    highest `quality_col`, ties to the smallest id — instead of the
    min-id convention the clustering itself uses. Min-id is arbitrary:
    production curation keeps the longest / highest-scoring member of
    a duplicate family (the copies are often truncations or boilerplate
    -wrapped rehosts of it). Output: one row per doc with its
    component, the cluster's chosen canonical, and an is_canonical
    flag — the table a training-set writer anti-joins against.

    Scale: one window over (component) ranked by (quality desc, id) —
    a single shuffle on the component key; cluster sizes are dup-family
    sizes (small by nature), so no skewed-partition risk."""
    j = components.join(
        docs.select(F.col(id_col), F.col(quality_col)), id_col)
    w = Window.partitionBy("component").orderBy(
        F.desc(quality_col), F.asc(id_col))
    return (
        j.withColumn(
            "canonical_id",
            F.first(id_col).over(
                w.rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing)))
        .select(
            id_col, "component", "canonical_id",
            (F.col(id_col) == F.col("canonical_id")).alias("is_canonical"),
        )
    )


@query(
    "q179_canonical_selection",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_JACCARD_PAIRS_DUCK}),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION ALL
      SELECT id_b AS u, id_a AS v FROM pairs
    ),
    reach(src, dst) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u
    ),
    comp AS (
      SELECT src AS doc_id, min(dst) AS component
      FROM reach GROUP BY src
    ),
    ranked AS (
      SELECT c.doc_id, c.component, d.n_chars,
             row_number() OVER (PARTITION BY c.component
                                ORDER BY d.n_chars DESC, c.doc_id) AS rk
      FROM comp c JOIN documents d ON c.doc_id = d.doc_id
    ),
    canon AS (
      SELECT component, doc_id AS canonical_id FROM ranked WHERE rk = 1
    )
    SELECT r.doc_id, r.component, k.canonical_id,
           r.doc_id = k.canonical_id AS is_canonical
    FROM ranked r JOIN canon k ON r.component = k.component
    """,
)
def q179_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q55's near-dup clusters with a keep-LONGEST canonical policy:
    every doc labeled with its cluster, the cluster's chosen survivor
    (max n_chars, ties to min doc_id), and whether it survives —
    value-hash-checked against the recursive-CTE closure + the same
    argmax."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs_blocked(docs, "doc_id", "text", "lang",
                                  shingle_n=2, threshold=_JACCARD_THRESHOLD)
    comp = connected_components(
        docs.select("doc_id"), pairs.select("id_a", "id_b"),
        id_col="doc_id").select(F.col("id").alias("doc_id"), "component")
    return select_canonical(docs, comp, "doc_id", "n_chars")


# ---------------------------------------------------------------------------
# q183 — NEAR-dup-aware leak-free split (q180's guarantee extended from
# exact-dup families to q55/q179 near-dup clusters)
# ---------------------------------------------------------------------------


def split_by_neardup_cluster(docs: DataFrame, components: DataFrame,
                             id_col: str, train: int = 80,
                             val: int = 10) -> DataFrame:
    """Split assignment keyed by the NEAR-dup cluster's component id:
    exact-dup splitting (q180) still leaks paraphrases and truncations
    across train/test — the actual eval-contamination vector — so the
    group key here is the connected component of the Jaccard pair
    graph. Row-local hash once the component label is joined on."""
    from auto_ml_platform_with_timeseries_data_spark.operators.curation import (
        hash_u32,
    )

    b = hash_u32(F.col("component")) % 100
    return docs.select(F.col(id_col)).join(components, id_col).withColumn(
        "split",
        F.when(b < train, "train")
        .when(b < train + val, "val")
        .otherwise("test"),
    )


@query(
    "q183_neardup_leakfree_split",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_JACCARD_PAIRS_DUCK}),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION ALL
      SELECT id_b AS u, id_a AS v FROM pairs
    ),
    reach(src, dst) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u
    ),
    comp AS (
      SELECT src AS doc_id, min(dst) AS component
      FROM reach GROUP BY src
    ),
    s AS (
      SELECT doc_id, component,
             CASE WHEN ((component % 1000003) * 2654435761 % 4294967296)
                       % 100 < 80 THEN 'train'
                  WHEN ((component % 1000003) * 2654435761 % 4294967296)
                       % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM comp
    ),
    lk AS (
      SELECT count(*) AS bad FROM (
        SELECT component FROM s GROUP BY component
        HAVING count(DISTINCT split) > 1
      )
    )
    SELECT split, count(*) AS n_docs,
           CAST(count(DISTINCT component) AS BIGINT) AS n_clusters,
           (SELECT bad FROM lk) = 0 AS leak_free
    FROM s GROUP BY split
    """,
)
def q183_neardup_leakfree_split(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """80/10/10 split keyed by the near-dup cluster: per-split doc and
    cluster counts with the zero-straddle property verified inside the
    query — closes the contamination story (q137 audits, q180 fixes
    exact dups, this fixes paraphrase families)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs_blocked(docs, "doc_id", "text", "lang",
                                  shingle_n=2, threshold=_JACCARD_THRESHOLD)
    comp = connected_components(
        docs.select("doc_id"), pairs.select("id_a", "id_b"),
        id_col="doc_id").select(F.col("id").alias("doc_id"), "component")
    s = keep(split_by_neardup_cluster(docs, comp, "doc_id"))
    bad = (s.groupBy("component")
           .agg(F.countDistinct("split").alias("__ns"))
           .filter(F.col("__ns") > 1).count())
    out = keep(s.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("component").alias("n_clusters"),
        F.lit(bad == 0).alias("leak_free"),
    ), checkpoint=True)   # ≤3 rows; lets s release immediately
    release(s)
    return out


def hamming_band_pairs_delta(delta_sigs: DataFrame, corpus_sigs: DataFrame,
                             id_col: str,
                             sig_cols: Sequence[tuple[str, int]],
                             max_hamming: int = 3,
                             top_m: int | None = None,
                             max_bucket_size: int | None = None) -> DataFrame:
    """Delta-vs-corpus variant of ``hamming_band_pairs``: the new
    batch's 16-bit bands join the corpus's STORED band index (persisted
    state in production — nbands small ints per DISTINCT signature —
    recomputed here from the signatures), survivors verify the exact
    popcount. Same pigeonhole recall bound (d ≤ B−1 ⇒ at least one
    shared band); work is the delta's band rows plus true candidates —
    the corpus is never self-paired and never rescanned. Returns
    (delta_id, corpus_id, hamming).

    CLONE COLLAPSE (always on, exactness-preserving): both sides are
    first reduced to one canonical representative per DISTINCT
    signature (min id over a signature-partitioned window — rows, not
    collect_list arrays, so a mega-clone family can't blow a single
    aggregation buffer). The band join, candidate dedup, and popcount
    verify all run on representatives only, then survivors expand back
    through per-row membership maps. Exactness is free: members of a
    signature group have BY DEFINITION the same hamming distance to
    every counterpart, so group-level verification loses nothing. On
    clone-heavy corpora — where the round-14 wave probes measured the
    image/video screens growing 2.8x/9.4x wall for 10x data,
    candidate-popcount-bound — candidate work becomes proportional to
    DISTINCT signatures, not corpus rows.

    ``top_m`` caps the OUTPUT at the m closest corpus matches per
    delta row (rank on hamming asc, ties to the smallest corpus id —
    deterministic), the same defense the LSH bucket caps give the text
    path: a dedup decision needs only "is there a near-match and
    which" — m of them bounds output at m·|delta| BY CONSTRUCTION.
    Recall statement under the cap: every delta row that HAS a
    ≤ max_hamming match still reports one; only the full match LIST is
    truncated. Exactness of the rank: the global top-m per delta row
    takes at most m members from any one signature group, and within a
    group the preferred members are the m smallest ids — so expanding
    min(m, |group|) smallest members per surviving group before the
    final rank is lossless. Default None keeps the exact full-list
    contract unchanged.

    ``max_bucket_size`` additionally caps corpus-side membership per
    (band_id, band) bucket — the ``minhash_lsh_candidates`` skew fence
    (dedup.py:216), applied AFTER clone collapse so the cap counts
    distinct signatures, never clones. AMENDED RECALL under the cap: a
    ≤ max_hamming match whose every shared-band bucket is over-full
    may be dropped if its canonical id sorts beyond the first
    max_bucket_size distinct signatures in each such bucket. Because
    clones are collapsed first, the cap binds only on genuine
    band-value concentration (low-entropy fingerprint regions), not on
    duplication. Default None keeps pigeonhole-exact recall."""
    names = [c for c, _ in sig_cols]

    # --- canonical representative per DISTINCT signature, per side ---
    # One signature-partitioned window per side: every row learns its
    # group's canonical (min) id; representatives are the rows that ARE
    # the canonical id and carry the signature columns for the verify.
    dall = delta_sigs.select(
        F.col(id_col).alias("delta_id"),
        *[F.col(c).alias(f"__d_{c}") for c in names]).withColumn(
        "__dg", F.min("delta_id").over(
            Window.partitionBy(*[f"__d_{c}" for c in names])))
    call = corpus_sigs.select(
        F.col(id_col).alias("corpus_id"),
        *[F.col(c).alias(f"__c_{c}") for c in names]).withColumn(
        "__cg", F.min("corpus_id").over(
            Window.partitionBy(*[f"__c_{c}" for c in names])))
    dreps = dall.filter(F.col("delta_id") == F.col("__dg")) \
        .drop("delta_id")
    creps = call.filter(F.col("corpus_id") == F.col("__cg")) \
        .drop("corpus_id")

    def bands(df: DataFrame, key: str, prefix: str) -> DataFrame:
        cols = []
        for col, nbits in sig_cols:
            for off in range(0, nbits, 16):
                cols.append(F.struct(
                    F.lit(len(cols)).alias("band_id"),
                    F.shiftright(F.col(f"{prefix}{col}"), off)
                    .bitwiseAND(F.lit(0xFFFF)).alias("band")))
        return (df.select(F.col(key),
                          F.explode(F.array(*cols)).alias("bb"))
                .select(key, "bb.band_id", "bb.band"))

    cband = bands(creps, "__cg", "__c_")
    if max_bucket_size is not None:
        wb = Window.partitionBy("band_id", "band").orderBy(F.asc("__cg"))
        cband = (cband.withColumn("__bk", F.row_number().over(wb))
                 .filter(F.col("__bk") <= max_bucket_size).drop("__bk"))
    cand = (bands(dreps, "__dg", "__d_")
            .join(cband, ["band_id", "band"])
            .select("__dg", "__cg").distinct())

    ham = reduce(
        lambda acc, n: acc + F.bit_count(
            F.col(f"__d_{n}").bitwiseXOR(F.col(f"__c_{n}"))),
        names[1:],
        F.bit_count(F.col(f"__d_{names[0]}")
                    .bitwiseXOR(F.col(f"__c_{names[0]}"))))
    gp = (cand.join(dreps, "__dg").join(creps, "__cg")
          .select("__dg", "__cg", ham.cast("int").alias("hamming"))
          .filter(F.col("hamming") <= max_hamming))

    # --- expand survivors back to member rows ---
    dmem = dall.select("delta_id", "__dg")
    cmem = call.select("corpus_id", "__cg")
    if top_m is not None:
        # m smallest member ids per corpus group suffice for an exact
        # global top-m (see docstring); bounds the pre-rank fan-out at
        # m · |surviving groups| per delta row.
        wg = Window.partitionBy("__cg").orderBy(F.asc("corpus_id"))
        cmem = (cmem.withColumn("__gk", F.row_number().over(wg))
                .filter(F.col("__gk") <= top_m).drop("__gk"))
    out = (gp.join(dmem, "__dg").join(cmem, "__cg")
           .select("delta_id", "corpus_id", "hamming"))
    if top_m is None:
        return out
    wr = Window.partitionBy("delta_id").orderBy(
        F.asc("hamming"), F.asc("corpus_id"))
    return (out.withColumn("__rk", F.row_number().over(wr))
            .filter(F.col("__rk") <= top_m)
            .drop("__rk"))
