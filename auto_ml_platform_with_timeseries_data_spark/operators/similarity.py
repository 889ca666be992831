"""Similarity search over embedding columns (BASELINE.json north star).

Every top-k kernel here is one filter-and-refine skeleton; a kernel
supplies only its CANDIDATE GENERATOR and the shared pieces do the rest:

- ``_exact_cos`` + ``_topk`` — exact rescore and rank:
  self-exclusion, the ``_safe_ratio`` cosine (zero-norm vectors score
  NULL and sort last), ``row_number`` over (score DESC, neighbor_id
  ASC), the rank filter and the rounded output. Brute force crosses
  the broadcast queries with the corpus; SRP joins on (table, bucket)
  sketches; IVF joins on cells; the sign-bucket twin joins on
  axis-aligned sign buckets; PQ and IVF-PQ rank their ADC refine.
- ``_srp_sketch`` — the one seeded-hyperplane sketch kernel (a fused
  GEMM per Arrow batch, query-directed multiprobe), shared by the SRP
  top-k and the SRP near-duplicate pair path.
- ``_adc_refine`` — the compressed-domain refine of PQ and IVF-PQ: the
  query LUT, the ADC gather-sum pre-top per batch, the global
  candidate window and the exact rescore of refine·k rows per query.
- ``_coarse_route`` — the two-level (super-centroid) IVF routing
  behind ``ivf_coarse_assign`` and the banded margin miner.

The DuckDB oracles are composed from the matching SQL builders:
``_topk_sql`` (the QUALIFY top-k tail), ``_cells_sql`` (IVF cell
assignment against an injected codebook), ``_pq_sql`` (unit vectors,
codebook and PQ codes), and ``_margin_sql`` (the integer-quantized
margin pipeline, exact and banded).

At cluster scale the brute-force path is still the right *structure*
(broadcast queries, one corpus pass, partial top-k per partition via
the window), just with a larger query batch; the hash and cell paths
trade recall for a ~|bucket|/|corpus| cut of the rescore work.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from auto_ml_platform_with_timeseries_data_spark.operators.timeseries import (
    pin,
    pin_sql,
)
from auto_ml_platform_with_timeseries_data_spark.registry import query
from auto_ml_platform_with_timeseries_data_spark.tables import (
    keep,
    load_table,
    on_caller,
)


def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ via zip_with + aggregate (sequential fold — deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
    ))


def _safe_ratio(num: Column, den: Column) -> Column:
    """num/den, NULL when den is 0 — a zero-norm vector has no defined
    cosine, and ANSI mode turns the bare division into a job-killing
    error; NULL sorts last under desc() so degenerate vectors simply
    drop out of every ranking."""
    return F.when(den > 0, num / den)


def cosine(a: Column, b: Column) -> Column:
    return _safe_ratio(dot(a, b), l2_norm(a) * l2_norm(b))


def _exact_cos(cand: DataFrame,
               vecs: tuple[str, str, str, str] = (
                   "__cv", "__cnorm", "__qv", "__qnorm")) -> DataFrame:
    """The refine step of the hash and cell top-k kernels: drop
    self-matches from a candidate frame and rescore each (query_id,
    neighbor_id) with the exact JVM-fold cosine over the ``vecs``
    columns (neighbor vec, neighbor norm, query vec, query norm) into
    ``__cos``. ``_safe_ratio``: a zero-norm side scores NULL, which
    sorts last under desc."""
    nv, nn, qv, qn = vecs
    return cand.filter(F.col("neighbor_id") != F.col("query_id")).select(
        "query_id", "neighbor_id",
        _safe_ratio(dot(F.col(nv), F.col(qv)),
                    F.col(nn) * F.col(qn)).alias("__cos"),
    )


def _topk(scored: DataFrame, k: int, round_to: int,
          score: str = "__cos") -> DataFrame:
    """The rank step of every top-k kernel: (query_id, neighbor_id,
    rank, cosine) — row_number over (`score` DESC, neighbor_id ASC)
    per query (the id tie-break makes it deterministic), the rank
    filter, and the score rounded to `round_to`."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc(score), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank",
                F.round(F.col(score), round_to).alias("cosine"))
    )


def _no_neighbors(corpus: DataFrame) -> DataFrame:
    """The schema-stable empty top-k result (empty corpus or query
    batch)."""
    return corpus.sparkSession.createDataFrame(
        [], "query_id long, neighbor_id long, rank int, cosine double")


def cosine_topk_bruteforce(corpus: DataFrame, queries_df: DataFrame,
                           id_col: str, vec_col: str, k: int = 5,
                           round_to: int = 6) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Output: (query_id, neighbor_id, rank, cosine). Queries are broadcast
    (small side); ranking excludes self-matches; ties broken by
    neighbor id for determinism.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("__cv"),
    ).withColumn("__cnorm", l2_norm(F.col("__cv")))
    q = queries_df.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("__qv"),
    ).withColumn("__qnorm", l2_norm(F.col("__qv")))
    return _topk(_exact_cos(c.crossJoin(F.broadcast(q))), k, round_to)


def _hyperplanes(dim: int, nbits: int, ntables: int, seed: int) -> list[list[list[float]]]:
    """Deterministic pseudo-random unit hyperplanes from a counter-based
    generator (no numpy state, reproducible across runs/workers)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return [
        [list(map(float, rng.standard_normal(dim))) for _ in range(nbits)]
        for _ in range(ntables)
    ]


def _srp_planes(corpus: DataFrame, vec_col: str, nbits: int, ntables: int,
                seed: int):
    """The (ntables, nbits, dim) hyperplane tensor for the corpus's
    dimension, or None for an empty corpus (no neighbors, no pairs).

    Closure-captured by the sketch kernel, not sc.broadcast: the plane
    tensor is ~24 KB — it rides the task closure for free, and skips a
    broadcast block the ContextCleaner would have to reap (leaked
    broadcasts from repeated calls build JVM memory pressure)."""
    import numpy as np

    sample = corpus.select(vec_col).first()
    if sample is None or sample[0] is None:
        return None
    return np.array(_hyperplanes(len(sample[0]), nbits, ntables, seed),
                    dtype=np.float64)


def _srp_sketch(df: DataFrame, id_col: str, vec_col: str, planes,
                idc: str, vc: str, nc: str, probes: int = 1) -> DataFrame:
    """(idc, vc, nc, tbl, bucket): each vector's SRP bucket in every
    table, one Arrow mapInPandas pass. Each batch multiplies against
    the (ntables×nbits×dim) hyperplane tensor with BLAS and packs sign
    bits into a long. The expression alternative (nbits×ntables
    zip_with/aggregate dot products per row) costs seconds of
    plan/codegen constant and interprets per element.

    ``probes`` > 1 also emits the buckets reached by flipping each
    vector's (probes−1) lowest-|projection| sign bits — the bits whose
    hyperplane it sits closest to (query-directed multiprobe)."""
    import numpy as np

    T, B = planes.shape[0], planes.shape[1]
    pows = np.power(2.0, np.arange(B)).astype(np.int64)
    nprobe = min(probes, B + 1)  # own bucket + ≤B single-bit flips

    def kernel(batches):
        import pandas as pd

        # ONE matmul against the flattened (T·B, dim) plane tensor
        # and ONE output frame per batch: per-table Python loops and
        # per-probe DataFrame constructions cost interpreter time
        # linear in T×probes per batch — at cluster batch sizes the
        # single fused GEMM is the shape BLAS optimizes for.
        P_flat = planes.reshape(T * B, -1)
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.array(list(pdf[vc]), dtype=np.float64)  # (n, dim)
            n = m.shape[0]
            norms = np.linalg.norm(m, axis=1)
            proj = (m @ P_flat.T).reshape(n, T, B)
            buckets = (proj > 0).astype(np.int64) @ pows   # (n, T)
            all_buckets = [buckets]
            if nprobe > 1:
                # flip the (nprobe−1) bits with the smallest
                # |projection| — the most uncertain signs
                order = np.argsort(np.abs(proj), axis=2)
                for j in range(nprobe - 1):
                    all_buckets.append(buckets ^ pows[order[:, :, j]])
            # (n, nprobe, T) → row-major flatten keeps each input row
            # contiguous, so id/vec/norm columns are plain repeats
            stacked = np.stack(all_buckets, axis=1)
            reps = nprobe * T
            yield pd.DataFrame({
                idc: np.repeat(pdf[idc].to_numpy(), reps),
                vc: pdf[vc].to_numpy().repeat(reps),
                nc: np.repeat(norms, reps),
                "tbl": np.tile(np.arange(T, dtype=np.int32), n * nprobe),
                "bucket": stacked.reshape(-1),
            })

    return df.select(
        F.col(id_col).alias(idc), _as_double(F.col(vec_col)).alias(vc)
    ).mapInPandas(
        kernel,
        f"{idc} long, {vc} array<double>, {nc} double, "
        "tbl int, bucket long",
    )


def cosine_topk_srp(corpus: DataFrame, queries_df: DataFrame, id_col: str,
                    vec_col: str, k: int = 5, nbits: int = 12,
                    ntables: int = 4, seed: int = 42,
                    round_to: int = 6, nprobes: int = 1) -> DataFrame:
    """Approximate top-k via SRP-LSH bucketing + exact rescore of
    candidates. Output shape matches cosine_topk_bruteforce.

    The sketch step is ``_srp_sketch``: one Arrow pass per side, the
    same fused-GEMM kernel as embedding_neardup_pairs_lsh.

    nprobes > 1 enables QUERY-DIRECTED MULTIPROBE (Lv et al., VLDB'07):
    each query additionally probes the buckets reached by flipping its
    lowest-|margin| sign bits — the bits whose hyperplane the query
    sits closest to, i.e. the buckets its true neighbors most likely
    fell into. Probing happens on the QUERY side only (the small,
    broadcast side), so the corpus posting table — the 100 TB side —
    is built exactly once either way; recall rises without more tables
    (more tables re-sketch and re-shuffle the corpus, multiprobe only
    fans out the broadcast build side ×nprobes)."""
    planes = _srp_planes(corpus, vec_col, nbits, ntables, seed)
    if planes is None:
        # empty corpus → no neighbors (schema-stable, matches the
        # bruteforce/exact paths' empty-input contract)
        return _no_neighbors(corpus)
    c = _srp_sketch(corpus, id_col, vec_col, planes,
                    "neighbor_id", "__neighborv", "__neighbornorm")
    q = _srp_sketch(queries_df, id_col, vec_col, planes,
                    "query_id", "__queryv", "__querynorm", probes=nprobes)
    # Rescore BEFORE deduping multi-table hits: the broadcast-hash join +
    # cosine are map-side, so the only shuffle carries (query, neighbor,
    # cos) triples — deduping first would shuffle both full vectors per
    # candidate pair. Duplicate hits score identically; max() dedups.
    scored = (
        _exact_cos(c.join(F.broadcast(q), ["tbl", "bucket"]),
                   ("__neighborv", "__neighbornorm",
                    "__queryv", "__querynorm"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("__cos").alias("__cos"))
    )
    return _topk(scored, k, round_to)


def embedding_neardup_pairs(corpus: DataFrame, id_col: str, vec_col: str,
                            threshold: float = 0.9,
                            round_to: int = 6,
                            nblocks: int | None = None) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs: (id_a, id_b, cosine)
    with id_a < id_b and round(cosine, round_to) ≥ threshold.

    Distributed block-matrix all-pairs (the round-2 verdict's q35 fix):
    the corpus is hashed into `nblocks` slabs, the B·(B+1)/2 slab pairs
    cross-join, and each task BLAS-multiplies one slab pair and keeps
    pairs over the threshold.  Nothing is collected to the driver and
    nothing corpus-sized is broadcast — the shuffle carries each slab
    B times (O(N·B) bytes) and the O(N²) dot products (inherent to the
    EXACT contract) spread over B² tasks.  nblocks=None sizes itself:
    nblocks ≈ N·d·8 / slab_bytes with slab_bytes ~64 MB, so two slabs
    fit an executor and tasks do ~(slab_rows)² work — one metadata
    count + one first() against the corpus, both trivial next to the
    pair pass (at fixture scale this resolves to 1-2 blocks, where task
    overhead would otherwise dominate).  Feasibility honesty: O(N²·d)
    FLOPs bounds the EXACT contract to corpora around 10⁷ vectors
    (~10² blocks, ~10⁴ slab-pair tasks) regardless of partitioning —
    past that, use the sublinear LSH path
    (embedding_neardup_pairs_lsh) or the SRP/IVF top-k candidates,
    which trade recall for skipping the off-bucket blocks entirely.
    The 1024-block cap exists to keep the B² task count sane
    (≤ ~524k); hitting it means the corpus is beyond exact-all-pairs
    scale and the LSH path is the right tool.  Python is justified
    here — a zip_with/aggregate dot product is interpreted per
    element, while numpy hits vectorized BLAS, ~100× faster at
    fixture scale."""
    import numpy as np

    if nblocks is None:
        n = corpus.count()
        head = corpus.select(vec_col).first()
        if head is None:  # empty corpus → no pairs (schema-stable)
            return corpus.sparkSession.createDataFrame(
                [], "id_a long, id_b long, cosine double")
        dim = len(head[0])
        slab_rows = max(1024, int(64 * 2**20 / (dim * 8)))
        nblocks = max(1, min(1024, math.ceil(n / slab_rows)))

    slabs = (
        corpus.select(
            F.col(id_col).alias("__id"),
            _as_double(F.col(vec_col)).alias("__v"),
        )
        .withColumn("__blk",
                    F.pmod(F.xxhash64("__id"), F.lit(nblocks)).cast("int"))
        .groupBy("__blk")
        # one agg → both collect_lists consume the same row stream, so
        # ids[i] corresponds to vecs[i]
        .agg(F.collect_list("__id").alias("__ids"),
             F.collect_list("__v").alias("__vecs"))
    )
    pairs = (
        slabs.select(F.col("__blk").alias("__ba"),
                     F.col("__ids").alias("__ids_a"),
                     F.col("__vecs").alias("__vecs_a"))
        .join(slabs.select(F.col("__blk").alias("__bb"),
                           F.col("__ids").alias("__ids_b"),
                           F.col("__vecs").alias("__vecs_b")),
              F.col("__ba") <= F.col("__bb"))
        # B²/2 fat rows — spread them so every slab-pair is its own
        # task; the partition-count cap keeps scheduler overhead sane
        # when B is large (several pairs per task is fine — each is
        # one independent BLAS call)
        .repartition(min(nblocks * (nblocks + 1) // 2, 1 << 14))
        .select("__ba", "__bb", "__ids_a", "__vecs_a", "__ids_b", "__vecs_b")
    )

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            # name=None → plain tuples (itertuples mangles _-prefixed names)
            for ba, bb, raw_a, va, raw_b, vb in pdf.itertuples(
                    index=False, name=None):
                ids_a = np.asarray(raw_a, dtype=np.int64)
                ids_b = np.asarray(raw_b, dtype=np.int64)
                a = np.array(list(va), dtype=np.float64)
                b = np.array(list(vb), dtype=np.float64)
                a /= np.linalg.norm(a, axis=1, keepdims=True)
                b /= np.linalg.norm(b, axis=1, keepdims=True)
                sims = np.round(a @ b.T, round_to)
                if ba == bb:
                    # diagonal block: same id set on both sides — the
                    # strict upper triangle by id visits each pair once
                    mask = sims >= threshold
                    mask &= ids_a[:, None] < ids_b[None, :]
                    ii, jj = np.nonzero(mask)
                    lo, hi = ids_a[ii], ids_b[jj]
                else:
                    # off-diagonal: disjoint id sets, every hit is a
                    # distinct pair; the lower id may sit on either side
                    # (block hash is unordered), so normalize to
                    # (min, max) for the id_a < id_b output contract
                    ii, jj = np.nonzero(sims >= threshold)
                    lo = np.minimum(ids_a[ii], ids_b[jj])
                    hi = np.maximum(ids_a[ii], ids_b[jj])
                yield pd.DataFrame({
                    "id_a": lo, "id_b": hi, "cosine": sims[ii, jj],
                })

    return pairs.mapInPandas(kernel, "id_a long, id_b long, cosine double")


def _ivf_train(corpus: DataFrame, vec_col: str, ncells: int,
               iters: int):
    """Spherical-k-means centroid training for the IVF index.

    Init = deterministic hash-ordered sample of corpus vectors; each
    Lloyd iteration is ONE distributed corpus pass (BLAS argmax
    assignment in an Arrow kernel) followed by a mergeable long-form
    mean (posexplode → groupBy(cell, dim) avg — map-side partial, the
    q87 pattern) whose collect is ncells×dim values, bounded model
    parameters like fitted KMeans centers. Untrained sampled seeds
    leave cells wildly unbalanced (random seeds near each other split
    a dense region; recall@5 measured 0.54 at nprobe=4/ncells=16);
    1-2 iterations equalize cell occupancy, which is what IVF recall
    depends on. Empty cells keep their previous centroid."""
    import numpy as np

    cents = (
        corpus.select(F.col(vec_col).alias("v"))
        .withColumn("__h", F.xxhash64("v"))
        .orderBy("__h").limit(ncells).collect()
    )
    cent_mat = np.array([r["v"] for r in cents], dtype=np.float64)
    cent_mat /= np.linalg.norm(cent_mat, axis=1, keepdims=True)

    vecs = corpus.select(_as_double(F.col(vec_col)).alias("__v"))
    for _ in range(iters):
        def assign_kernel(batches, C=cent_mat):
            import pandas as pd

            for pdf in batches:
                if pdf.empty:
                    continue
                m = np.array(list(pdf["__v"]), dtype=np.float64)
                norms = np.linalg.norm(m, axis=1, keepdims=True)
                norms[norms == 0] = 1.0
                unit = m / norms
                cell = np.argmax(unit @ C.T, axis=1)
                # emit the NORMALIZED vector: spherical k-means means
                # unit members — raw means would let high-norm vectors
                # (e.g. length-proportional text embeddings) drag the
                # centroids and re-unbalance the cells
                yield pd.DataFrame({"cell": cell.astype(np.int32),
                                    "__v": list(unit)})

        rows = (
            vecs.mapInPandas(assign_kernel, "cell int, __v array<double>")
            .select("cell", F.posexplode("__v").alias("dim", "x"))
            .groupBy("cell", "dim").agg(F.avg("x").alias("m"))
            .collect()
        )
        new = cent_mat.copy()
        for r in rows:
            new[r["cell"], r["dim"]] = r["m"]
        norms = np.linalg.norm(new, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        cent_mat = new / norms
    return cent_mat


def embedding_neardup_pairs_lsh(corpus: DataFrame, id_col: str,
                                vec_col: str, threshold: float = 0.9,
                                nbits: int = 6, ntables: int = 16,
                                nprobes: int = 2, seed: int = 42,
                                round_to: int = 6) -> DataFrame:
    """APPROXIMATE embedding near-dup pairs — the sublinear 100 TB path
    next to the exact block-matrix `embedding_neardup_pairs`.

    Candidates = pairs sharing an SRP bucket in ≥1 table (each vector
    also probes its (nprobes−1) lowest-margin flip buckets, which for
    all-pairs raises per-table collision odds quadratically in
    nprobes); the exact JVM-fold cosine rescores candidates, so
    precision is 1 by construction and only recall is approximate. A
    zero-norm vector scores NULL (``_safe_ratio``) and never pairs, as
    on the exact path. The corpus is sketched once (``_srp_sketch``);
    the shuffle is (tbl, bucket)-keyed and bucket size bounds the
    per-task rescore — no block ever sees the whole corpus, which is
    what the exact path must do. Trade the recall/cost dial with nbits
    (bucket size) × ntables × nprobes; q134 self-measures recall
    against the exact pairs at fixture scale."""
    planes = _srp_planes(corpus, vec_col, nbits, ntables, seed)
    if planes is None:
        # empty corpus → no pairs (schema-stable, same guard as the
        # exact path's nblocks=None branch)
        return corpus.sparkSession.createDataFrame(
            [], "id_a long, id_b long, cosine double")
    sk = _srp_sketch(corpus, id_col, vec_col, planes, "__id", "__v", "__n",
                     probes=nprobes)
    a = sk.select("tbl", "bucket", F.col("__id").alias("id_a"),
                  F.col("__v").alias("__va"), F.col("__n").alias("__na"))
    b = sk.select("tbl", "bucket", F.col("__id").alias("id_b"),
                  F.col("__v").alias("__vb"), F.col("__n").alias("__nb"))
    scored = (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.round(_safe_ratio(dot(F.col("__va"), F.col("__vb")),
                                F.col("__na") * F.col("__nb")), round_to)
            .alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        # a pair can collide in several (tbl, bucket) cells — dedupe;
        # duplicate hits score identically so max() is a no-op merge
        .groupBy("id_a", "id_b").agg(F.max("cosine").alias("cosine"))
    )
    return scored


def cosine_topk_ivf(corpus: DataFrame, queries_df: DataFrame, id_col: str,
                    vec_col: str, k: int = 5, ncells: int = 16,
                    nprobe: int = 4, round_to: int = 6,
                    train_iters: int = 2, centroids=None) -> DataFrame:
    """IVF-style ANN: partition the corpus into inverted cells by nearest
    centroid; each query probes only its `nprobe` closest cells and
    rescores exactly within them. Output matches cosine_topk_bruteforce.

    Centroids come from `_ivf_train` (hash-sampled seeds + `train_iters`
    distributed spherical-k-means passes — the index build; at scale it
    runs once and is reused across query batches). The centroid fetch
    is a bounded model-parameter collect (ncells×dim values), like
    reading fitted KMeans centers, not a data collect; cell assignment
    folds the centroids into the Arrow kernel closure, so the corpus is
    scanned once per side and shuffles only on (cell) for the probe
    join."""
    import numpy as np

    head = corpus.select(vec_col).first()
    if head is None or head[0] is None:
        # empty corpus → no neighbors (schema-stable; _ivf_train cannot
        # seed centroids from nothing)
        return _no_neighbors(corpus)
    if centroids is not None:
        # pre-built codebook (row-normalized here): a production index
        # trains once and serves many query batches — and the portable
        # twin (q144) injects a SQL-reproducible codebook this way
        cent_mat = np.asarray(centroids, dtype=np.float64)
        cent_mat = cent_mat / np.linalg.norm(cent_mat, axis=1, keepdims=True)
    else:
        cent_mat = _ivf_train(corpus, vec_col, ncells, train_iters)
    # closure-captured (≈ ncells×dim×8 B ≈ 8 KB) — see cosine_topk_srp

    def assigned(df: DataFrame, idc: str, vc: str, nc: str,
                 take: int) -> DataFrame:
        """(id, vec, norm, cell) with the `take` nearest cells per row,
        one Arrow pass against the broadcast centroid matrix (BLAS) —
        exactly how the fitted-KMeans assignment step runs distributed;
        a literal-array expression alternative costs seconds of plan/
        codegen constant at any scale."""

        def kernel(batches):
            import pandas as pd

            C = cent_mat
            for pdf in batches:
                if pdf.empty:
                    continue
                m = np.array(list(pdf[vc]), dtype=np.float64)
                norms = np.linalg.norm(m, axis=1)
                scores = (m / norms[:, None]) @ C.T          # (n, ncells)
                # argsort desc on (-score, cell) — cell idx breaks ties
                order = np.lexsort(
                    (np.broadcast_to(np.arange(C.shape[0]), scores.shape),
                     -scores), axis=1)[:, :take]
                n = len(pdf)
                yield pd.DataFrame({
                    idc: np.repeat(pdf[idc].to_numpy(), take),
                    vc: pdf[vc].iloc[np.repeat(np.arange(n), take)].to_numpy(),
                    nc: np.repeat(norms, take),
                    "cell": order.reshape(-1).astype(np.int32),
                })

        return df.select(
            F.col(id_col).alias(idc), _as_double(F.col(vec_col)).alias(vc)
        ).mapInPandas(
            kernel, f"{idc} long, {vc} array<double>, {nc} double, cell int"
        )

    c = assigned(corpus, "neighbor_id", "__cv", "__cnorm", 1)
    q = assigned(queries_df, "query_id", "__qv", "__qnorm", nprobe)
    return _topk(_exact_cos(c.join(F.broadcast(q), "cell")), k, round_to)


# ---------------------------------------------------------------------------
# Registered queries + oracles
# ---------------------------------------------------------------------------

_N_QUERIES = 10
_TOP_K = 5
# Fixture embeddings are i.i.d. random (max pairwise cosine ≈ 0.51), so
# "near-dup" here means the far tail of the cosine distribution.
_NEARDUP_T = 0.4

# The corpus as DOUBLE[] vectors — the base CTE of the vector oracles.
_E_SQL = """e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    )"""


def _topk_sql(src: str) -> str:
    """The QUALIFY top-k tail — ``_topk``'s SQL twin: rank the
    (query_id, neighbor_id, cos) rows of CTE `src` per query by
    (cos DESC, neighbor_id) and keep the first _TOP_K, rounded."""
    return f"""
    SELECT query_id, neighbor_id,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS INT) AS rank,
           ROUND(cos, 6) AS cosine
    FROM {src}
    QUALIFY rank <= {_TOP_K}
    """


def _cells_sql(lo: int, ncells: int) -> str:
    """IVF cell assignment against an injected codebook (needs CTE
    ``e``): ``cent`` (cid, cv) = vectors vec_id [lo, lo + ncells), and
    ``cr`` (vec_id, v, cid, cos, rk) = every vector's cells ranked by
    cosine, ties to the lower cid — rk = 1 is the argmax assignment
    of ``_assign_cells``/``ivfpq_encode``, rk ≤ nprobe a query's
    probe set."""
    return f"""cent AS (
      SELECT vec_id - {lo} AS cid, v AS cv
      FROM e WHERE vec_id >= {lo} AND vec_id < {lo + ncells}
    ),
    cr AS (
      SELECT e.vec_id, e.v, c.cid, list_cosine_similarity(e.v, c.cv) AS cos,
             row_number() OVER (PARTITION BY e.vec_id
                  ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid)
               AS rk
      FROM e, cent c
    )"""


@query(
    "q19_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {_N_QUERIES}),
    scored AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                    CAST(q.embedding AS DOUBLE[])) AS cos
      FROM embeddings e, q
      WHERE e.vec_id != q.vec_id
    )
    {_topk_sql("scored")}""",
)
def q19_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < _N_QUERIES)
    return cosine_topk_bruteforce(emb, queries_df, "vec_id", "embedding", _TOP_K)


@query("q34_ann_srp")  # rows-only: hyperplane hashing not SQL-portable
def q34_ann_srp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH ANN with query-directed multiprobe: 6 bits × 16 tables ×
    4 probes → recall@5 ≈ 0.98 at sf0.01 (q129 tracks it) — up from
    ≈ 0.53 single-probe at the same table count, because the extra
    probes only fan out the broadcast QUERY side, not the corpus
    postings. This is on UNSTRUCTURED (uniform random) embeddings,
    LSH's worst case; real text/image embeddings concentrate on a
    low-dim manifold where the same dial costs far fewer candidates.
    More bits/fewer probes walks the dial toward cheap-but-low-recall
    (10×8×8 ≈ recall 0.34 here)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < _N_QUERIES)
    return cosine_topk_srp(emb, queries_df, "vec_id", "embedding", _TOP_K,
                           nbits=6, ntables=16, nprobes=4)


@query(
    "q35_embedding_neardup",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 6) >= {_NEARDUP_T}
    """,
)
def q35_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup pairs (BLAS block-matrix kernel)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(emb, "vec_id", "embedding", _NEARDUP_T)


@query("q36_ann_ivf")  # rows-only: centroid assignment not SQL-portable
def q36_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with 2 spherical-k-means training passes and 10/16 cells
    probed: recall@5 ≈ 0.92 at sf0.01 (q129 tracks it; 0.76 at
    nprobe=6, 0.54 untrained at nprobe=4). Uniform-random fixture
    vectors are IVF's worst case — no cluster structure, so recall
    tracks the probe fraction and a >=0.9 default costs probing most
    cells. On real embeddings the trained cells capture manifold
    clusters and the same recall needs a far smaller probe fraction;
    the candidate volume (the cost half of the dial) scales with
    nprobe/ncells either way. The portable twin q144 pins the
    assign/probe/rescore machinery against SQL with a fixed codebook."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < _N_QUERIES)
    return cosine_topk_ivf(emb, queries_df, "vec_id", "embedding", _TOP_K,
                           nprobe=10, train_iters=2)


# ---------------------------------------------------------------------------
# Label centroids + nearest-centroid assignment (1 k-means step)
# ---------------------------------------------------------------------------


def label_centroids_long(emb: DataFrame, label_col: str,
                         vec_col: str) -> DataFrame:
    """Per-label mean vector in LONG form (label, dim, centroid_val).
    posexplode fans rows×dims, but the per-(label, dim) mean partial-
    aggregates map-side — the shuffle carries |labels|×|dims| rows, not
    the data. The long form is the mergeable representation; collect to
    arrays only at the consumer."""
    return (
        emb.select(F.col(label_col).alias("label"),
                   F.posexplode(vec_col).alias("dim", "__v"))
        .groupBy("label", "dim")
        .agg(F.avg("__v").alias("centroid_val"))
    )


def centroids_as_arrays(cent_long: DataFrame) -> DataFrame:
    """(label, centroid array<double>) from the long form — array_sort
    on (dim, val) structs guarantees dimension order regardless of the
    aggregate's row order."""
    return (
        cent_long.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "centroid_val")))
             .alias("__s"))
        .select("label",
                F.transform("__s", lambda s: s["centroid_val"]).alias("centroid"))
    )


@query(
    "q87_label_centroids",
    oracle="""
    SELECT label, dim, ROUND(avg(v), 6) AS centroid_val
    FROM (
      SELECT label, u.dim AS dim, u.v AS v
      FROM (
        SELECT label,
               unnest(list_transform(range(1, len(embedding) + 1),
                      i -> {'dim': i - 1, 'v': CAST(embedding[i] AS DOUBLE)}))
                 AS u
        FROM embeddings
      )
    )
    GROUP BY label, dim
    """,
)
def q87_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding, long form."""
    emb = load_table(spark, sf_dir, "embeddings")
    return label_centroids_long(emb, "label", "embedding").select(
        "label", "dim", F.round("centroid_val", 6).alias("centroid_val"))


@query(
    "q88_centroid_assign",
    oracle="""
    WITH ex AS (
      SELECT label,
             unnest(list_transform(range(1, len(embedding) + 1),
                    i -> {'dim': i - 1, 'v': CAST(embedding[i] AS DOUBLE)}))
               AS u
      FROM embeddings
    ), cent AS (
      SELECT label AS clabel, list(avg_v ORDER BY dim) AS centroid
      FROM (SELECT label, u.dim AS dim, avg(u.v) AS avg_v
            FROM ex GROUP BY label, u.dim)
      GROUP BY label
    ), scored AS (
      SELECT e.vec_id, e.label AS true_label, c.clabel,
             list_distance(CAST(e.embedding AS DOUBLE[]), c.centroid) AS dist,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY list_distance(
                                  CAST(e.embedding AS DOUBLE[]), c.centroid),
                                c.clabel) AS rk
      FROM embeddings e, cent c
    )
    SELECT true_label, clabel AS assigned_label, count(*) AS n
    FROM scored WHERE rk = 1
    GROUP BY true_label, clabel
    """,
)
def q88_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One k-means assignment step seeded by the label centroids:
    every vector goes to its nearest (L2) centroid; output is the
    (true label × assigned label) contingency. The centroid table is
    |labels| rows → broadcast; the argmin is a min over an orderable
    (dist, label) struct, so the fan-out (rows × labels) reduces
    map-side and the big side never shuffles — the canonical Spark
    k-means-step shape at any scale."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = centroids_as_arrays(
        label_centroids_long(emb, "label", "embedding"))
    scored = emb.select(
        "vec_id", F.col("label").alias("true_label"),
        _as_double(F.col("embedding")).alias("__e"),
    ).crossJoin(
        F.broadcast(cents.select(F.col("label").alias("__clabel"),
                                 F.col("centroid").alias("__c")))
    ).select(
        "vec_id", "true_label", "__clabel",
        F.sqrt(F.aggregate(
            F.zip_with("__e", "__c", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, x: acc + x,
        )).alias("__dist"),
    )
    best = (
        scored.groupBy("vec_id", "true_label")
        .agg(F.min(F.struct(F.col("__dist"), F.col("__clabel"))).alias("__b"))
    )
    return (
        best.groupBy("true_label", F.col("__b.__clabel").alias("assigned_label"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Per-dimension embedding statistics
# ---------------------------------------------------------------------------


@query(
    "q108_embedding_dim_stats",
    oracle="""
    WITH x AS (
      SELECT generate_subscripts(embedding, 1) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    )
    SELECT dim,
           ROUND(avg(v), 6) AS mean_v,
           ROUND(stddev_samp(v), 6) AS std_v,
           CAST(min(v) AS DOUBLE) AS min_v,
           CAST(max(v) AS DOUBLE) AS max_v,
           count(*) AS n
    FROM x GROUP BY dim ORDER BY dim
    """,
)
def q108_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension profile of the embedding column (mean/σ/min/max) —
    the feature-space health check a vector pipeline runs before
    normalization or PCA (collapsed dims show σ≈0, unnormalized dims
    show drifting means).

    Scale: posexplode fans each vector into d rows but the aggregate
    is map-side partial — every executor reduces its slice to d cells
    (64 here) before one d-row shuffle. No driver collect; works
    unchanged on 10^9 vectors. Float32 inputs widen to double exactly;
    1-based dim matches the SQL subscript convention."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        F.posexplode("embedding").alias("pos", "vf")
    ).select(
        (F.col("pos") + 1).cast("bigint").alias("dim"),
        F.col("vf").cast("double").alias("v"),
    )
    return (
        x.groupBy("dim")
        .agg(
            F.round(F.avg("v"), 6).alias("mean_v"),
            F.round(F.stddev_samp("v"), 6).alias("std_v"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("dim")
    )


# ---------------------------------------------------------------------------
# Embedding quantization (int8)
# ---------------------------------------------------------------------------


def quantize_embeddings_int8(emb: DataFrame, id_col: str,
                             vec_col: str) -> DataFrame:
    """Symmetric per-vector int8 quantization: q_i = round_half_up(x_i ·
    127/max|x|). The memory/IO lever for vector search at scale — 4×
    smaller than float32 and SIMD int8 dot products; per-vector scales
    keep reconstruction error bounded regardless of vector magnitude.

    All JVM expression math, map-only (scan-speed at any scale).
    Rounding is pinned to floor(x + 0.5) so the arithmetic is
    reproducible across engines (banker's rounding differs between
    numpy/JVM/SQL; floor(+0.5) doesn't). Returns (id, scale, q
    array<int>, mse) where mse is the per-vector reconstruction error.
    """
    v = _as_double(F.col(vec_col))
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.when(amax > 0, F.lit(127.0) / amax).otherwise(F.lit(1.0))
    out = emb.select(
        F.col(id_col), v.alias("__v"), scale.alias("scale")
    )
    q = F.transform(
        F.col("__v"),
        lambda x: F.floor(x * F.col("scale") + F.lit(0.5)).cast("int"),
    )
    out = out.withColumn("q", q)
    sq_err = F.zip_with(
        "__v", "q",
        lambda x, qi: (x - qi.cast("double") / F.col("scale"))
        * (x - qi.cast("double") / F.col("scale")),
    )
    mse = (F.aggregate(sq_err, F.lit(0.0), lambda a, b: a + b)
           / F.size("__v"))
    return out.select(id_col, "scale", "q", mse.alias("mse"))


@query(
    "q118_embedding_quantize",
    oracle="""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    s AS (
      SELECT vec_id, v,
             127.0 / list_max(list_transform(v, x -> abs(x))) AS scale
      FROM e
    ),
    q AS (
      SELECT vec_id, scale, v,
             list_transform(v, x -> floor(x * scale + 0.5)) AS qv
      FROM s
    )
    SELECT vec_id, ROUND(scale, 6) AS scale,
           CAST(list_sum(list_transform(range(1, len(qv) + 1),
                                        i -> qv[i] * i)) AS BIGINT)
             AS q_checksum,
           ROUND(list_sum(list_transform(range(1, len(qv) + 1),
                          i -> pow(v[i] - qv[i] / scale, 2))) / len(qv), 9)
             AS mse
    FROM q
    """,
)
def q118_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 quantization end-to-end; the quantized codes are folded into
    an order-weighted integer checksum (exact — no float comparison) so
    the oracle hash covers every code, plus the per-vector scale and
    reconstruction MSE."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = quantize_embeddings_int8(emb, "vec_id", "embedding")
    checksum = F.aggregate(
        F.zip_with(
            "q", F.sequence(F.lit(1), F.size("q")),
            lambda qi, i: qi.cast("long") * i.cast("long"),
        ),
        F.lit(0).cast("long"), lambda a, b: a + b,
    )
    return out.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        checksum.alias("q_checksum"),
        F.round("mse", 9).alias("mse"),
    )


@query("q134_neardup_lsh")  # rows-only: SRP bucketing not SQL-portable
def q134_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate near-dup pairs (SRP buckets + exact rescore) with
    self-measured recall against the exact block-matrix pairs (q35) —
    one row: exact count, found count, hit count, recall. This is the
    accuracy half of the dial a 100 TB dedup run tunes (more tables/
    probes → recall ↑ at more rescore work; the cost half is the
    bucket-join input size, visible in the bench/Spark UI); all
    seeded, so the row is deterministic. Both pair sets are tiny
    (near-dups are rare by definition) — keep them so the counts and
    the hit-join don't re-run the two most expensive kernels in this
    module."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = keep(q35_embedding_neardup(spark, sf_dir).select("id_a", "id_b"))
    approx = keep(embedding_neardup_pairs_lsh(
        emb, "vec_id", "embedding", _NEARDUP_T, nbits=6, ntables=16,
        nprobes=2).select("id_a", "id_b"))
    n_exact = exact.count()
    n_found = approx.count()
    n_hit = exact.join(approx, ["id_a", "id_b"]).count()
    return spark.createDataFrame(
        [(n_exact, n_found, int(n_hit),
          round(n_hit / n_exact, 4) if n_exact else 1.0)],
        "n_exact long, n_found long, n_hit long, recall double")


@query("q129_ann_recall")  # rows-only: derived from hash-family ANN paths
def q129_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the approximate ANN paths against the exact
    brute-force top-k — the metric that governs the accuracy/cost dial
    at scale (more tables/probes → higher recall, more candidates to
    rescore). Emits one row per method with recall and mean candidate
    overlap; deterministic given the seeded hash families."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < _N_QUERIES)
    exact = cosine_topk_bruteforce(emb, queries_df, "vec_id", "embedding",
                                   _TOP_K).select("query_id", "neighbor_id")
    out = []
    for method, df in (
        ("srp", cosine_topk_srp(emb, queries_df, "vec_id", "embedding",
                                _TOP_K, nbits=6, ntables=16,
                                nprobes=4)),  # q34's multiprobe dial
        ("ivf", cosine_topk_ivf(emb, queries_df, "vec_id", "embedding",
                                _TOP_K, nprobe=10,
                                train_iters=2)),  # q36's dial
        ("pq", cosine_topk_pq(emb, queries_df, "vec_id", "embedding",
                              _TOP_K)),  # q159's dial
    ):
        approx = df.select("query_id", "neighbor_id")
        hits = exact.join(approx, ["query_id", "neighbor_id"]).count()
        total = exact.count()
        out.append((method, total,
                    int(hits), round(hits / total, 4)))
    return spark.createDataFrame(
        out, "method string, n_exact long, n_hit long, recall_at_k double")


# ---------------------------------------------------------------------------
# Portable exact twins for the hash-family ANN paths (q143/q144)
#
# q34 (SRP) and q36 (IVF) are rows-only: their bucketing depends on
# seeded numpy hyperplanes / trained centroids, which no SQL engine can
# reproduce. These twins run the IDENTICAL candidate-generation →
# bucket-join → exact-rescore → top-k machinery through coarse
# quantizers both engines compute exactly: sign bits of the leading
# dimensions (q143 — the degenerate "axis-aligned hyperplanes" special
# case of SRP) and a fixed codebook of corpus vectors (q144 — IVF with
# an injected index). Every rank and cosine gets a real driver
# value-hash check; the production paths keep their stronger hash
# families, with the twins certifying the join/rescore/top-k half.
# ---------------------------------------------------------------------------

_SIGN_BITS = 6


def cosine_topk_signbucket(corpus: DataFrame, queries_df: DataFrame,
                           id_col: str, vec_col: str, k: int = 5,
                           nbits: int = _SIGN_BITS,
                           round_to: int = 6) -> DataFrame:
    """ANN via axis-aligned sign bucketing: bucket(v) = Σ_d [v_d > 0]·2^d
    over the first `nbits` dimensions; each query probes its own bucket
    plus the `nbits` Hamming-1 flips (multiprobe, like q34's). The
    corpus side is ONE map-only bucket projection; the probe fan-out
    rides the broadcast query side; candidates rescore with the exact
    JVM cosine fold. Same plan shape and shuffle keys as
    cosine_topk_srp — only the (deterministic, SQL-portable) quantizer
    differs."""
    def bucket(vc: Column) -> Column:
        return sum(
            (F.when(vc[d] > 0, F.lit(1 << d)).otherwise(F.lit(0))
             for d in range(nbits)),
            F.lit(0),
        ).cast("long")

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("__cv"),
    ).withColumn("__cnorm", l2_norm(F.col("__cv"))) \
     .withColumn("bucket", bucket(F.col("__cv")))
    q = queries_df.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("__qv"),
    ).withColumn("__qnorm", l2_norm(F.col("__qv"))) \
     .withColumn("__qb", bucket(F.col("__qv")))
    probes = q.select(
        "query_id", "__qv", "__qnorm",
        F.explode(F.array(
            F.col("__qb"),
            *[F.col("__qb").bitwiseXOR(F.lit(1 << d)) for d in range(nbits)],
        )).alias("bucket"),
    )
    # probe buckets are pairwise distinct and each corpus vector lives
    # in exactly one bucket → every (query, neighbor) candidate appears
    # at most once, no dedup needed before ranking
    return _topk(_exact_cos(c.join(F.broadcast(probes), "bucket")), k,
                 round_to)


def _signbucket_oracle() -> str:
    bucket = " + ".join(
        f"(CASE WHEN v[{d + 1}] > 0 THEN {1 << d} ELSE 0 END)"
        for d in range(_SIGN_BITS)
    )
    probe_list = ", ".join(
        ["qb"] + [f"xor(qb, {1 << d})" for d in range(_SIGN_BITS)]
    )
    return f"""
    WITH {_E_SQL},
    b AS (
      SELECT vec_id, v, CAST({bucket} AS BIGINT) AS bkt FROM e
    ),
    q AS (
      SELECT vec_id AS query_id, v AS qv, bkt AS qb
      FROM b WHERE vec_id < {_N_QUERIES}
    ),
    probes AS (
      SELECT query_id, qv, unnest([{probe_list}]) AS pb FROM q
    ),
    cand AS (
      SELECT p.query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(c.v, p.qv) AS cos
      FROM probes p JOIN b c ON c.bkt = p.pb
      WHERE c.vec_id != p.query_id
    )
    {_topk_sql("cand")}"""


@query("q143_ann_signbucket", oracle=_signbucket_oracle())
def q143_ann_signbucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < _N_QUERIES)
    return cosine_topk_signbucket(emb, queries_df, "vec_id", "embedding",
                                  _TOP_K)


def _injected_rows(emb: DataFrame, lo: int, n: int):
    """Corpus vectors vec_id [lo, lo + n) in id order — the injected
    codebooks the oracles reproduce (``_cells_sql``/``_pq_sql``); a
    bounded model-parameter collect."""
    import numpy as np

    rows = (
        emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + n))
        .orderBy("vec_id").select("embedding").collect()
    )
    return np.array([r[0] for r in rows], dtype=np.float64)


def _injected_books(emb: DataFrame, lo: int, ksub: int):
    """(nsub, ksub, subdim) PQ codebooks split from the UNIT corpus
    vectors vec_id [lo, lo + ksub)."""
    import numpy as np

    seeds = _injected_rows(emb, lo, ksub)
    seeds /= np.linalg.norm(seeds, axis=1, keepdims=True)
    return seeds.reshape(len(seeds), _PQ_NSUB, -1).transpose(1, 0, 2).copy()


_IVF_TWIN_CELLS = 8
_IVF_TWIN_LO = 10  # codebook = vec_id in [10, 18) — disjoint from queries
_IVF_TWIN_PROBE = 3


def _ivf_twin_oracle() -> str:
    return f"""
    WITH {_E_SQL},
    {_cells_sql(_IVF_TWIN_LO, _IVF_TWIN_CELLS)},
    ca AS (SELECT vec_id, v, cid FROM cr WHERE rk = 1),
    qa AS (
      SELECT vec_id AS query_id, v AS qv, cid FROM cr
      WHERE vec_id < {_N_QUERIES} AND rk <= {_IVF_TWIN_PROBE}
    ),
    cand AS (
      SELECT q.query_id, a.vec_id AS neighbor_id,
             list_cosine_similarity(a.v, q.qv) AS cos
      FROM qa q JOIN ca a ON a.cid = q.cid
      WHERE a.vec_id != q.query_id
    )
    {_topk_sql("cand")}"""


@query("q144_ivf_fixed_centroids", oracle=_ivf_twin_oracle())
def q144_ivf_fixed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production IVF path (cosine_topk_ivf — Arrow BLAS assignment
    kernel, cell-keyed probe join, exact rescore) with an INJECTED
    codebook the oracle reproduces: the 8 corpus vectors vec_id 10-17.
    Assignment argmax and probe ranking tolerate BLAS-vs-sequential
    summation ulps because cell-cosine gaps are O(1e-2); the output
    cosines come from the sequential JVM fold, bit-identical to the
    oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _injected_rows(emb, _IVF_TWIN_LO, _IVF_TWIN_CELLS)
    queries_df = emb.filter(F.col("vec_id") < _N_QUERIES)
    return cosine_topk_ivf(emb, queries_df, "vec_id", "embedding", _TOP_K,
                           ncells=_IVF_TWIN_CELLS, nprobe=_IVF_TWIN_PROBE,
                           centroids=cents)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the compressed-domain ANN family
# (complements SRP-LSH q34 and IVF q36): vectors become nsub byte codes
# (64 float32 dims → 8 bytes here, a 32× compression), and the scan
# ranks candidates WITHOUT touching raw vectors via ADC lookup tables.
# At 100 TB of embeddings this is the index you can afford to keep hot:
# the coded corpus is GBs where the raw vectors are TBs.
# ---------------------------------------------------------------------------

_PQ_NSUB = 8
_PQ_KSUB = 256   # classic 1-byte codes; recall@5 1.0 with refine=8 on
                 # the worst-case uniform fixture (q129 measures; 16/4
                 # scored 0.5 — codebook resolution is the lever here)


def _pq_train(corpus: DataFrame, vec_col: str, nsub: int, ksub: int,
              iters: int):
    """Per-subspace k-means codebooks (nsub, ksub, subdim) over UNIT
    vectors (PQ of unit vectors ≈ cosine; raw-norm subvectors would
    blow up the distortion exactly like un-normalized IVF centroids).
    Init = hash-ordered sample, split into subvectors; each Lloyd
    iteration is ONE corpus pass assigning all subspaces at once in an
    Arrow kernel, then a mergeable (sub, cell, dim) avg — collect is
    nsub·ksub·subdim values, bounded model state (the _ivf_train
    contract, per subspace)."""
    import numpy as np

    seed_rows = (
        corpus.select(F.col(vec_col).alias("v"))
        .withColumn("__h", F.xxhash64("v"))
        .orderBy("__h").limit(ksub).collect()
    )
    ksub = min(ksub, len(seed_rows))  # tiny corpus → fewer codes
    seeds = np.array([r["v"] for r in seed_rows], dtype=np.float64)
    seeds /= np.linalg.norm(seeds, axis=1, keepdims=True)
    dim = seeds.shape[1]
    subdim = dim // nsub
    books = seeds.reshape(ksub, nsub, subdim).transpose(1, 0, 2).copy()

    vecs = corpus.select(_as_double(F.col(vec_col)).alias("__v"))
    for _ in range(iters):
        def assign_kernel(batches, B=books):
            import pandas as pd

            for pdf in batches:
                if pdf.empty:
                    continue
                m = np.array(list(pdf["__v"]), dtype=np.float64)
                norms = np.linalg.norm(m, axis=1, keepdims=True)
                norms[norms == 0] = 1.0
                sub = (m / norms).reshape(len(m), B.shape[0], -1)
                out_sub, out_cell, out_vec = [], [], []
                for s in range(B.shape[0]):
                    d = ((sub[:, s, None, :] - B[s][None, :, :]) ** 2
                         ).sum(axis=2)
                    cell = np.argmin(d, axis=1)
                    out_sub.append(np.full(len(m), s, dtype=np.int32))
                    out_cell.append(cell.astype(np.int32))
                    out_vec.extend(list(sub[:, s, :]))
                yield pd.DataFrame({
                    "sub": np.concatenate(out_sub),
                    "cell": np.concatenate(out_cell),
                    "__sv": out_vec,
                })

        rows = (
            vecs.mapInPandas(assign_kernel,
                             "sub int, cell int, __sv array<double>")
            .select("sub", "cell", F.posexplode("__sv").alias("dim", "x"))
            .groupBy("sub", "cell", "dim").agg(F.avg("x").alias("m"))
            .collect()
        )
        new = books.copy()
        for r in rows:
            new[r["sub"], r["cell"], r["dim"]] = r["m"]
        books = new
    return books


def pq_encode(corpus: DataFrame, id_col: str, vec_col: str,
              codebooks) -> DataFrame:
    """Map-only Arrow kernel: (id, codes array<int> of length nsub) —
    argmin L2 per subspace of the unit vector. 8 small-int codes
    replace 64 floats; this frame IS the compressed index you persist."""
    import numpy as np

    nsub = codebooks.shape[0]

    def kernel(batches, B=codebooks):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            m = np.array(list(pdf["__v"]), dtype=np.float64)
            norms = np.linalg.norm(m, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            sub = (m / norms).reshape(len(m), nsub, -1)
            codes = np.empty((len(m), nsub), dtype=np.int32)
            for s in range(nsub):
                d = ((sub[:, s, None, :] - B[s][None, :, :]) ** 2).sum(axis=2)
                codes[:, s] = np.argmin(d, axis=1)
            yield pd.DataFrame({"__id": pdf["__id"],
                                "codes": list(codes)})

    return (
        corpus.select(F.col(id_col).alias("__id"),
                      _as_double(F.col(vec_col)).alias("__v"))
        .mapInPandas(kernel, "__id long, codes array<int>")
        .withColumnRenamed("__id", id_col)
    )


def _adc_refine(corpus: DataFrame, queries_df: DataFrame, codes: DataFrame,
                id_col: str, vec_col: str, k: int, refine: int,
                round_to: int, codebooks, cents=None,
                nprobe: int = 0) -> DataFrame:
    """The compressed-domain refine shared by PQ and IVF-PQ: ADC-rank
    the `codes` frame (id, [cell,] codes) per query, keep the global
    top refine·k candidates, exact-rescore those against the raw
    vectors, and rank with ``_topk``.

    ADC (asymmetric distance computation): per query, a lookup table
    LUT[s, j] = q_sub_s · codebook[s][j] (nsub·ksub floats, nsub read
    from the codebooks, closure-captured) over the UNIT query (a
    zero-norm query keeps a zero LUT); a row's approximate cosine is
    Σ_s LUT[s, code_s] — a gather-sum over BYTES, never the raw
    vectors. With IVF centroids `cents` (unit rows), each query scores
    only rows in its `nprobe` nearest cells — the compressed-domain
    analogue of partition pruning, and literal pruning when the index
    is stored partitioned by cell. The kernel emits only its per-batch
    top refine·k per query, so the shuffle carries candidates, not the
    corpus; a global window takes the exact top refine·k (the batch
    pre-top is a pure optimization — the global top is
    partition-independent), and only those candidates touch raw
    vectors again, the RAW query vectors included, for the exact
    JVM-fold rescore (a zero-norm query scores NULL there, as on the
    brute-force path). ADC scores are rounded to `round_to` before
    ranking (with id tie-break) so candidate selection is reproducible
    across summation orders. Driver state: queries (a bounded batch by
    contract), the LUT (nq·nsub·ksub floats) and the probe table
    (nq·nprobe ints)."""
    import numpy as np

    q_rows = (queries_df.select(F.col(id_col).alias("qid"),
                                _as_double(F.col(vec_col)).alias("qv"))
              .collect())
    if not q_rows:
        return _no_neighbors(corpus)
    qids = np.array([r["qid"] for r in q_rows], dtype=np.int64)
    qm = np.array([r["qv"] for r in q_rows], dtype=np.float64)
    qn = np.linalg.norm(qm, axis=1, keepdims=True)
    qn[qn == 0] = 1.0
    qu = qm / qn
    B = np.asarray(codebooks, dtype=np.float64)
    nsub = B.shape[0]
    # LUT[q, s, j] = q_sub · c_sub
    lut = np.einsum("qsd,sjd->qsj",
                    qu.reshape(len(qu), nsub, qu.shape[1] // nsub), B)
    n_keep = refine * k
    codes = codes.withColumnRenamed(id_col, "__id")
    probes = None
    if cents is not None:
        qs = qu @ cents.T
        order = np.lexsort(
            (np.broadcast_to(np.arange(cents.shape[0]), qs.shape), -qs),
            axis=1)
        probes = order[:, :nprobe].astype(np.int32)
        # plan-level probe filter: the kernel masks per query anyway,
        # but pushing the UNION of probe cells into the scan turns a
        # stored partitionBy("cell") index into literal partition
        # pruning — only nprobe-ish directories are ever read
        cells_needed = sorted({int(c) for c in probes.reshape(-1)})
        codes = codes.filter(F.col("cell").isin(cells_needed))

    def adc_kernel(batches, L=lut, Q=qids, P=probes, keep=n_keep,
                   rt=round_to):
        import pandas as pd

        grid = 10.0 ** (-rt)
        srange = np.arange(L.shape[1])
        for pdf in batches:
            if pdf.empty:
                continue
            cm = np.array(list(pdf["codes"]), dtype=np.int64)
            ids = pdf["__id"].to_numpy()
            cells = None if P is None else pdf["cell"].to_numpy()
            for qi in range(len(Q)):
                mask = ids != Q[qi]
                if P is not None:
                    mask &= np.isin(cells, P[qi])
                if not mask.any():
                    continue
                im = ids[mask]
                sm = L[qi, srange[None, :], cm[mask]].sum(axis=1)
                # The global candidate window ranks by (round(approx, rt)
                # DESC, neighbor_id ASC); the batch pre-top must use the
                # SAME key or a candidate tying at rt decimals at the
                # keep boundary could be dropped here yet kept by the
                # deterministic global ranking — so round HALF-UP, the
                # same convention F.round applies (np.round's half-even
                # could flip a midpoint tie). Then keep every row within
                # one 10^-rt grid step of the cutoff: the buffer absorbs
                # the residual float-scale vs BigDecimal one-step
                # disagreement, so the pre-top stays a pure optimization.
                r = np.floor(sm * 10.0 ** rt + 0.5) / 10.0 ** rt
                o = np.lexsort((im, -r))
                if len(o) > keep:
                    cutoff = r[o[keep - 1]]
                    o = o[r[o] >= cutoff - grid]
                yield pd.DataFrame({
                    "query_id": np.full(len(o), Q[qi], dtype=np.int64),
                    "neighbor_id": im[o],
                    "approx": sm[o]})

    scored = codes.mapInPandas(
        adc_kernel, "query_id long, neighbor_id long, approx double")
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("approx"), round_to).desc(), F.col("neighbor_id"))
    cand = (scored.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= n_keep).drop("approx", "__rk"))
    vecs = corpus.select(F.col(id_col).alias("neighbor_id"),
                         _as_double(F.col(vec_col)).alias("__nv"))
    qdf = corpus.sparkSession.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(qids, qm)],
        "query_id long, __qv array<double>")
    rescored = (cand.join(F.broadcast(qdf), "query_id")
                .join(vecs, "neighbor_id")
                .withColumn("cosine", cosine(F.col("__qv"),
                                             F.col("__nv"))))
    return _topk(rescored, k, round_to, score="cosine")


def cosine_topk_pq(corpus: DataFrame, queries_df: DataFrame, id_col: str,
                   vec_col: str, k: int = _TOP_K, nsub: int = _PQ_NSUB,
                   ksub: int = _PQ_KSUB, iters: int = 2, refine: int = 8,
                   codebooks=None, round_to: int = 6) -> DataFrame:
    """PQ ANN: encode → ADC scan of every code → exact rescore of the
    top refine·k (``_adc_refine``). `nsub`/`ksub`/`iters` shape the
    trained codebooks; injected `codebooks` carry their own nsub."""
    if codebooks is None:
        codebooks = _pq_train(corpus, vec_col, nsub, ksub, iters)
    return _adc_refine(corpus, queries_df,
                       pq_encode(corpus, id_col, vec_col, codebooks),
                       id_col, vec_col, k, refine, round_to, codebooks)


@query("q159_ann_pq")  # rows-only: trained codebooks not SQL-portable
def q159_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < _N_QUERIES)
    return cosine_topk_pq(emb, queries_df, "vec_id", "embedding", _TOP_K)


_PQ_TWIN_LO = 20
_PQ_TWIN_KSUB = 16
_PQ_TWIN_REFINE = 4


def _pq_sql(lo: int, ksub: int) -> str:
    """PQ encoding against an injected codebook (needs CTE ``e``) —
    ``pq_encode``'s SQL twin: ``un`` (vec_id, uv) zero-guarded unit
    vectors, ``cb`` (j, cv) = unit vectors vec_id [lo, lo + ksub),
    ``subs`` the subspace ids, and ``codes`` (vec_id, s, j, d) = each
    vector's nearest codeword per subspace by L2 (ties to the lower
    j), d its squared distance."""
    nsub, sd = _PQ_NSUB, 64 // _PQ_NSUB

    def sub(v: str) -> str:
        return f"{v}[subs.s * {sd} + 1 : subs.s * {sd} + {sd}]"

    return f"""nrm AS (
      SELECT vec_id, v,
             sqrt(list_sum(list_transform(v, y -> y * y))) AS n FROM e
    ),
    un AS (
      SELECT vec_id,
             list_transform(v, x -> x / CASE WHEN n = 0 THEN 1 ELSE n END)
               AS uv
      FROM nrm
    ),
    cb AS (
      SELECT vec_id - {lo} AS j, uv AS cv
      FROM un WHERE vec_id >= {lo} AND vec_id < {lo + ksub}
    ),
    subs AS (SELECT unnest(generate_series(0, {nsub - 1})) AS s),
    codes AS (
      SELECT vec_id, s, j, d FROM (
        SELECT n.vec_id, subs.s, c.j,
               list_distance({sub("n.uv")}, {sub("c.cv")}) ** 2 AS d,
               row_number() OVER (PARTITION BY n.vec_id, subs.s
                 ORDER BY list_distance({sub("n.uv")}, {sub("c.cv")}) ASC,
                    c.j) AS rk
        FROM un n, subs, cb c
      ) WHERE rk = 1
    )"""


def _adc_sql() -> str:
    """The ADC refine — ``_adc_refine``'s SQL twin over CTEs ``cand``
    (query_id, neighbor_id), ``codes``/``cb``/``un`` (``_pq_sql``) and
    ``e``: gather-sum ADC rounded to 6, the top refine·k candidates
    per query, the exact rescore, and the top-k tail."""
    sd = 64 // _PQ_NSUB
    keep = _PQ_TWIN_REFINE * _TOP_K
    return f"""qu AS (
      SELECT vec_id AS query_id, uv AS quv FROM un
      WHERE vec_id < {_N_QUERIES}
    ),
    adc AS (
      SELECT c.query_id, c.neighbor_id,
             ROUND(sum(list_inner_product(
               q.quv[codes.s * {sd} + 1 : codes.s * {sd} + {sd}],
               b.cv[codes.s * {sd} + 1 : codes.s * {sd} + {sd}])), 6)
               AS approx
      FROM cand c
      JOIN qu q ON q.query_id = c.query_id
      JOIN codes ON codes.vec_id = c.neighbor_id
      JOIN cb b ON codes.j = b.j
      GROUP BY 1, 2
    ),
    topc AS (
      SELECT query_id, neighbor_id FROM adc
      QUALIFY row_number() OVER (PARTITION BY query_id
                ORDER BY approx DESC, neighbor_id) <= {keep}
    ),
    rescored AS (
      SELECT c.query_id, c.neighbor_id,
             list_cosine_similarity(a.v, b.v) AS cos
      FROM topc c
      JOIN e a ON a.vec_id = c.query_id
      JOIN e b ON b.vec_id = c.neighbor_id
    )
    {_topk_sql("rescored")}"""


def _pq_twin_oracle() -> str:
    return f"""
    WITH {_E_SQL},
    {_pq_sql(_PQ_TWIN_LO, _PQ_TWIN_KSUB)},
    cand AS (
      SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id
      FROM e q, e n
      WHERE q.vec_id < {_N_QUERIES} AND n.vec_id != q.vec_id
    ),
    {_adc_sql()}"""


@query("q160_pq_fixed_codebook", oracle=_pq_twin_oracle())
def q160_pq_fixed_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production PQ path (pq_encode Arrow kernel → ADC gather-sum
    scan → global candidate window → exact JVM-fold rescore) with an
    INJECTED codebook the oracle reproduces: subvectors of the unit
    corpus vectors vec_id 20-35. Same certify-the-machinery contract as
    q143/q144 — the trained path (q159) keeps its k-means codebooks,
    this twin gives every rank and cosine a driver value-hash check.
    ADC scores round to 6 before ranking on BOTH sides, so candidate
    selection tolerates summation-order ulps."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = _injected_books(emb, _PQ_TWIN_LO, _PQ_TWIN_KSUB)
    queries_df = emb.filter(F.col("vec_id") < _N_QUERIES)
    return cosine_topk_pq(emb, queries_df, "vec_id", "embedding", _TOP_K,
                          refine=_PQ_TWIN_REFINE, codebooks=books)


# ---------------------------------------------------------------------------
# SemDeDup — semantic (embedding-cluster) deduplication
# ---------------------------------------------------------------------------

_SEM_T = 0.4
_SEM_CELLS = 8


def _assign_cells(df: DataFrame, id_col: str, vec_col: str,
                  cent_mat) -> DataFrame:
    """argmax-cosine cell assignment against a broadcast centroid
    matrix (closure-captured — bounded model parameters), one Arrow
    pass over the corpus. Ties break to the lowest cell id
    (np.argmax first-max), matching the oracle's (cos DESC, cid ASC)
    row_number."""
    import numpy as np

    def kernel(batches, C=cent_mat):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            m = np.array(list(pdf["__v"]), dtype=np.float64)
            norms = np.linalg.norm(m, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            cell = np.argmax((m / norms) @ C.T, axis=1)
            yield pd.DataFrame({"__id": pdf["__id"],
                                "cell": cell.astype(np.int32)})

    return (
        df.select(F.col(id_col).alias("__id"),
                  _as_double(F.col(vec_col)).alias("__v"))
        .mapInPandas(kernel, "__id long, cell int")
        .withColumnRenamed("__id", id_col)
    )


def semdedup(corpus: DataFrame, id_col: str, vec_col: str,
             threshold: float = _SEM_T, ncells: int = 16, iters: int = 2,
             centroids=None, round_to: int = 6) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space, then deduplicate WITHIN each cluster — a document
    is a semantic duplicate iff some lower-id document in its cell has
    cosine ≥ threshold (dup_of = the smallest such id; the min-id
    representative of every semantic neighborhood survives). The
    pinned lower-id contract makes the output deterministic without a
    transitive-closure pass — same shape as containment_pairs.

    Scale: the O(N²) cosine verify is confined WITHIN cells — the same
    blocking idea as LSH banding, but the blocks are learned from the
    data, which is why SemDeDup finds paraphrase-level dups that
    shingle-hash families miss. One Arrow assignment pass (centroids
    are bounded model state), one shuffle on the cell key, per-cell
    pair join. Cell balance bounds the quadratic term: spherical
    k-means iterations (the IVF trainer) keep occupancies even;
    at 100 TB you raise ncells so max-cell stays join-able, exactly
    like IVF's nlist."""
    import numpy as np

    if centroids is None:
        centroids = _ivf_train(corpus, vec_col, ncells, iters)
    cent_mat = np.asarray(centroids, dtype=np.float64)
    cent_mat = cent_mat / np.linalg.norm(cent_mat, axis=1, keepdims=True)
    assigned = _assign_cells(corpus, id_col, vec_col, cent_mat)
    base = corpus.select(F.col(id_col), F.col(vec_col)).join(
        assigned, id_col)
    # cast BEFORE the fold: raw float32 products diverge ~1e-7 from the
    # oracle's double arithmetic and can flip a round-6 boundary
    a = base.select(F.col(id_col).alias("__a"), F.col("cell"),
                    _as_double(F.col(vec_col)).alias("__va"))
    b = base.select(F.col(id_col).alias("__b"), F.col("cell"),
                    _as_double(F.col(vec_col)).alias("__vb"))
    dups = (
        a.join(b, "cell")
        .filter(F.col("__b") < F.col("__a"))
        .filter(F.round(cosine(F.col("__va"), F.col("__vb")), round_to)
                >= F.lit(threshold))
        .groupBy(F.col("__a").alias(id_col))
        .agg(F.min("__b").alias("dup_of"))
    )
    return (
        base.select(id_col, "cell")
        .join(dups, id_col, "left")
        .select(
            id_col, "cell",
            F.when(F.col("dup_of").isNotNull(), F.lit("dup"))
            .otherwise(F.lit("kept")).alias("status"),
            "dup_of",
        )
    )


@query("q171_semdedup")  # rows-only: trained k-means centroids
def q171_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production SemDeDup over the embeddings table: trained spherical
    k-means cells, within-cell lower-id cosine dedup at 0.4. Aggregated
    to per-cell counts so the rows-only hash is stable across the
    BLAS-ulp cell-boundary cases that trained centroids can have."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = semdedup(emb, "vec_id", "embedding", threshold=_SEM_T,
                   ncells=_SEM_CELLS, iters=2)
    return (out.groupBy("status")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("status"))


def _semdedup_twin_oracle() -> str:
    return f"""
    WITH {_E_SQL},
    {_cells_sql(_IVF_TWIN_LO, _IVF_TWIN_CELLS)},
    ca AS (SELECT vec_id, v, cid FROM cr WHERE rk = 1),
    d AS (
      SELECT a.vec_id, min(b.vec_id) AS dup_of
      FROM ca a JOIN ca b
        ON a.cid = b.cid AND b.vec_id < a.vec_id
       AND ROUND(list_cosine_similarity(a.v, b.v), 6) >= {_SEM_T}
      GROUP BY a.vec_id
    )
    SELECT ca.vec_id, ca.cid AS cell,
           CASE WHEN d.dup_of IS NOT NULL THEN 'dup' ELSE 'kept' END
             AS status,
           CAST(d.dup_of AS BIGINT) AS dup_of
    FROM ca LEFT JOIN d ON ca.vec_id = d.vec_id
    """


@query("q172_semdedup_fixed_cells", oracle=_semdedup_twin_oracle())
def q172_semdedup_fixed_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SemDeDup machinery (Arrow argmax assignment, cell-keyed pair
    join, lower-id min-dup contract) with the q144 INJECTED codebook,
    so every (cell, status, dup_of) row carries a driver value hash.
    Cosines round to 6 on both sides before the threshold compare —
    the same ulp-tolerance contract as q144/q160."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _injected_rows(emb, _IVF_TWIN_LO, _IVF_TWIN_CELLS)
    return semdedup(emb, "vec_id", "embedding", threshold=_SEM_T,
                    centroids=cents)


_RECALL_FLOORS = {"srp": 0.75, "ivf": 0.75, "pq": 0.7}


@query(
    "q175_ann_recall_gate",
    oracle="""
    SELECT 'ivf' AS method, CAST(0.75 AS DOUBLE) AS floor_recall,
           TRUE AS floor_ok
    UNION ALL
    SELECT 'pq', CAST(0.7 AS DOUBLE), TRUE
    UNION ALL
    SELECT 'srp', CAST(0.75 AS DOUBLE), TRUE
    """,
)
def q175_ann_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall FLOORS for the three production ANN paths as a
    driver-checked regression gate: q129 measures the exact recall@5
    numbers (rows-only — trained-index cell boundaries can flip a
    single neighbor across BLAS builds), but whether each path stays
    ABOVE its floor is stable: measured recall@5 spans
    srp 0.94-0.98, ivf 0.92-0.94, pq 0.84-1.0 across sf0.01/sf0.1
    (approximation coarsens with corpus size at fixed dials), so the
    0.7-0.75 floors sit ≥4 neighbor-flips below every measurement —
    only a real regression in the hash family, probe dial, or rescore
    can cross them. The oracle is the
    constant all-TRUE table; a red driver row here means an ANN path
    actually lost recall."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < _N_QUERIES)
    exact = cosine_topk_bruteforce(emb, queries_df, "vec_id", "embedding",
                                   _TOP_K).select("query_id", "neighbor_id")
    total = exact.count()
    out = []
    for method, df in (
        ("srp", cosine_topk_srp(emb, queries_df, "vec_id", "embedding",
                                _TOP_K, nbits=6, ntables=16, nprobes=4)),
        ("ivf", cosine_topk_ivf(emb, queries_df, "vec_id", "embedding",
                                _TOP_K, nprobe=10, train_iters=2)),
        ("pq", cosine_topk_pq(emb, queries_df, "vec_id", "embedding",
                              _TOP_K)),
    ):
        hits = exact.join(df.select("query_id", "neighbor_id"),
                          ["query_id", "neighbor_id"]).count()
        floor = _RECALL_FLOORS[method]
        out.append((method, floor, hits / total >= floor))
    return spark.createDataFrame(
        out, "method string, floor_recall double, floor_ok boolean")


# ---------------------------------------------------------------------------
# q177 — margin-based parallel-pair mining (the CCMatrix/LASER
# criterion: score a candidate pair by its cosine RELATIVE to each
# side's k-NN neighborhood, not absolutely)
# ---------------------------------------------------------------------------

_MARGIN_K = 4
_MARGIN_T = 1.02


def margin_mine_pairs(src: DataFrame, tgt: DataFrame, id_col: str,
                      vec_col: str, k: int = _MARGIN_K,
                      margin: float = _MARGIN_T) -> DataFrame:
    """Mine aligned pairs between two embedding sets with the
    max-margin criterion (Artetxe & Schwenk 2019; the CCMatrix mining
    rule): for y in kNN(x), score(x,y) = cos(x,y) / ((avg top-k
    cos(x,·) + avg top-k cos(·,y)) / 2) and keep pairs above the
    margin. Absolute-cosine mining drifts with hubness — a vector
    cosine-close to EVERYTHING matches everything; dividing by both
    neighborhoods cancels the hub effect.

    Exactness contract: the VECTORS are quantized to integers up
    front (floor(x·2¹⁰) per component), so every dot product and
    squared norm is an exact BIGINT sum — order-independent, no
    engine's float fold in the loop (measured: the two engines' raw
    float cosines differ enough that ~3 in 10⁴ pairs crossed a 1e-6
    quantization boundary; integer dots remove the divergence at the
    source). The quantized cosine dot/√(da·db), its floor(·1e6)
    integerization, the exact top-k neighborhood sums, and the final
    floor(x·1e6+0.5) margin pin are each ONE fixed double expression
    over those integers, written identically on both engines. Pairs
    with zero norms or a non-positive denominator are dropped.

    Scale shape: this is the EXACT SMALL-SIDE KERNEL — the pair scan
    broadcasts the smaller side, so it is the right tool when one side
    is query-scale (a probe set, an evaluation batch). The production
    corpus×corpus path is ``margin_mine_pairs_banded`` (q250), which
    generates candidates from IVF cells over an injected codebook and
    applies the SAME margin math via the shared
    ``_margin_from_pairs``."""
    a = _margin_quant(src, id_col, vec_col, "src_id", "__qa", "__da")
    b = _margin_quant(tgt, id_col, vec_col, "tgt_id", "__qb", "__db")
    # Width for the dot-product pass (r16): the probe side inherits the
    # scan's split count — a query-scale src (one parquet split) would
    # evaluate |src|·|tgt| integer dots in ONE task while the rest of
    # the box idles. Scale UP only (at corpus scale the scan is already
    # wide; never coalesce), same rule as ml.automl's CV cache.
    npart = src.sparkSession.sparkContext.defaultParallelism
    if a.rdd.getNumPartitions() < npart:
        a = a.repartition(npart)
    pairs = (a.crossJoin(F.broadcast(b))
             .select("src_id", "tgt_id", _margin_ci().alias("ci")))
    return _margin_from_pairs(pairs, k, margin)


def _margin_quant(df: DataFrame, id_col: str, vec_col: str, out_id: str,
                  qc: str, dc: str) -> DataFrame:
    """floor(x·2¹⁰) integer vector + exact BIGINT squared norm (zero
    norms dropped) — the shared exactness base of the margin miners."""
    qv = F.transform(
        _as_double(F.col(vec_col)),
        lambda x: F.floor(x * F.lit(1024.0)).cast("long"))
    d = F.aggregate(
        F.transform(F.col(qc), lambda x: x * x),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    return (df.select(F.col(id_col).alias(out_id), qv.alias(qc))
            .withColumn(dc, d)
            .filter(F.col(dc) > 0))


def _margin_ci() -> Column:
    """floor(1e6 · quantized-cosine) over the (__qa,__da)×(__qb,__db)
    pair columns — one name-bound instance of the shared integer-cosine
    kernel `_ci_expr` (single definition keeps the margin family and
    the IVF routing bit-identical by construction)."""
    return _ci_expr("__qa", "__da", "__qb", "__db")


def _margin_from_pairs(pairs: DataFrame, k: int,
                       margin: float) -> DataFrame:
    """The margin criterion over an ALREADY-GENERATED candidate pair
    set (src_id, tgt_id, ci): per-side top-k neighborhood sums via two
    rank windows (one shuffle per side key), then the pinned ratio —
    shared verbatim by the exact kernel (q177) and the banded scale
    path (q250), so the two can only differ in candidate coverage.

    The ranked frame feeds three consumers (cand/sa/sb). r16: the PAIR
    frame — (src_id, tgt_id, ci), ~20 bytes/row — is persisted +
    eagerly counted, so the expensive candidate generation (the
    banded paths' dim-wide integer dots over every cell-colliding
    pair, ~4 s of q268's 7-8 s alone at sf0.1) evaluates ONCE instead
    of once per consumer. This is NOT the r9-rejected persist: that
    experiment cached RANKED (pairs + both row_numbers), which forces
    both window sorts to materialize over ALL rows — forfeiting the
    WindowGroupLimit top-k pruning each consumer otherwise gets — and
    measured 14.8 s → 16.7-17.4 s. Caching BELOW the windows keeps
    every consumer's WindowGroupLimit intact while deduplicating the
    dot work: measured 6.8 s → 1.7-2.6 s on q268's kernel (paired
    same-protocol A/B, 6 rounds each, idle box, r16). At corpus scale
    the cached frame is the candidate set itself (band-bounded,
    id+id+long — orders of magnitude narrower than the vectors it
    replaces recomputing); MEMORY_AND_DISK spills gracefully.

    r15 NOTE — two rewrites of this kernel were tried mid-round and
    REVERTED after a clean-box re-measure (same subset protocol, idle
    box, q250/q268/q267/q329):
    - conditional window sums over unordered partitions instead of the
      two groupBys+joins ("fewer Exchanges"): 25.8/13.8/12.4/13.2 s vs
      11.7/7.1/4.8/8.0 s here. The rank filter above each recompute
      lets WindowGroupLimit prune every partition to its top-k rows
      BEFORE the window sort; the conditional-sum form has no rank
      filter directly above the window, so every candidate row flows
      through four full WindowExec sorts.
    - unrolling the zip_with/aggregate integer dot to a fixed-dim
      F.get chain ("codegen vs interpreted fold"): at dim=64 the
      ~190-node expression made things WORSE still (28.4/27.0/14.5/
      29.4 s combined with this groupBy shape) — the huge expression
      falls out of whole-stage codegen, and unlike the fold it is
      re-evaluated per consumer. The dim-generic fold stays."""
    pairs = keep(pairs)
    pairs.count()  # materialize once; stats keep the sa/sb joins sane
    wa = Window.partitionBy("src_id").orderBy(F.desc("ci"), F.asc("tgt_id"))
    wb = Window.partitionBy("tgt_id").orderBy(F.desc("ci"), F.asc("src_id"))
    ranked = (pairs
              .withColumn("__ra", F.row_number().over(wa))
              .withColumn("__rb", F.row_number().over(wb)))
    sa = (ranked.filter(F.col("__ra") <= k).groupBy("src_id")
          .agg(F.sum("ci").alias("__sa")))
    sb = (ranked.filter(F.col("__rb") <= k).groupBy("tgt_id")
          .agg(F.sum("ci").alias("__sb")))
    cand = (ranked.filter(F.col("__ra") <= k)
            .join(sa, "src_id").join(sb, "tgt_id")
            .filter(F.col("__sa") + F.col("__sb") > 0))
    mg = (F.col("ci") * F.lit(float(2 * k))) \
        / (F.col("__sa") + F.col("__sb"))
    pinned = pin(mg)
    return (cand.select("src_id", "tgt_id", pinned.alias("margin"))
            .filter(F.col("margin") >= F.lit(margin)))


_MARGIN_IVF_LO = 10      # injected centroids = embeddings [10, 18)
_MARGIN_IVF_CELLS = 8
_MARGIN_IVF_PROBE = 4
# Fixture-dial accuracy, measured via the q250 certificate (sf0.01 /
# sf0.1): pair-agreement with exact mining 0.70 / 0.74, mean |Δmargin|
# on common pairs 0.041 / 0.022 at half the pair work (probe 4 of 8
# untrained injected cells). The synthetic embeddings are near-uniform
# (no cluster structure — the hardest case for IVF); production dials
# (trained k-means codebook, 2^10+ cells, nprobe ~32) recover
# CCMatrix-grade neighborhoods at ~3% of the pair work. The dial
# sweep is recorded in BASELINE.md §q250.


def margin_mine_pairs_banded(src: DataFrame, tgt: DataFrame,
                             centroids: DataFrame, id_col: str,
                             vec_col: str, k: int = _MARGIN_K,
                             margin: float = _MARGIN_T,
                             nprobe: int = _MARGIN_IVF_PROBE,
                             coarse_stride: int | None = None,
                             nprobe_super: int = 2) -> DataFrame:
    """The production scale path for margin mining (VERDICT r8 #2):
    candidate pairs come from IVF CELLS instead of an all-pairs cross
    join — every tgt is assigned to its nearest centroid, every src
    probes its `nprobe` nearest cells (q144's injected-codebook
    machinery), and only cell-colliding pairs are ever scored. Work is
    Σ_c |src probing c|·|tgt in c| ≈ nprobe/cells of the pair matrix
    with locality-CORRELATED candidates (the cells are
    nearest-centroid regions, so a src's true neighbors concentrate in
    its probed cells — the reason FAISS-based CCMatrix mining probes
    IVF cells too). Pair generation is one shuffle join on the cell
    key; nothing corpus-sized is broadcast or crossed.

    Cell assignment uses the SAME quantized-integer cosine as the
    margin itself (one fixed double expression over exact BIGINTs,
    ranked with a cid tiebreak), so the partition is bit-reproducible
    in SQL and the whole path stays value-hash-checkable. Neighborhood
    sums are computed ON THE CANDIDATE SET (as in CCMatrix — its kNN
    graphs are approximate too); the margin math is the shared
    ``_margin_from_pairs``, so the paths can only differ in candidate
    coverage, which q250 certifies per pair against the exact
    kernel.

    ``coarse_stride`` switches BOTH assignments to the two-level
    coarse route (ivf_coarse_assign's machinery) — the fix for the
    assignment quadratic the round-12 100x ladder measured (flat N*C
    dots went 296.9x at 100x copies when the codebook grows with the
    corpus; coarse is N*(C/stride + nprobe_super*E[group])).  The
    coarse route can miss cells flat assignment finds — recall is
    measured by tests and the agreement probe, the same stance the
    banded path itself takes vs the exact kernel.

    FLAT STAYS THE DEFAULT, by measurement and by contract: flat
    assignment is exact (zero cell-recall risk) and its N*C cost is
    negligible at the fixed small codebooks the registered queries
    use (C = 8); coarse's win only materializes when C grows with the
    corpus (the r12 ladder's distinct-100-cell staging: 6.60 s coarse
    vs 11.35 s flat at 1x) — and on a CLONE-DEGENERATE codebook coarse
    devolves below flat (6899 s at 100x; the super map collapses).
    Since codebook distinctness is a property of the caller's k-means
    output, not something this operator can verify cheaply, the caller
    opts into coarse (set ``coarse_stride ~ sqrt(C)``) exactly when it
    knows C is large AND distinct; q329's dedup-first pipeline is how
    a clone-suspect corpus earns that knowledge."""
    a = _margin_quant(src, id_col, vec_col, "src_id", "__qa", "__da")
    b = _margin_quant(tgt, id_col, vec_col, "tgt_id", "__qb", "__db")
    c = _dense_cells(centroids, id_col, vec_col)
    # tgt side renamed off the centroid frame's __qb/__db for the
    # assignment joins
    t = b.withColumnRenamed("__qb", "__qt").withColumnRenamed("__db", "__dt")
    if coarse_stride is not None:
        probes = _coarse_route(a, c, "src_id", "__qa", "__da",
                               coarse_stride, nprobe_super, nprobe) \
            .select("src_id", "__qa", "__da", "__cid")
        cells = _coarse_route(t, c, "tgt_id", "__qt", "__dt",
                              coarse_stride, nprobe_super, 1) \
            .select("tgt_id", F.col("__qt").alias("__qb"),
                    F.col("__dt").alias("__db"), "__cid")
        pairs = (probes.join(cells, "__cid")
                 .select("src_id", "tgt_id", _margin_ci().alias("ci")))
        return _margin_from_pairs(pairs, k, margin)
    asg = (a.crossJoin(F.broadcast(c))
           .select("src_id", "__qa", "__da", "__cid",
                   _margin_ci().alias("__cci")))
    wc = Window.partitionBy("src_id").orderBy(F.desc("__cci"),
                                              F.asc("__cid"))
    probes = (asg.withColumn("__rk", F.row_number().over(wc))
              .filter(F.col("__rk") <= nprobe)
              .select("src_id", "__qa", "__da", "__cid"))
    tasg = t.crossJoin(F.broadcast(
        c.select(F.col("__cid"),
                 F.col("__qb").alias("__qc"),
                 F.col("__db").alias("__dc"))))
    tci = _ci_expr("__qt", "__dt", "__qc", "__dc")
    wt = Window.partitionBy("tgt_id").orderBy(F.desc(tci), F.asc("__cid"))
    cells = (tasg.withColumn("__rk", F.row_number().over(wt))
             .filter(F.col("__rk") == 1)
             .select("tgt_id", F.col("__qt").alias("__qb"),
                     F.col("__dt").alias("__db"), "__cid"))
    # each tgt lives in exactly one cell and probe cells are distinct
    # → every candidate pair appears at most once
    pairs = (probes.join(cells, "__cid")
             .select("src_id", "tgt_id", _margin_ci().alias("ci")))
    return _margin_from_pairs(pairs, k, margin)


def _ci_sql(a: str, b: str, qa: str = "qv", da: str = "d",
            qb: str = "qv", db: str = "d") -> str:
    """floor(1e6 · integer cosine) of rows `a` and `b` — ``_ci_expr``'s
    SQL twin."""
    return f"""CAST(floor(
               CAST(list_sum(list_transform(range(1, len({a}.{qa}) + 1),
                    i -> {a}.{qa}[i] * {b}.{qb}[i])) AS BIGINT)
               / sqrt(CAST({a}.{da} * {b}.{db} AS DOUBLE)) * 1e6) AS BIGINT)"""


def _quant_sql(base: str = "embeddings") -> str:
    """``_margin_quant``'s SQL twin: ``q`` (vec_id, qv) floor(x·2¹⁰)
    integer vectors of `base`, ``n`` (vec_id, qv, d) with the exact
    squared norm."""
    return f"""q AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(floor(x * 1024.0) AS BIGINT)) AS qv
      FROM {base}
    ),
    n AS (
      SELECT vec_id, qv,
             CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS d
      FROM q
    )"""


def _dense_cent_sql(lo: int, ncells: int) -> str:
    """``_dense_cells``'s SQL twin: ``cent`` (cid, cqv, cd), dense
    0-based ids over the nonzero quantized vectors [lo, lo + ncells)."""
    return f"""cent AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
             qv AS cqv, d AS cd
      FROM n WHERE vec_id >= {lo} AND vec_id < {lo + ncells} AND d > 0
    )"""


def _mined_sql(p: str, pairs: str) -> str:
    """``_margin_from_pairs``'s SQL twin over the pair CTE `pairs`
    (src_id, tgt_id, ci): ``{p}r`` ranks each pair on both sides,
    ``{p}sa``/``{p}sb`` sum each side's top-k, and ``{p}m`` holds the
    pinned margins at or above the threshold."""
    k, tk = _MARGIN_K, float(2 * _MARGIN_K)
    mg = pin_sql(f"(r.ci * {tk}) / (sa.s + sb.s)")
    return f"""{p}r AS MATERIALIZED (
      SELECT src_id, tgt_id, ci,
             row_number() OVER (PARTITION BY src_id
                                ORDER BY ci DESC, tgt_id) AS ra,
             row_number() OVER (PARTITION BY tgt_id
                                ORDER BY ci DESC, src_id) AS rb
      FROM {pairs}
    ),
    {p}sa AS (SELECT src_id, CAST(sum(ci) AS BIGINT) AS s FROM {p}r
              WHERE ra <= {k} GROUP BY src_id),
    {p}sb AS (SELECT tgt_id, CAST(sum(ci) AS BIGINT) AS s FROM {p}r
              WHERE rb <= {k} GROUP BY tgt_id),
    {p}m AS (
      SELECT r.src_id, r.tgt_id, {mg} AS margin
      FROM {p}r r JOIN {p}sa sa ON r.src_id = sa.src_id
                  JOIN {p}sb sb ON r.tgt_id = sb.tgt_id
      WHERE r.ra <= {k} AND sa.s + sb.s > 0 AND {mg} >= {_MARGIN_T}
    )"""


def _margin_sql(exact: bool = False, banded: bool = False,
                dedup: bool = False) -> str:
    """The margin-mining oracles over the even (src) and odd (tgt)
    embedding halves: `exact` all-pairs mining (q177), `banded`
    IVF-cell mining over the injected codebook (q268), both = q250's
    per-pair full-outer certificate; `dedup` mines the
    exact-vector-deduplicated set (q329)."""
    ctes = []
    base = "embeddings"
    if dedup:
        ctes.append("""dd AS (
      SELECT min(vec_id) AS vec_id, embedding
      FROM embeddings GROUP BY embedding
    )""")
        base = "dd"
    ctes += [_quant_sql(base),
             "s AS (SELECT vec_id, qv, d FROM n WHERE vec_id % 2 = 0 AND d > 0)",
             "tt AS (SELECT vec_id, qv, d FROM n WHERE vec_id % 2 = 1 AND d > 0)"]
    pair = _ci_sql("a", "b")
    if exact:
        ctes += [f"""fp AS MATERIALIZED (
      SELECT a.vec_id AS src_id, b.vec_id AS tgt_id, {pair} AS ci
      FROM s a JOIN tt b ON TRUE
    )""", _mined_sql("f", "fp")]
    if banded:
        def cells(side: str, keep: str) -> str:
            # each side row's cells by integer cosine, ties to lower cid
            return f"""SELECT vec_id, qv, d, cid FROM (
        SELECT v.vec_id, v.qv, v.d, c.cid,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY {_ci_sql("v", "c", qb="cqv", db="cd")} DESC,
                          c.cid) AS rk
        FROM {side} v, cent c
      ) WHERE rk {keep}"""

        ctes += [_dense_cent_sql(_MARGIN_IVF_LO, _MARGIN_IVF_CELLS),
                 f"sprobes AS ({cells('s', f'<= {_MARGIN_IVF_PROBE}')})",
                 f"tcells AS ({cells('tt', '= 1')})",
                 f"""ap AS MATERIALIZED (
      SELECT a.vec_id AS src_id, b.vec_id AS tgt_id, {pair} AS ci
      FROM sprobes a JOIN tcells b ON a.cid = b.cid
    )""", _mined_sql("a", "ap")]
    if exact and banded:
        out = f"""
    SELECT coalesce(f.src_id, a.src_id) AS src_id,
           coalesce(f.tgt_id, a.tgt_id) AS tgt_id,
           f.margin AS margin_full, a.margin AS margin_ann,
           CASE WHEN f.margin IS NOT NULL AND a.margin IS NOT NULL THEN
             {pin_sql("abs(a.margin - f.margin)")}
           END AS err
    FROM fm f FULL JOIN am a
      ON f.src_id = a.src_id AND f.tgt_id = a.tgt_id
    """
    else:
        out = f"""
    SELECT src_id, tgt_id, margin FROM {"f" if exact else "a"}m
    """
    return "\n    WITH " + ",\n    ".join(ctes) + out


@query("q177_margin_mining", oracle=_margin_sql(exact=True))
def q177_margin_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mine aligned pairs between the even-id and odd-id halves of the
    embedding table (a stand-in for two languages' encoder outputs):
    k=4 neighborhoods, margin ≥ 1.02, every (pair, margin) row
    value-hash-checked. Exact small-side kernel — the corpus×corpus
    scale path is q250."""
    emb = load_table(spark, sf_dir, "embeddings")
    src = emb.filter(F.col("vec_id") % 2 == 0)
    tgt = emb.filter(F.col("vec_id") % 2 == 1)
    return margin_mine_pairs(src, tgt, "vec_id", "embedding")


@query("q250_margin_mining_scaled", oracle=_margin_sql(exact=True, banded=True))
def q250_margin_mining_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF-banded margin-mining scale path WITH its accuracy
    certificate (the q231 pattern): mine the even/odd embedding halves
    twice — once with the exact all-pairs kernel (q177), once with
    cell-banded candidates over the injected [10, 18) codebook (the
    production plan) — and emit the per-pair full-outer comparison
    (margin_full, margin_ann, err). Pairs one path mines and the other
    misses surface as NULLs, so the certificate measures candidate
    coverage, not just score agreement. The full side enumerates pairs
    BY DESIGN (that is what it certifies against); the production path
    at corpus scale is ``margin_mine_pairs_banded`` alone —
    cell-bounded pair work, no cross join."""
    emb = load_table(spark, sf_dir, "embeddings")
    src = emb.filter(F.col("vec_id") % 2 == 0)
    tgt = emb.filter(F.col("vec_id") % 2 == 1)
    cents = emb.filter((F.col("vec_id") >= _MARGIN_IVF_LO) &
                       (F.col("vec_id") < _MARGIN_IVF_LO
                        + _MARGIN_IVF_CELLS))
    # The two sides are independent and each eagerly materializes its
    # candidate-pair cache (_margin_from_pairs); build them from two
    # driver threads so the pair jobs overlap (guide §2.6) instead of
    # serializing — the certificate's wall is max(sides), not the sum.
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_full = pool.submit(on_caller(margin_mine_pairs), src, tgt,
                             "vec_id", "embedding")
        f_ann = pool.submit(on_caller(margin_mine_pairs_banded), src, tgt,
                            cents, "vec_id", "embedding")
        full = f_full.result().withColumnRenamed("margin", "margin_full")
        ann = f_ann.result().withColumnRenamed("margin", "margin_ann")
    out = full.join(ann, ["src_id", "tgt_id"], "full_outer")
    err = F.when(
        F.col("margin_full").isNotNull() & F.col("margin_ann").isNotNull(),
        pin(F.abs(F.col("margin_ann") - F.col("margin_full"))))
    return out.select("src_id", "tgt_id", "margin_full", "margin_ann",
                      err.alias("err"))


# --- q267: the banded miner's agreement FLOOR on a fixture where IVF
# has real structure to exploit (VERDICT r9 #2). q250's certificate
# runs on the raw near-uniform embeddings — IVF's documented worst
# case (agreement 0.70/0.74). This gate rebuilds the corpus as 8 TIGHT
# CLUSTERS around the same injected anchors (v' = anchor_g + 0.125·v,
# g = vec_id mod 8 — a deterministic mixture-of-gaussians shape, the
# geometry a real bitext corpus has) and holds the banded path's
# CANDIDATE-COVERAGE agreement above a floor. The compare runs at
# margin threshold 0 — the scored top-k pair sets themselves — because
# a tight-cluster fixture saturates neighborhood sums (margins → 1.0,
# the round-9 lesson), so the ≥1.02 mined set is empty BY DESIGN there
# and pair-set coverage is the signal that actually degrades when a
# centroid/probe change regresses the miner.
_GATE_CAP = 1200       # fixture size cap: full kernel stays cheap at any SF
_GATE_BLEND = 0.125    # cluster tightness: anchor + 0.125·v
_GATE_FLOOR = 0.9      # measured agreement 1.0 at sf0.001/0.01/0.1


def _gate_clustered(emb: DataFrame) -> DataFrame:
    """The clustered fixture: every vec_id < _GATE_CAP re-embedded at
    anchor((vec_id div 2) mod 8) + 0.125·v, anchors = the [10, 18)
    injected codebook vectors. The div-2 keeps the cluster key
    INDEPENDENT of the even/odd src-tgt split (vec_id mod 8 would give
    src and tgt disjoint clusters — no shared structure at all), so
    every cluster holds both sides and a src's true neighbors sit in
    its own cell. Deterministic (no RNG), so the gate value is
    reproducible per SF."""
    anch = (emb.filter((F.col("vec_id") >= _MARGIN_IVF_LO)
                       & (F.col("vec_id") < _MARGIN_IVF_LO
                          + _MARGIN_IVF_CELLS))
            .select((F.col("vec_id") - _MARGIN_IVF_LO).alias("__g"),
                    _as_double(F.col("embedding")).alias("__a")))
    base = emb.filter(F.col("vec_id") < _GATE_CAP).select(
        "vec_id", _as_double(F.col("embedding")).alias("__v"),
        F.expr(f"(vec_id div 2) % {_MARGIN_IVF_CELLS}").alias("__g"))
    return (base.join(F.broadcast(anch), "__g")
            .select("vec_id",
                    F.zip_with("__a", "__v",
                               lambda a, x: a + F.lit(_GATE_BLEND) * x)
                    .alias("embedding")))


@query(
    "q267_margin_agreement_gate",
    oracle="""
    SELECT CAST(0.9 AS DOUBLE) AS floor_agreement, TRUE AS floor_ok
    """,
)
def q267_margin_agreement_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regression gate (q175's pattern) for the banded margin miner's
    EXPECTED-case recall: on the 8-cluster fixture the banded top-k
    pair set must agree with the exact kernel's on ≥ 90% of pairs —
    measured exactly 1.0 at sf0.001/0.01/0.1 (each src's true
    neighbors live in its own probed cell, so IVF banding loses
    nothing when the data has structure; the anchors double as the
    trained-equivalent codebook since they ARE the generative
    centers). The oracle is the constant all-TRUE row; a red driver
    row here means a centroid, probe-dial, or assignment change
    actually lost mining recall."""
    emb = load_table(spark, sf_dir, "embeddings")
    clustered = _gate_clustered(emb)
    src = clustered.filter(F.col("vec_id") % 2 == 0)
    tgt = clustered.filter(F.col("vec_id") % 2 == 1)
    cents = emb.filter((F.col("vec_id") >= _MARGIN_IVF_LO)
                       & (F.col("vec_id") < _MARGIN_IVF_LO
                          + _MARGIN_IVF_CELLS))
    # independent sides built from two driver threads so their eager
    # pair materializations overlap (same rationale as q250)
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_full = pool.submit(on_caller(margin_mine_pairs), src, tgt,
                             "vec_id", "embedding", margin=0.0)
        f_ann = pool.submit(on_caller(margin_mine_pairs_banded), src, tgt,
                            cents, "vec_id", "embedding", margin=0.0)
        full, ann = f_full.result(), f_ann.result()
    # one pass over each mining run: left-join marks coverage, a single
    # aggregate reads |full| and |full ∩ banded| together (a separate
    # full.count() would re-run the exact kernel a second time)
    j = full.join(
        ann.select("src_id", "tgt_id", F.lit(1).alias("__hit")),
        ["src_id", "tgt_id"], "left")
    row = j.agg(F.count(F.lit(1)).alias("__nf"),
                F.coalesce(F.sum("__hit"), F.lit(0)).alias("__nb")) \
        .first()
    n_full, n_both = int(row["__nf"]), int(row["__nb"])
    ok = n_full > 0 and n_both / n_full >= _GATE_FLOOR
    return spark.createDataFrame(
        [(_GATE_FLOOR, bool(ok))],
        "floor_agreement double, floor_ok boolean")


@query("q268_margin_banded", oracle=_margin_sql(banded=True))
def q268_margin_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The banded margin miner ALONE — the plan a 100 TB mining job
    actually runs (q250 keeps the full-vs-banded certificate; its
    bench row deliberately pays for both sides, so this row is the one
    that measures the production path's wall). Every mined (pair,
    margin) row value-hash-checked against the cell-banded oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    src = emb.filter(F.col("vec_id") % 2 == 0)
    tgt = emb.filter(F.col("vec_id") % 2 == 1)
    cents = emb.filter((F.col("vec_id") >= _MARGIN_IVF_LO) &
                       (F.col("vec_id") < _MARGIN_IVF_LO
                        + _MARGIN_IVF_CELLS))
    return margin_mine_pairs_banded(src, tgt, cents, "vec_id",
                                    "embedding")


# ---------------------------------------------------------------------------
# q329 — the dedup-BEFORE-ANN fused pipeline, the round-12 100x
# post-mortem's production rule made EXECUTABLE (BASELINE.md round-12
# ladder): wide exact-clone families devolve IVF cell structure (every
# clone lands in one cell; the hot-cell join goes quadratic), so the
# engine's own pipeline ordering is exact dedup FIRST, then banded
# mining.  This query is that ordering as ONE plan with a hash-checked
# oracle, so the contract is itself driver-verified rather than prose.
# ---------------------------------------------------------------------------


def exact_vector_dedup(emb: DataFrame, id_col: str,
                       vec_col: str) -> DataFrame:
    """One canonical row per DISTINCT embedding vector (min id wins) —
    the q16 hash-groupBy contract applied to vectors.  Scale shape:
    ONE shuffle keyed on the vector value (each vector's bytes cross
    the wire once — the same bytes a scan already reads); at 100 TB
    the group key would be xxhash64(vec) with an equality recheck, but
    the value key keeps this exactly re-derivable in ANSI SQL, and the
    shuffle volume is identical either way."""
    return (emb.groupBy(vec_col)
            .agg(F.min(id_col).alias(id_col))
            .select(id_col, vec_col))


@query("q329_dedup_then_margin", oracle=_margin_sql(banded=True, dedup=True))
def q329_dedup_then_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact vector dedup fused in front of the banded margin miner —
    q268 with the clone-collapse stage the 100x ladder proved
    necessary (a clone-degenerate corpus must never reach IVF
    assignment).  Src/tgt/centroids all draw from the DEDUPED set, so
    the codebook is distinct-by-construction; every mined (pair,
    margin) row value-hash-checked against the same oracle over a
    GROUP BY embedding CTE."""
    emb = load_table(spark, sf_dir, "embeddings")
    dd = exact_vector_dedup(emb, "vec_id", "embedding")
    src = dd.filter(F.col("vec_id") % 2 == 0)
    tgt = dd.filter(F.col("vec_id") % 2 == 1)
    cents = dd.filter((F.col("vec_id") >= _MARGIN_IVF_LO) &
                      (F.col("vec_id") < _MARGIN_IVF_LO
                       + _MARGIN_IVF_CELLS))
    return margin_mine_pairs_banded(src, tgt, cents, "vec_id",
                                    "embedding")


# ---------------------------------------------------------------------------
# Incremental ANN index maintenance — assign NEW vectors to the EXISTING
# trained cells/codebooks, append to the index, and certify drift.
# The q154→q165→q182 incremental story applied to vectors (VERDICT r6
# "Next round" #4): a rolling crawl adds embeddings continuously; the
# index must absorb them WITHOUT retraining, and a cheap certificate
# must say when retraining has become necessary.
# ---------------------------------------------------------------------------

_APPEND_DELTA_HI = 100   # vec_id < 100 — the newly crawled batch
_APPEND_IVF_LO = 100     # injected IVF codebook = corpus vectors [100, 108)
_APPEND_PQ_LO = 120      # injected PQ seeds = corpus vectors [120, 136)
_APPEND_PQ_KSUB = 16
_DRIFT_RES_MARGIN_PPM = 50_000     # retrain if Δ mean residual > +0.05
_DRIFT_ERR_MARGIN_PPM = 50_000     # or Δ mean PQ quantization error > +0.05
_DRIFT_SHARE_MARGIN_PPM = 200_000  # or occupancy share shifts > ±20pp


def ivf_append(base: DataFrame, delta: DataFrame, id_col: str, vec_col: str,
               centroids,
               res_margin_ppm: int = _DRIFT_RES_MARGIN_PPM,
               share_margin_ppm: int = _DRIFT_SHARE_MARGIN_PPM):
    """Append a crawl batch to an EXISTING IVF index: assign the new
    vectors to the already-trained cells (one Arrow argmax pass + one
    broadcast centroid join — no k-means, no corpus rescan) and emit a
    per-cell DRIFT CERTIFICATE that gates retraining.

    Returns ``(index, certificate)``:

    - ``index`` — (id, cell) rows for base ∪ delta; the delta rows are
      the appended postings, the same shape ``cosine_topk_ivf`` probes.
    - ``certificate`` — one row per cell: base/delta occupancy, mean
      assignment residual (1 − cos to the owning centroid, in exact
      ppm integers), the occupancy-share shift, and a ``retrain`` flag
      that fires when the incoming batch's residual exceeds the base
      residual by ``res_margin_ppm`` (the centroids no longer describe
      the new data) or its occupancy share shifts by more than
      ``share_margin_ppm`` (the data moved to different cells) — the
      two classic IVF staleness signals.

    100 TB design: the delta pass touches ONLY the new vectors; base
    statistics are one map-side-combined aggregate over the (already
    persisted) index joined back to its vectors — in production they
    are maintained incrementally with the same additive algebra as
    q204's rollup (count and residual-sum merge), so nothing here ever
    rescans the corpus. Certificate state is |cells| rows. All
    arithmetic past the cosine is BIGINT-exact: residuals quantize to
    ppm once (round-half-up floor(x·1e6+0.5)), means are positive
    integer divisions, shares are ppm integer divisions — the oracle
    reproduces every value bit-for-bit."""
    import numpy as np

    spark = base.sparkSession
    C = np.asarray(centroids, dtype=np.float64)
    norms = np.linalg.norm(C, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    Cn = C / norms  # argmax(dot, unit rows) == argmax cosine
    ncells = len(C)
    cent_df = spark.createDataFrame(
        [(i, [float(x) for x in C[i]]) for i in range(ncells)],
        "cid int, __c array<double>")

    tagged = (base.select(F.col(id_col), F.col(vec_col),
                          F.lit(False).alias("__is_delta"))
              .unionByName(delta.select(F.col(id_col), F.col(vec_col),
                                        F.lit(True).alias("__is_delta"))))
    index = _assign_cells(tagged, id_col, vec_col, Cn)
    scored = (
        tagged.join(index, id_col)
        .join(F.broadcast(cent_df), F.col("cell") == F.col("cid"))
        .select(
            "cell", "__is_delta",
            (F.lit(1000000) - F.floor(
                cosine(_as_double(F.col(vec_col)), F.col("__c")) * 1e6
                + F.lit(0.5))).cast("long").alias("__res_ppm"))
    )
    agg = scored.groupBy(F.col("cell").alias("cid")).agg(
        F.sum(F.when(~F.col("__is_delta"), 1).otherwise(0))
        .cast("long").alias("n_base"),
        F.sum(F.when(F.col("__is_delta"), 1).otherwise(0))
        .cast("long").alias("n_delta"),
        F.sum(F.when(~F.col("__is_delta"), F.col("__res_ppm"))).alias("__sb"),
        F.sum(F.when(F.col("__is_delta"), F.col("__res_ppm"))).alias("__sd"))
    cells = spark.range(ncells).select(F.col("id").cast("int").alias("cid"))
    w = Window.partitionBy(F.lit(0))
    cert = (
        cells.join(agg, "cid", "left")
        .select("cid",
                F.coalesce("n_base", F.lit(0)).cast("long").alias("n_base"),
                F.coalesce("n_delta", F.lit(0)).cast("long").alias("n_delta"),
                "__sb", "__sd")
        .withColumn("__tb", F.sum("n_base").over(w))
        .withColumn("__td", F.sum("n_delta").over(w))
        .withColumn("base_res_ppm",
                    F.when(F.col("n_base") > 0,
                           F.expr("__sb div n_base")))
        .withColumn("delta_res_ppm",
                    F.when(F.col("n_delta") > 0,
                           F.expr("__sd div n_delta")))
        .withColumn("share_shift_ppm",
                    F.expr("(n_delta * 1000000) div __td"
                           " - (n_base * 1000000) div __tb"))
        .withColumn(
            "retrain",
            (F.col("n_delta") > 0) &
            (F.coalesce(
                F.col("delta_res_ppm") >
                F.col("base_res_ppm") + F.lit(res_margin_ppm),
                F.lit(True)) |
             (F.abs("share_shift_ppm") > F.lit(share_margin_ppm))))
        .select("cid", "n_base", "n_delta", "base_res_ppm",
                "delta_res_ppm", "share_shift_ppm", "retrain")
    )
    return index, cert


def _ivf_append_oracle() -> str:
    return f"""
    WITH {_E_SQL},
    {_cells_sql(_APPEND_IVF_LO, _IVF_TWIN_CELLS)},
    r AS (
      SELECT cid, vec_id < {_APPEND_DELTA_HI} AS is_delta,
             1000000 - CAST(floor(cos * 1e6 + 0.5) AS BIGINT) AS res_ppm
      FROM cr WHERE rk = 1
    ),
    agg AS (
      SELECT cid,
             sum(CASE WHEN NOT is_delta THEN 1 ELSE 0 END) AS n_base,
             sum(CASE WHEN is_delta THEN 1 ELSE 0 END) AS n_delta,
             sum(CASE WHEN NOT is_delta THEN res_ppm END) AS sb,
             sum(CASE WHEN is_delta THEN res_ppm END) AS sd
      FROM r GROUP BY cid
    ),
    cells AS (SELECT unnest(generate_series(0, {_IVF_TWIN_CELLS - 1}))
                AS cid),
    filled AS (
      SELECT cells.cid,
             CAST(coalesce(n_base, 0) AS BIGINT) AS n_base,
             CAST(coalesce(n_delta, 0) AS BIGINT) AS n_delta,
             sb, sd,
             sum(coalesce(n_base, 0)) OVER () AS tb,
             sum(coalesce(n_delta, 0)) OVER () AS td
      FROM cells LEFT JOIN agg ON cells.cid = agg.cid
    )
    SELECT cid, n_base, n_delta,
           CAST(CASE WHEN n_base > 0 THEN sb // n_base END AS BIGINT)
             AS base_res_ppm,
           CAST(CASE WHEN n_delta > 0 THEN sd // n_delta END AS BIGINT)
             AS delta_res_ppm,
           CAST((n_delta * 1000000) // td - (n_base * 1000000) // tb
             AS BIGINT) AS share_shift_ppm,
           (n_delta > 0) AND (
             coalesce(CASE WHEN n_delta > 0 THEN sd // n_delta END >
                      CASE WHEN n_base > 0 THEN sb // n_base END
                        + {_DRIFT_RES_MARGIN_PPM}, TRUE)
             OR abs((n_delta * 1000000) // td - (n_base * 1000000) // tb)
                  > {_DRIFT_SHARE_MARGIN_PPM}) AS retrain
    FROM filled
    """


@query("q215_ivf_append", oracle=_ivf_append_oracle())
def q215_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF maintenance: vectors vec_id < 100 arrive as the
    crawl delta against the existing index (vec_id ≥ 100) whose
    trained centroids are INJECTED as corpus vectors [100, 108) so the
    oracle reproduces them (the q144 twin contract). Every certificate
    value — occupancy, ppm residual means, share shift, retrain flag —
    is integer-exact and value-hash-checked."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _injected_rows(emb, _APPEND_IVF_LO, _IVF_TWIN_CELLS)
    base = emb.filter(F.col("vec_id") >= _APPEND_DELTA_HI)
    delta = emb.filter(F.col("vec_id") < _APPEND_DELTA_HI)
    _, cert = ivf_append(base, delta, "vec_id", "embedding", cents)
    return cert


def pq_append(base: DataFrame, delta: DataFrame, id_col: str, vec_col: str,
              codebooks,
              err_margin_ppm: int = _DRIFT_ERR_MARGIN_PPM,
              share_margin_ppm: int = _DRIFT_SHARE_MARGIN_PPM):
    """q215's append/certify contract for the PQ index: encode the new
    vectors against the EXISTING per-subspace codebooks (one Arrow
    argmin pass — no codebook retrain) and certify drift per
    (subspace, codeword): occupancy, mean squared quantization error
    of the unit subvectors (exact ppm integers), per-subspace
    occupancy-share shift, and the retrain flag. Rising quantization
    error on incoming data is THE standard PQ staleness signal — the
    codebook stops describing the distribution before recall visibly
    collapses downstream.

    Returns ``(codes, certificate)`` — ``codes`` is the appended
    compressed index (id, codes array), the ``cosine_topk_pq`` input
    shape. Scale: delta-only encode, |nsub·ksub|-row certificate, and
    base statistics maintainable by the same additive algebra as
    q204's rollup."""
    import numpy as np

    spark = base.sparkSession
    B = np.asarray(codebooks, dtype=np.float64)   # (nsub, ksub, subdim)
    nsub, ksub, subdim = B.shape
    cw_rows = [(s, j, [float(x) for x in B[s, j]])
               for s in range(nsub) for j in range(ksub)]
    cw_df = spark.createDataFrame(cw_rows, "s int, j int, __cw array<double>")

    tagged = (base.select(F.col(id_col), F.col(vec_col),
                          F.lit(False).alias("__is_delta"))
              .unionByName(delta.select(F.col(id_col), F.col(vec_col),
                                        F.lit(True).alias("__is_delta"))))
    codes = pq_encode(tagged, id_col, vec_col, B)

    norm = l2_norm(_as_double(F.col(vec_col)))
    nz = F.when(norm == 0, F.lit(1.0)).otherwise(norm)
    unit = F.transform(_as_double(F.col(vec_col)), lambda x: x / nz)
    per_sub = (
        tagged.join(codes, id_col)
        .select("__is_delta", F.col("codes"), unit.alias("__u"))
        .select("__is_delta",
                F.posexplode("codes").alias("s", "j"),
                F.col("__u"))
        .join(F.broadcast(cw_df), ["s", "j"])
        .select(
            "s", "j", "__is_delta",
            F.floor(F.aggregate(
                F.zip_with(
                    F.slice(F.col("__u"), F.col("s") * subdim + 1, subdim),
                    F.col("__cw"),
                    lambda x, y: (x - y) * (x - y)),
                F.lit(0.0), lambda acc, x: acc + x) * 1e6 + F.lit(0.5))
            .cast("long").alias("__err_ppm"))
    )
    agg = per_sub.groupBy("s", "j").agg(
        F.sum(F.when(~F.col("__is_delta"), 1).otherwise(0))
        .cast("long").alias("n_base"),
        F.sum(F.when(F.col("__is_delta"), 1).otherwise(0))
        .cast("long").alias("n_delta"),
        F.sum(F.when(~F.col("__is_delta"), F.col("__err_ppm"))).alias("__sb"),
        F.sum(F.when(F.col("__is_delta"), F.col("__err_ppm"))).alias("__sd"))
    # constant nsub×ksub metadata grid — driver literal, no join
    grid = spark.createDataFrame(
        [(s, j) for s in range(nsub) for j in range(ksub)],
        "s int, j int")
    w = Window.partitionBy("s")
    cert = (
        grid.join(agg, ["s", "j"], "left")
        .select("s", "j",
                F.coalesce("n_base", F.lit(0)).cast("long").alias("n_base"),
                F.coalesce("n_delta", F.lit(0)).cast("long").alias("n_delta"),
                "__sb", "__sd")
        .withColumn("__tb", F.sum("n_base").over(w))
        .withColumn("__td", F.sum("n_delta").over(w))
        .withColumn("base_err_ppm",
                    F.when(F.col("n_base") > 0, F.expr("__sb div n_base")))
        .withColumn("delta_err_ppm",
                    F.when(F.col("n_delta") > 0, F.expr("__sd div n_delta")))
        .withColumn("share_shift_ppm",
                    F.expr("(n_delta * 1000000) div __td"
                           " - (n_base * 1000000) div __tb"))
        .withColumn(
            "retrain",
            (F.col("n_delta") > 0) &
            (F.coalesce(
                F.col("delta_err_ppm") >
                F.col("base_err_ppm") + F.lit(err_margin_ppm),
                F.lit(True)) |
             (F.abs("share_shift_ppm") > F.lit(share_margin_ppm))))
        .select("s", "j", "n_base", "n_delta", "base_err_ppm",
                "delta_err_ppm", "share_shift_ppm", "retrain")
    )
    return codes, cert


def _pq_append_oracle() -> str:
    return f"""
    WITH {_E_SQL},
    {_pq_sql(_APPEND_PQ_LO, _APPEND_PQ_KSUB)},
    r AS (
      SELECT s, j, vec_id < {_APPEND_DELTA_HI} AS is_delta,
             CAST(floor(d * 1e6 + 0.5) AS BIGINT) AS err_ppm
      FROM codes
    ),
    agg AS (
      SELECT s, j,
             sum(CASE WHEN NOT is_delta THEN 1 ELSE 0 END) AS n_base,
             sum(CASE WHEN is_delta THEN 1 ELSE 0 END) AS n_delta,
             sum(CASE WHEN NOT is_delta THEN err_ppm END) AS sb,
             sum(CASE WHEN is_delta THEN err_ppm END) AS sd
      FROM r GROUP BY s, j
    ),
    grid AS (
      SELECT subs.s, js.j
      FROM subs, (SELECT unnest(generate_series(0, {_APPEND_PQ_KSUB - 1}))
                    AS j) js
    ),
    filled AS (
      SELECT grid.s, grid.j,
             CAST(coalesce(n_base, 0) AS BIGINT) AS n_base,
             CAST(coalesce(n_delta, 0) AS BIGINT) AS n_delta,
             sb, sd,
             sum(coalesce(n_base, 0)) OVER (PARTITION BY grid.s) AS tb,
             sum(coalesce(n_delta, 0)) OVER (PARTITION BY grid.s) AS td
      FROM grid LEFT JOIN agg ON grid.s = agg.s AND grid.j = agg.j
    )
    SELECT s, j, n_base, n_delta,
           CAST(CASE WHEN n_base > 0 THEN sb // n_base END AS BIGINT)
             AS base_err_ppm,
           CAST(CASE WHEN n_delta > 0 THEN sd // n_delta END AS BIGINT)
             AS delta_err_ppm,
           CAST((n_delta * 1000000) // td - (n_base * 1000000) // tb
             AS BIGINT) AS share_shift_ppm,
           (n_delta > 0) AND (
             coalesce(CASE WHEN n_delta > 0 THEN sd // n_delta END >
                      CASE WHEN n_base > 0 THEN sb // n_base END
                        + {_DRIFT_ERR_MARGIN_PPM}, TRUE)
             OR abs((n_delta * 1000000) // td - (n_base * 1000000) // tb)
                  > {_DRIFT_SHARE_MARGIN_PPM}) AS retrain
    FROM filled
    """


@query("q216_pq_append", oracle=_pq_append_oracle())
def q216_pq_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental PQ maintenance: the vec_id < 100 crawl delta is
    encoded against the EXISTING per-subspace codebooks (unit
    subvectors of corpus vectors [120, 136) — the q160 twin contract,
    so the oracle reproduces them) and the per-(subspace, codeword)
    drift certificate is emitted. Occupancies, ppm quantization-error
    means, share shifts, and retrain flags all integer-exact and
    value-hash-checked."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = _injected_books(emb, _APPEND_PQ_LO, _APPEND_PQ_KSUB)
    base = emb.filter(F.col("vec_id") >= _APPEND_DELTA_HI)
    delta = emb.filter(F.col("vec_id") < _APPEND_DELTA_HI)
    _, cert = pq_append(base, delta, "vec_id", "embedding", books)
    return cert


# ---------------------------------------------------------------------------
# Composed IVF-PQ — the production 100 TB ANN layout (VERDICT r7 #1):
# coarse IVF cells prune the candidate set, PQ codes WITHIN the probed
# cells rank candidates in the compressed domain, and only the top
# refine·k rows ever touch raw vectors again. Neither scale cliff of
# the separate indexes survives the composition: flat IVF still scans
# raw vectors inside probed cells (TBs hot); flat PQ still ADC-scans
# every code in the corpus. Here the hot set is nprobe cells' worth of
# BYTES. Encoding quantizes the raw UNIT vector against shared
# codebooks — FAISS IndexIVFPQ's by_residual=false variant, standard
# for cosine/IP metrics — because that is the variant an INJECTED
# SQL-reproducible codebook can certify end to end (residual encoding
# would need books trained on assignment residuals, which have no
# exact DuckDB twin).
# ---------------------------------------------------------------------------


def ivfpq_encode(corpus: DataFrame, id_col: str, vec_col: str,
                 centroids, codebooks) -> DataFrame:
    """(id, cell, codes) — the composed IVF-PQ index rows — in ONE
    Arrow pass: cell = argmax cosine against the broadcast IVF
    centroids (ties to the lowest cell id, matching the oracle's
    (cos DESC, cid ASC) row_number), codes = per-subspace argmin L2 of
    the unit vector against the broadcast PQ codebooks. The kernel
    closure carries bounded model parameters only (ncells·dim +
    nsub·ksub·subdim floats). At scale this frame is persisted
    PARTITIONED BY cell so a probe's scan prunes to nprobe
    directories — the corpus itself is never rescanned."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)
    cn = np.linalg.norm(C, axis=1, keepdims=True)
    cn[cn == 0] = 1.0
    Cn = C / cn
    B = np.asarray(codebooks, dtype=np.float64)

    def kernel(batches, Cn=Cn, B=B):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            m = np.array(list(pdf["__v"]), dtype=np.float64)
            norms = np.linalg.norm(m, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            u = m / norms
            cell = np.argmax(u @ Cn.T, axis=1)
            sub = u.reshape(len(u), B.shape[0], -1)
            codes = np.empty((len(u), B.shape[0]), dtype=np.int32)
            for s in range(B.shape[0]):
                d = ((sub[:, s, None, :] - B[s][None, :, :]) ** 2
                     ).sum(axis=2)
                codes[:, s] = np.argmin(d, axis=1)
            yield pd.DataFrame({"__id": pdf["__id"],
                                "cell": cell.astype(np.int32),
                                "codes": list(codes)})

    return (
        corpus.select(F.col(id_col).alias("__id"),
                      _as_double(F.col(vec_col)).alias("__v"))
        .mapInPandas(kernel, "__id long, cell int, codes array<int>")
        .withColumnRenamed("__id", id_col)
    )


def ivfpq_store(index: DataFrame, path: str) -> None:
    """Persist the composed index PARTITIONED BY CELL — the layout the
    search path's probe-cell filter turns into literal partition
    pruning: a query batch probing nprobe of ncells reads nprobe
    directories of code bytes and nothing else (the q221 data-skipping
    claim, realized for ANN; tests/test_similarity.py measures it on
    the physical plan). Read it back with ``spark.read.parquet``:
    `cell` is the partition column, so downstream isin filters prune
    directories at plan time."""
    index.write.partitionBy("cell").mode("overwrite").parquet(path)


def cosine_topk_ivfpq(corpus: DataFrame, queries_df: DataFrame,
                      id_col: str, vec_col: str, k: int = _TOP_K,
                      ncells: int = 16, nprobe: int = 4,
                      nsub: int = _PQ_NSUB, ksub: int = _PQ_KSUB,
                      iters: int = 2, refine: int = 8,
                      centroids=None, codebooks=None, index=None,
                      round_to: int = 6) -> DataFrame:
    """IVF-PQ ANN: probe nprobe cells, ADC-rank the probed cells'
    CODES, exact-rescore only the top refine·k candidates
    (``_adc_refine`` with the unit centroids: each query scores only
    rows whose cell is in its probe set). `index` is a stored
    (id, cell, codes) frame from ``ivfpq_encode``/``ivfpq_store``."""
    import numpy as np

    if centroids is None or codebooks is None:
        head = corpus.select(vec_col).first()
        if head is None or head[0] is None:
            return _no_neighbors(corpus)
    if centroids is None:
        centroids = _ivf_train(corpus, vec_col, ncells, iters)
    C = np.asarray(centroids, dtype=np.float64)
    cn = np.linalg.norm(C, axis=1, keepdims=True)
    cn[cn == 0] = 1.0
    if codebooks is None:
        codebooks = _pq_train(corpus, vec_col, nsub, ksub, iters)
    B = np.asarray(codebooks, dtype=np.float64)
    if index is None:
        index = ivfpq_encode(corpus, id_col, vec_col, C, B)
    return _adc_refine(corpus, queries_df, index, id_col, vec_col, k,
                       refine, round_to, B, cents=C / cn, nprobe=nprobe)


def ivfpq_append(base: DataFrame, delta: DataFrame, id_col: str,
                 vec_col: str, centroids, codebooks,
                 res_margin_ppm: int = _DRIFT_RES_MARGIN_PPM,
                 err_margin_ppm: int = _DRIFT_ERR_MARGIN_PPM,
                 share_margin_ppm: int = _DRIFT_SHARE_MARGIN_PPM):
    """Append a crawl batch to an EXISTING composed IVF-PQ index —
    q215's and q216's maintenance contracts fused over the layout
    cosine_topk_ivfpq serves: ONE delta-only Arrow pass assigns cells
    AND codes (no k-means, no codebook retrain, no corpus rescan) and
    the certificate carries BOTH staleness signals per cell:

    - ``*_res_ppm`` — mean assignment residual (1 − cos to the owning
      centroid): rising delta residual means the COARSE quantizer no
      longer describes the data (probe recall decays).
    - ``*_err_ppm`` — mean total PQ quantization error of the unit
      vector (Σ over subspaces of ‖u_s − codeword‖², each subspace
      quantized to ppm separately then summed as exact BIGINTs, so the
      value is order-free): rising delta error means the FINE quantizer
      is stale (ADC ranking inside probed cells decays).
    - ``share_shift_ppm`` + ``retrain`` — occupancy movement and the
      gate, firing on either signal exceeding its margin or on a cell
      whose delta has no base to compare against.

    Returns ``(index, certificate)``; ``index`` is the appended
    (id, cell, codes) frame — exactly the ``cosine_topk_ivfpq`` probe
    input. 100 TB design: the Arrow pass touches only base∪delta rows
    it is given; in production the base statistics are maintained with
    q204's additive count/sum algebra, so appends are delta-linear.
    All certificate arithmetic past the cosine is BIGINT-exact
    (round-half-up ppm quantization, positive-only integer division) —
    the oracle reproduces every value bit-for-bit."""
    import numpy as np

    spark = base.sparkSession
    C = np.asarray(centroids, dtype=np.float64)
    ncells = len(C)
    B = np.asarray(codebooks, dtype=np.float64)
    nsub, ksub, subdim = B.shape
    cent_df = spark.createDataFrame(
        [(i, [float(x) for x in C[i]]) for i in range(ncells)],
        "cid int, __c array<double>")
    cw_df = spark.createDataFrame(
        [(s, j, [float(x) for x in B[s, j]])
         for s in range(nsub) for j in range(ksub)],
        "s int, j int, __cw array<double>")

    tagged = (base.select(F.col(id_col), F.col(vec_col),
                          F.lit(False).alias("__is_delta"))
              .unionByName(delta.select(F.col(id_col), F.col(vec_col),
                                        F.lit(True).alias("__is_delta"))))
    index = ivfpq_encode(tagged, id_col, vec_col, C, B)

    norm = l2_norm(_as_double(F.col(vec_col)))
    nz = F.when(norm == 0, F.lit(1.0)).otherwise(norm)
    unit = F.transform(_as_double(F.col(vec_col)), lambda x: x / nz)
    res = (F.lit(1000000) - F.floor(
        cosine(_as_double(F.col(vec_col)), F.col("__c")) * 1e6
        + F.lit(0.5))).cast("long")
    per_sub = (
        tagged.join(index, id_col)
        .join(F.broadcast(cent_df), F.col("cell") == F.col("cid"))
        .select(F.col(id_col), "cell", "__is_delta",
                res.alias("__res_ppm"),
                F.posexplode("codes").alias("s", "j"),
                unit.alias("__u"))
        .join(F.broadcast(cw_df), ["s", "j"])
        .select(F.col(id_col), "cell", "__is_delta", "__res_ppm",
                F.floor(F.aggregate(
                    F.zip_with(
                        F.slice(F.col("__u"), F.col("s") * subdim + 1,
                                subdim),
                        F.col("__cw"),
                        lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0), lambda acc, x: acc + x) * 1e6
                    + F.lit(0.5))
                .cast("long").alias("__e")))
    pervec = (per_sub.groupBy(id_col, "cell", "__is_delta", "__res_ppm")
              .agg(F.sum("__e").cast("long").alias("__err_ppm")))
    agg = pervec.groupBy(F.col("cell").alias("cid")).agg(
        F.sum(F.when(~F.col("__is_delta"), 1).otherwise(0))
        .cast("long").alias("n_base"),
        F.sum(F.when(F.col("__is_delta"), 1).otherwise(0))
        .cast("long").alias("n_delta"),
        F.sum(F.when(~F.col("__is_delta"), F.col("__res_ppm")))
        .alias("__rb"),
        F.sum(F.when(F.col("__is_delta"), F.col("__res_ppm")))
        .alias("__rd"),
        F.sum(F.when(~F.col("__is_delta"), F.col("__err_ppm")))
        .alias("__eb"),
        F.sum(F.when(F.col("__is_delta"), F.col("__err_ppm")))
        .alias("__ed"))
    cells = spark.range(ncells).select(F.col("id").cast("int").alias("cid"))
    w = Window.partitionBy(F.lit(0))
    cert = (
        cells.join(agg, "cid", "left")
        .select("cid",
                F.coalesce("n_base", F.lit(0)).cast("long").alias("n_base"),
                F.coalesce("n_delta", F.lit(0)).cast("long")
                .alias("n_delta"),
                "__rb", "__rd", "__eb", "__ed")
        .withColumn("__tb", F.sum("n_base").over(w))
        .withColumn("__td", F.sum("n_delta").over(w))
        .withColumn("base_res_ppm",
                    F.when(F.col("n_base") > 0, F.expr("__rb div n_base")))
        .withColumn("delta_res_ppm",
                    F.when(F.col("n_delta") > 0,
                           F.expr("__rd div n_delta")))
        .withColumn("base_err_ppm",
                    F.when(F.col("n_base") > 0, F.expr("__eb div n_base")))
        .withColumn("delta_err_ppm",
                    F.when(F.col("n_delta") > 0,
                           F.expr("__ed div n_delta")))
        .withColumn("share_shift_ppm",
                    F.expr("(n_delta * 1000000) div __td"
                           " - (n_base * 1000000) div __tb"))
        .withColumn(
            "retrain",
            (F.col("n_delta") > 0) &
            (F.coalesce(
                F.col("delta_res_ppm") >
                F.col("base_res_ppm") + F.lit(res_margin_ppm),
                F.lit(True)) |
             F.coalesce(
                F.col("delta_err_ppm") >
                F.col("base_err_ppm") + F.lit(err_margin_ppm),
                F.lit(True)) |
             (F.abs("share_shift_ppm") > F.lit(share_margin_ppm))))
        .select("cid", "n_base", "n_delta", "base_res_ppm",
                "delta_res_ppm", "base_err_ppm", "delta_err_ppm",
                "share_shift_ppm", "retrain")
    )
    return index, cert


def _ivfpq_search_oracle() -> str:
    return f"""
    WITH {_E_SQL},
    {_cells_sql(_APPEND_IVF_LO, _IVF_TWIN_CELLS)},
    {_pq_sql(_APPEND_PQ_LO, _APPEND_PQ_KSUB)},
    cand AS (
      SELECT qa.vec_id AS query_id, ca.vec_id AS neighbor_id
      FROM cr qa JOIN cr ca ON ca.cid = qa.cid
      WHERE qa.vec_id < {_N_QUERIES} AND qa.rk <= {_IVF_TWIN_PROBE}
        AND ca.rk = 1 AND ca.vec_id != qa.vec_id
    ),
    {_adc_sql()}"""


@query("q233_ivfpq_search", oracle=_ivfpq_search_oracle())
def q233_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed IVF-PQ ANN path (one-pass celled+coded index →
    per-query cell-masked ADC gather-sum → global candidate window →
    exact JVM-fold rescore) with BOTH codebooks INJECTED so the oracle
    reproduces the full pipeline: IVF centroids = corpus vectors
    [100, 108) (the q144/q215 contract), PQ codewords = unit corpus
    vectors [120, 136) (the q160/q216 contract). Every rank and cosine
    value-hash-checked; ADC scores round to 6 before ranking on both
    sides, so candidate selection tolerates summation-order ulps."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _injected_rows(emb, _APPEND_IVF_LO, _IVF_TWIN_CELLS)
    books = _injected_books(emb, _APPEND_PQ_LO, _APPEND_PQ_KSUB)
    queries_df = emb.filter(F.col("vec_id") < _N_QUERIES)
    return cosine_topk_ivfpq(
        emb, queries_df, "vec_id", "embedding", _TOP_K,
        nprobe=_IVF_TWIN_PROBE, refine=_PQ_TWIN_REFINE,
        centroids=cents, codebooks=books)


def _ivfpq_append_oracle() -> str:
    return f"""
    WITH {_E_SQL},
    {_cells_sql(_APPEND_IVF_LO, _IVF_TWIN_CELLS)},
    ca AS (
      SELECT vec_id, cid, cos, vec_id < {_APPEND_DELTA_HI} AS is_delta
      FROM cr WHERE rk = 1
    ),
    {_pq_sql(_APPEND_PQ_LO, _APPEND_PQ_KSUB)},
    errv AS (
      SELECT vec_id,
             CAST(sum(CAST(floor(d * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
               AS err_ppm
      FROM codes GROUP BY vec_id
    ),
    r AS (
      SELECT ca.cid, ca.is_delta,
             1000000 - CAST(floor(ca.cos * 1e6 + 0.5) AS BIGINT)
               AS res_ppm,
             errv.err_ppm
      FROM ca JOIN errv ON ca.vec_id = errv.vec_id
    ),
    agg AS (
      SELECT cid,
             sum(CASE WHEN NOT is_delta THEN 1 ELSE 0 END) AS n_base,
             sum(CASE WHEN is_delta THEN 1 ELSE 0 END) AS n_delta,
             sum(CASE WHEN NOT is_delta THEN res_ppm END) AS rb,
             sum(CASE WHEN is_delta THEN res_ppm END) AS rd,
             sum(CASE WHEN NOT is_delta THEN err_ppm END) AS eb,
             sum(CASE WHEN is_delta THEN err_ppm END) AS ed
      FROM r GROUP BY cid
    ),
    cells AS (SELECT unnest(generate_series(0, {_IVF_TWIN_CELLS - 1}))
                AS cid),
    filled AS (
      SELECT cells.cid,
             CAST(coalesce(n_base, 0) AS BIGINT) AS n_base,
             CAST(coalesce(n_delta, 0) AS BIGINT) AS n_delta,
             rb, rd, eb, ed,
             sum(coalesce(n_base, 0)) OVER () AS tb,
             sum(coalesce(n_delta, 0)) OVER () AS td
      FROM cells LEFT JOIN agg ON cells.cid = agg.cid
    )
    SELECT cid, n_base, n_delta,
           CAST(CASE WHEN n_base > 0 THEN rb // n_base END AS BIGINT)
             AS base_res_ppm,
           CAST(CASE WHEN n_delta > 0 THEN rd // n_delta END AS BIGINT)
             AS delta_res_ppm,
           CAST(CASE WHEN n_base > 0 THEN eb // n_base END AS BIGINT)
             AS base_err_ppm,
           CAST(CASE WHEN n_delta > 0 THEN ed // n_delta END AS BIGINT)
             AS delta_err_ppm,
           CAST((n_delta * 1000000) // td - (n_base * 1000000) // tb
             AS BIGINT) AS share_shift_ppm,
           (n_delta > 0) AND (
             coalesce(CASE WHEN n_delta > 0 THEN rd // n_delta END >
                      CASE WHEN n_base > 0 THEN rb // n_base END
                        + {_DRIFT_RES_MARGIN_PPM}, TRUE)
             OR coalesce(CASE WHEN n_delta > 0 THEN ed // n_delta END >
                      CASE WHEN n_base > 0 THEN eb // n_base END
                        + {_DRIFT_ERR_MARGIN_PPM}, TRUE)
             OR abs((n_delta * 1000000) // td - (n_base * 1000000) // tb)
                  > {_DRIFT_SHARE_MARGIN_PPM}) AS retrain
    FROM filled
    """


@query("q234_ivfpq_append", oracle=_ivfpq_append_oracle())
def q234_ivfpq_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of the COMPOSED index: the vec_id < 100
    crawl delta is celled AND coded in one pass against the existing
    injected centroids/codebooks (q233's exact layout), and the
    per-cell certificate carries both staleness signals — assignment
    residual (coarse quantizer) and total PQ quantization error (fine
    quantizer) — plus occupancy share shift and the retrain gate.
    Every value integer-exact and value-hash-checked."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _injected_rows(emb, _APPEND_IVF_LO, _IVF_TWIN_CELLS)
    books = _injected_books(emb, _APPEND_PQ_LO, _APPEND_PQ_KSUB)
    base = emb.filter(F.col("vec_id") >= _APPEND_DELTA_HI)
    delta = emb.filter(F.col("vec_id") < _APPEND_DELTA_HI)
    _, cert = ivfpq_append(base, delta, "vec_id", "embedding",
                           cents, books)
    return cert


# ---------------------------------------------------------------------------
# Two-level (coarse-quantized) IVF assignment — the fix for the ONE
# quadratic the round-12 100x probe ladder actually caught: flat
# assignment scores every vector against every centroid (N*C dots),
# and when the codebook grows with the corpus (C ~ N/cell_size, the
# honest staging), that is N^2 — measured 296x wall at 100x copies
# for the banded margin miner, entirely in its assignment stage.
# The standard remedy (FAISS's coarse quantizer / IMI): pick C/stride
# SUPER-centroids, map each centroid to its nearest super (C*C/stride
# dots, centroid-side, tiny), route each vector through its top
# nprobe_super supers and score only the centroids in those groups:
#
#     flat:   N * C
#     coarse: N * (C/stride + nprobe_super * E[group])   ~ N * 2*sqrt(pC)
#
# Exactness: the SAME floor(dot/sqrt(d*d')*1e6) integer cosine as the
# margin family at every level, deterministic tiebreaks (cid, sid) —
# the whole routing is value-hash-checkable SQL (q327).
def _ci_expr(q1: str, d1: str, q2: str, d2: str) -> Column:
    dot = F.aggregate(
        F.zip_with(q1, q2, lambda x, y: x * y),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    return F.floor(
        dot / F.sqrt((F.col(d1) * F.col(d2)).cast("double"))
        * F.lit(1e6)).cast("long")


def _dense_cells(centroids: DataFrame, id_col: str,
                 vec_col: str) -> DataFrame:
    """(__cid, __qb, __db): the quantized centroid frame with dense
    0-based cell ids in centroid-id order (zero norms dropped)."""
    c = _margin_quant(centroids, id_col, vec_col, "__cid", "__qb", "__db")
    return c.withColumn(
        "__cid", F.row_number().over(Window.orderBy("__cid")) - 1)


def _coarse_route(v: DataFrame, c: DataFrame, out_id: str, qname: str,
                  dname: str, stride: int, nprobe_super: int,
                  nprobe: int) -> DataFrame:
    """Two-level routing of a quantized frame `v` (out_id, qname,
    dname) through the dense-cid centroid frame `c` (__cid, __qb,
    __db): (out_id, qname, dname, __cid, __ci, rank) for each vector's
    top-`nprobe` cells among the centroids reachable through its
    `nprobe_super` nearest super-centroids (every stride-th centroid).
    `qname`/`dname` must not be __qb/__db, which name the centroid
    side."""
    supers = (c.filter(F.col("__cid") % stride == 0)
              .select(F.col("__cid").alias("__sid"),
                      F.col("__qb").alias("__qs"),
                      F.col("__db").alias("__ds")))
    # centroid -> its one super (C x C/stride, both broadcast-small)
    ws = Window.partitionBy("__cid").orderBy(
        F.desc("__sci"), F.asc("__sid"))
    cmap = (c.crossJoin(F.broadcast(supers))
            .withColumn("__sci", _ci_expr("__qb", "__db",
                                          "__qs", "__ds"))
            .withColumn("__rk", F.row_number().over(ws))
            .filter(F.col("__rk") == 1)
            .select("__cid", "__qb", "__db", "__sid"))
    # vector -> top nprobe_super supers (N x C/stride)
    wv = Window.partitionBy(out_id).orderBy(
        F.desc("__vci"), F.asc("__sid"))
    vsup = (v.crossJoin(F.broadcast(supers))
            .withColumn("__vci", _ci_expr(qname, dname, "__qs", "__ds"))
            .withColumn("__rk", F.row_number().over(wv))
            .filter(F.col("__rk") <= nprobe_super)
            .select(out_id, qname, dname, "__sid"))
    # vector -> cells within its routed groups -> top nprobe
    wc = Window.partitionBy(out_id).orderBy(
        F.desc("__ci"), F.asc("__cid"))
    return (vsup.join(F.broadcast(cmap), "__sid")
            .withColumn("__ci", _ci_expr(qname, dname, "__qb", "__db"))
            .withColumn("rank", F.row_number().over(wc))
            .filter(F.col("rank") <= nprobe))


def ivf_coarse_assign(vectors: DataFrame, centroids: DataFrame,
                      id_col: str, vec_col: str, stride: int = 8,
                      nprobe_super: int = 2,
                      nprobe: int = _MARGIN_IVF_PROBE) -> DataFrame:
    """(vec id, cid, ci, rank): each vector's top-`nprobe` cells among
    the centroids reachable through its `nprobe_super` nearest
    super-centroids (every stride-th centroid by dense cid) — the
    ``_coarse_route`` rows, projected.  The routing can miss a true
    nearest cell when quantization disagrees across levels — the
    documented recall trade every coarse quantizer makes; tests/probes
    measure the agreement.  Zero-norm vectors and centroids are
    dropped (the _margin_quant contract)."""
    if stride < 1:
        raise ValueError("stride must be >= 1")
    a = _margin_quant(vectors, id_col, vec_col, "__vid", "__qa", "__da")
    c = _dense_cells(centroids, id_col, vec_col)
    return (_coarse_route(a, c, "__vid", "__qa", "__da", stride,
                          nprobe_super, nprobe)
            .select(F.col("__vid").alias(id_col),
                    F.col("__cid").alias("cid"),
                    F.col("__ci").alias("ci"),
                    F.col("rank").cast("long").alias("rank")))


_COARSE_LO = 100          # q327's injected codebook: embeddings [100, 164)
_COARSE_CELLS = 64
_COARSE_STRIDE = 8
_COARSE_PSUPER = 2
_COARSE_PROBE = 2


def _coarse_oracle() -> str:
    vc = _ci_sql("v", "s", qb="sqv", db="sd")
    cc = _ci_sql("c", "s", qa="cqv", da="cd", qb="sqv", db="sd")
    xc = _ci_sql("v", "m", qb="cqv", db="cd")
    return f"""
    WITH {_quant_sql()},
    v AS (SELECT vec_id, qv, d FROM n WHERE d > 0),
    {_dense_cent_sql(_COARSE_LO, _COARSE_CELLS)},
    sup AS (
      SELECT cid AS sid, cqv AS sqv, cd AS sd FROM cent
      WHERE cid % {_COARSE_STRIDE} = 0
    ),
    cmap AS (
      SELECT cid, cqv, cd, sid FROM (
        SELECT c.cid, c.cqv, c.cd, s.sid,
               row_number() OVER (PARTITION BY c.cid
                    ORDER BY {cc} DESC, s.sid) AS rk
        FROM cent c, sup s
      ) WHERE rk = 1
    ),
    vsup AS (
      SELECT vec_id, qv, d, sid FROM (
        SELECT v.vec_id, v.qv, v.d, s.sid,
               row_number() OVER (PARTITION BY v.vec_id
                    ORDER BY {vc} DESC, s.sid) AS rk
        FROM v, sup s
      ) WHERE rk <= {_COARSE_PSUPER}
    ),
    cand AS (
      SELECT v.vec_id, m.cid, {xc} AS ci
      FROM vsup v JOIN cmap m USING (sid)
    )
    SELECT vec_id, CAST(cid AS BIGINT) AS cid, ci,
           CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT vec_id, cid, ci,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY ci DESC, cid) AS rank
      FROM cand
    ) WHERE rank <= {_COARSE_PROBE}
    """


@query("q327_ivf_coarse_assign", oracle=_coarse_oracle())
def q327_ivf_coarse_assign(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Two-level IVF routing over a 64-cell injected codebook
    (embeddings [100,164), stride 8 -> 8 supers, 2 probed supers, 2
    cells kept) — the N*C -> N*2*sqrt(pC) assignment fix the 100x
    probe ladder demanded; every (vec_id, cid, ci, rank) routing row
    value-hash-checked."""
    emb = load_table(spark, sf_dir, "embeddings")
    hi = _COARSE_LO + _COARSE_CELLS
    cents = emb.filter((F.col("vec_id") >= _COARSE_LO)
                       & (F.col("vec_id") < hi))
    out = ivf_coarse_assign(
        emb, cents, "vec_id", "embedding", stride=_COARSE_STRIDE,
        nprobe_super=_COARSE_PSUPER, nprobe=_COARSE_PROBE)
    return out.select("vec_id", F.col("cid").cast("long").alias("cid"),
                      "ci", "rank")
