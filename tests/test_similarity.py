"""Similarity search: brute-force exactness vs numpy; SRP-LSH recall."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from auto_ml_platform_with_timeseries_data_spark.operators import similarity as sim
from auto_ml_platform_with_timeseries_data_spark.tables import load_table


def _emb_df(spark, n=60, dim=8, seed=3):
    rng = np.random.default_rng(seed)
    vecs = rng.normal(size=(n, dim))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>"), vecs


def test_bruteforce_topk_matches_numpy(spark):
    df, vecs = _emb_df(spark)
    queries = df.filter(df.vec_id < 3)
    got = sim.cosine_topk_bruteforce(df, queries, "vec_id", "embedding", k=4)
    got_map: dict[int, list[int]] = {}
    for r in got.orderBy("query_id", "rank").collect():
        got_map.setdefault(r["query_id"], []).append(r["neighbor_id"])
    norms = np.linalg.norm(vecs, axis=1)
    cos = (vecs @ vecs.T) / np.outer(norms, norms)
    for q in range(3):
        scores = cos[q].copy()
        scores[q] = -np.inf  # exclude self
        want = list(np.argsort(-scores)[:4])
        assert got_map[q] == want, (q, got_map[q], want)


def test_srp_ann_recall_reasonable(spark):
    df, vecs = _emb_df(spark, n=120)
    queries = df.filter(df.vec_id < 5)
    exact = sim.cosine_topk_bruteforce(df, queries, "vec_id", "embedding", k=5)
    approx = sim.cosine_topk_srp(df, queries, "vec_id", "embedding", k=5,
                                 nbits=4, ntables=8)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    # SRP with 8 tables × 4 bits on random data: expect decent overlap
    assert len(a & e) / len(e) >= 0.4


def test_cosine_self_similarity_excluded_and_bounded(spark):
    df, _ = _emb_df(spark, n=20)
    out = sim.cosine_topk_bruteforce(df, df.limit(2), "vec_id", "embedding", k=3)
    rows = out.collect()
    assert all(r["neighbor_id"] != r["query_id"] for r in rows)
    assert all(-1.0 - 1e-9 <= r["cosine"] <= 1.0 + 1e-9 for r in rows)


def test_embedding_neardup_matches_numpy(spark):
    df, vecs = _emb_df(spark, n=40)
    got = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in sim.embedding_neardup_pairs(df, "vec_id", "embedding",
                                                threshold=0.5).collect()}
    norms = np.linalg.norm(vecs, axis=1)
    cos = np.round((vecs @ vecs.T) / np.outer(norms, norms), 6)
    want = {(a, b): cos[a, b] for a in range(40) for b in range(a + 1, 40)
            if cos[a, b] >= 0.5}
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9


def test_ivf_ann_recall_reasonable(spark):
    df, vecs = _emb_df(spark, n=120)
    queries = df.filter(df.vec_id < 5)
    exact = sim.cosine_topk_bruteforce(df, queries, "vec_id", "embedding", k=5)
    approx = sim.cosine_topk_ivf(df, queries, "vec_id", "embedding", k=5,
                                 ncells=8, nprobe=4)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    # probing half the cells on random data: expect decent overlap
    assert len(a & e) / len(e) >= 0.4
    # every returned neighbor must carry its EXACT cosine (rescore step)
    for r in approx.collect():
        c = np.dot(vecs[r["query_id"]], vecs[r["neighbor_id"]]) / (
            np.linalg.norm(vecs[r["query_id"]]) * np.linalg.norm(vecs[r["neighbor_id"]]))
        assert abs(r["cosine"] - round(float(c), 6)) < 1e-9


def test_quantize_int8_zero_vector_and_range(spark):
    from auto_ml_platform_with_timeseries_data_spark.operators.similarity import (
        quantize_embeddings_int8,
    )

    emb = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r for r in
           quantize_embeddings_int8(emb, "vec_id", "embedding").collect()}
    assert got[1]["q"] == [127, -63, 32, 0]      # floor(x*127+0.5)
    assert got[1]["scale"] == 127.0
    assert all(-127 <= v <= 127 for v in got[1]["q"])
    assert got[2]["q"] == [0, 0, 0, 0]           # zero vector: scale guard
    assert got[2]["mse"] == 0.0


def test_multiprobe_srp_lifts_recall(spark, sf_dir):
    """Query-directed multiprobe (flip lowest-|margin| bits) must beat
    single-probe recall at the same nbits×ntables dial."""
    from auto_ml_platform_with_timeseries_data_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_srp,
    )
    from auto_ml_platform_with_timeseries_data_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qdf = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk_bruteforce(emb, qdf, "vec_id", "embedding", 5).select(
        "query_id", "neighbor_id").cache()
    total = exact.count()

    def recall(nprobes):
        approx = cosine_topk_srp(emb, qdf, "vec_id", "embedding", 5,
                                 nbits=6, ntables=16, nprobes=nprobes)
        return exact.join(approx.select("query_id", "neighbor_id"),
                          ["query_id", "neighbor_id"]).count() / total

    r1, r4 = recall(1), recall(4)
    exact.unpersist()
    assert r4 > r1
    assert r4 >= 0.9  # measured 0.98 at sf0.01 on uniform-random vectors


def test_multiprobe_is_superset_of_single_probe(spark, sf_dir):
    """Extra probes only ADD candidate buckets: with k larger than the
    corpus (so top-k never truncates), the multiprobe candidate set
    must contain every single-probe candidate, with identical scores."""
    from auto_ml_platform_with_timeseries_data_spark.operators.similarity import (
        cosine_topk_srp,
    )
    from auto_ml_platform_with_timeseries_data_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qdf = emb.filter(F.col("vec_id") < 5)
    big_k = emb.count() + 1  # top-k can never truncate a candidate
    one = {(r["query_id"], r["neighbor_id"]): r["cosine"]
           for r in cosine_topk_srp(emb, qdf, "vec_id", "embedding", big_k,
                                    nbits=8, ntables=4,
                                    nprobes=1).collect()}
    many = {(r["query_id"], r["neighbor_id"]): r["cosine"]
            for r in cosine_topk_srp(emb, qdf, "vec_id", "embedding", big_k,
                                     nbits=8, ntables=4,
                                     nprobes=6).collect()}
    assert one, "single-probe produced no candidates — dial too sparse"
    # non-strict: probes may only ADD buckets (equality is legal when
    # every near pair already shares a primary bucket)
    assert set(one) <= set(many)
    for pair, cos in one.items():
        assert many[pair] == cos


def test_lsh_neardup_subset_of_exact_with_high_recall(spark, sf_dir):
    """The LSH path rescores exactly, so found ⊆ exact (precision 1);
    at the q134 dial recall is 1.0 on the fixture."""
    from auto_ml_platform_with_timeseries_data_spark.operators.similarity import (
        embedding_neardup_pairs,
        embedding_neardup_pairs_lsh,
    )
    from auto_ml_platform_with_timeseries_data_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {(r["id_a"], r["id_b"]): r["cosine"]
             for r in embedding_neardup_pairs(
                 emb, "vec_id", "embedding", 0.4).collect()}
    approx = {(r["id_a"], r["id_b"]): r["cosine"]
              for r in embedding_neardup_pairs_lsh(
                  emb, "vec_id", "embedding", 0.4,
                  nbits=6, ntables=16, nprobes=2).collect()}
    assert set(approx) <= set(exact)                    # precision 1
    assert len(approx) >= 0.9 * len(exact)              # recall floor
    for k, v in approx.items():
        assert v == exact[k]                            # identical scores


def test_pq_ann_recall_reasonable(spark):
    df, vecs = _emb_df(spark, n=120)
    queries = df.filter(df.vec_id < 5)
    exact = sim.cosine_topk_bruteforce(df, queries, "vec_id", "embedding",
                                       k=5)
    approx = sim.cosine_topk_pq(df, queries, "vec_id", "embedding", k=5,
                                nsub=4, ksub=32, refine=8)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(a & e) / len(e) >= 0.6


def test_pq_encode_codes_shape_and_range(spark):
    df, _ = _emb_df(spark, n=40)
    books = sim._pq_train(df, "embedding", nsub=4, ksub=8, iters=1)
    codes = sim.pq_encode(df, "vec_id", "embedding", books).collect()
    assert len(codes) == 40
    for r in codes:
        assert len(r["codes"]) == 4
        assert all(0 <= c < 8 for c in r["codes"])


def test_semdedup_planted_clusters(spark):
    """Two tight semantic groups + a singleton, separable cells: each
    group keeps exactly its min-id member, the singleton is kept, and
    dup_of points at the group minimum (lower-id contract)."""
    import numpy as np

    from auto_ml_platform_with_timeseries_data_spark.operators.similarity import (
        semdedup,
    )

    a = [1.0, 0.0, 0.0, 0.0]
    b = [0.0, 1.0, 0.0, 0.0]
    c = [0.0, 0.0, 1.0, 0.0]
    jit = [0.99, 0.01, 0.0, 0.0]     # cosine(a, jit) ≈ 0.9999
    jit2 = [0.0, 0.98, 0.02, 0.0]    # cosine(b, jit2) ≈ 0.9998
    rows = [(1, a), (2, jit), (3, b), (4, jit2), (5, c), (6, jit)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = np.array([a, b, c], dtype=np.float64)
    got = {r["vec_id"]: r for r in
           semdedup(df, "vec_id", "embedding", threshold=0.9,
                    centroids=cents).collect()}
    assert got[1]["status"] == "kept" and got[1]["dup_of"] is None
    assert got[2]["status"] == "dup" and got[2]["dup_of"] == 1
    assert got[3]["status"] == "kept"
    assert got[4]["status"] == "dup" and got[4]["dup_of"] == 3
    assert got[5]["status"] == "kept"
    assert got[6]["status"] == "dup" and got[6]["dup_of"] == 1  # min id, not 2


def test_margin_mining_matches_python_reference(spark):
    """The integer-quantized margin pipeline equals a direct numpy/
    python reimplementation on a planted bilingual fixture (one true
    aligned pair per source vector + distractors)."""
    import numpy as np

    from auto_ml_platform_with_timeseries_data_spark.operators.similarity import (
        margin_mine_pairs,
    )

    rng = np.random.RandomState(7)
    dim = 8
    base = rng.randn(6, dim)
    rows = []
    for i in range(6):
        v = base[i] / np.linalg.norm(base[i])
        rows.append((2 * i, [float(x) for x in v]))            # src (even)
        w = v + 0.05 * rng.randn(dim)
        w = w / np.linalg.norm(w)
        rows.append((2 * i + 1, [float(x) for x in w]))        # tgt (odd)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    src = df.filter("vec_id % 2 = 0")
    tgt = df.filter("vec_id % 2 = 1")
    got = {(r["src_id"], r["tgt_id"]): r["margin"] for r in
           margin_mine_pairs(src, tgt, "vec_id", "embedding",
                             k=2, margin=1.0).collect()}

    # python reference with the same quantization contract
    import math
    q = {r[0]: [math.floor(x * 1024.0) for x in r[1]] for r in rows}
    d = {i: sum(x * x for x in qv) for i, qv in q.items()}
    ci = {}
    for a in range(0, 12, 2):
        for b in range(1, 12, 2):
            dotv = sum(x * y for x, y in zip(q[a], q[b]))
            ci[(a, b)] = math.floor(dotv / math.sqrt(float(d[a] * d[b]))
                                    * 1e6)
    ka = {a: sorted(((-ci[(a, b)], b) for b in range(1, 12, 2)))[:2]
          for a in range(0, 12, 2)}
    kb = {b: sorted(((-ci[(a, b)], a) for a in range(0, 12, 2)))[:2]
          for b in range(1, 12, 2)}
    expect = {}
    for a in range(0, 12, 2):
        sa = sum(-c for c, _ in ka[a])
        for negc, b in ka[a]:
            sb = sum(-c for c, _ in kb[b])
            if sa + sb <= 0:
                continue
            mg = math.floor((-negc) * 4.0 / (sa + sb) * 1e6 + 0.5) / 1e6
            if mg >= 1.0:
                expect[(a, b)] = mg
    assert got == expect
    # every source's true partner is mined (planted alignment)
    assert all((2 * i, 2 * i + 1) in got for i in range(6))


def test_zero_norm_vectors_drop_from_rankings(spark):
    """A zero vector has no defined cosine: it scores NULL (never an
    ANSI divide error) and sorts after every real neighbor."""
    from auto_ml_platform_with_timeseries_data_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 0.0])],
        "vec_id long, embedding array<float>")
    rows = cosine_topk_bruteforce(vecs, vecs, "vec_id", "embedding",
                                  k=2).collect()
    q1 = sorted([r for r in rows if r["query_id"] == 1],
                key=lambda r: r["rank"])
    assert q1[0]["neighbor_id"] == 2          # real neighbor outranks
    assert q1[1]["neighbor_id"] == 3 and q1[1]["cosine"] is None


# two zero-norm vectors next to a near-duplicate pair (cosine 0.995037)
_ZERO_NORM_ROWS = [(1, [0.0] * 8), (2, [0.0] * 8),
                   (3, [1.0] + [0.0] * 7), (4, [1.0, 0.1] + [0.0] * 6)]


def _zero_norm_corpus(spark):
    return spark.createDataFrame(_ZERO_NORM_ROWS,
                                 "vec_id long, embedding array<double>")


def test_lsh_neardup_skips_zero_norm_vectors_like_exact(spark):
    """Zero-norm vectors share every SRP bucket; their candidate pair
    scores NULL and drops out (no ANSI divide error), exactly as the
    exact block-matrix path skips them."""
    emb = _zero_norm_corpus(spark)
    exact = [tuple(r) for r in sim.embedding_neardup_pairs(
        emb, "vec_id", "embedding", threshold=0.9).collect()]
    lsh = [tuple(r) for r in sim.embedding_neardup_pairs_lsh(
        emb, "vec_id", "embedding", threshold=0.9).collect()]
    assert exact == [(3, 4, 0.995037)]
    assert lsh == exact


def test_pq_zero_norm_query_and_injected_nsub_match_bruteforce(spark):
    """With refine·k covering the corpus, PQ's exact rescore sees every
    candidate, so its rows equal brute force's — zero-norm queries
    included (NULL cosines ranked by id, never NaN ranked first). The
    injected codebooks have 2 subspaces, not the default nsub of 8:
    nsub comes from the codebooks."""
    emb = _zero_norm_corpus(spark)
    books = np.array([[[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]] * 2)
    pq = sim.cosine_topk_pq(emb, emb, "vec_id", "embedding", k=3,
                            refine=2, codebooks=books).collect()
    bf = sim.cosine_topk_bruteforce(emb, emb, "vec_id", "embedding",
                                    k=3).collect()
    assert sorted(map(tuple, pq)) == sorted(map(tuple, bf))
    q1 = sorted((r for r in pq if r["query_id"] == 1),
                key=lambda r: r["rank"])
    assert [(r["neighbor_id"], r["cosine"]) for r in q1] == [
        (2, None), (3, None), (4, None)]


def test_ivf_append_certificate_planted_drift(spark):
    """ivf_append: index covers base+delta, certificate occupancies
    reconcile, and a delta batch concentrated FAR from the trained
    centroids fires the retrain flag (planted drift), while an
    in-distribution delta does not."""
    dim = 8
    e0 = [1.0] + [0.0] * (dim - 1)
    e1 = [0.0, 1.0] + [0.0] * (dim - 2)
    cents = np.array([e0, e1])
    base_rows = []
    for i in range(20):  # near e0 / e1 alternately — residual ~0
        v = [float(x) for x in cents[i % 2] * 5.0]
        v[4] = 0.01 * (i % 3)
        base_rows.append((100 + i, v))
    base = spark.createDataFrame(base_rows,
                                 "vec_id long, embedding array<double>")
    # drift: every delta vector sits diagonal to both centroids
    diag = [1.0, 1.0, 1.0, 1.0] + [0.0] * (dim - 4)
    delta = spark.createDataFrame([(i, diag) for i in range(10)],
                                  "vec_id long, embedding array<double>")
    index, cert = sim.ivf_append(base, delta, "vec_id", "embedding", cents)
    assert index.count() == 30
    rows = {r["cid"]: r for r in cert.collect()}
    assert set(rows) == {0, 1}
    assert sum(r["n_base"] for r in rows.values()) == 20
    assert sum(r["n_delta"] for r in rows.values()) == 10
    # all deltas land in cell 0 (tie on cos → lowest cid) with cos
    # 1/2 → residual 500000 ppm >> base residual → retrain fires
    assert rows[0]["n_delta"] == 10
    assert rows[0]["retrain"] is True
    assert rows[1]["retrain"] is False  # no delta members
    assert rows[0]["delta_res_ppm"] == 500000

    # in-distribution delta: same generator as base → no retrain
    good = spark.createDataFrame(
        [(i, [float(x) for x in cents[i % 2] * 3.0]) for i in range(10)],
        "vec_id long, embedding array<double>")
    _, cert2 = sim.ivf_append(base, good, "vec_id", "embedding", cents)
    assert all(not r["retrain"] for r in cert2.collect())


def test_ivf_append_zero_vector_null_by_contract(spark):
    """A zero delta vector has no defined cosine: it still counts in
    occupancy (it was appended) but its residual is NULL-by-contract
    and excluded from the mean — no ANSI division crash."""
    cents = np.array([[1.0, 0.0], [0.0, 1.0]])
    base = spark.createDataFrame([(100, [2.0, 0.0])],
                                 "vec_id long, embedding array<double>")
    delta = spark.createDataFrame([(0, [0.0, 0.0]), (1, [3.0, 0.0])],
                                  "vec_id long, embedding array<double>")
    _, cert = sim.ivf_append(base, delta, "vec_id", "embedding", cents)
    rows = {r["cid"]: r for r in cert.collect()}
    assert rows[0]["n_delta"] == 2          # zero vector appended to cell 0
    assert rows[0]["delta_res_ppm"] == 0    # mean over the non-NULL member


def test_pq_append_certificate_shape_and_drift(spark):
    """pq_append: codes cover base+delta with nsub codes each, the
    certificate is the full (subspace, codeword) grid with reconciling
    occupancies, and an out-of-distribution delta fires retrain."""
    rng = np.random.default_rng(7)
    nsub, ksub, dim = 2, 4, 8
    seeds = rng.normal(size=(ksub, dim))
    seeds /= np.linalg.norm(seeds, axis=1, keepdims=True)
    books = seeds.reshape(ksub, nsub, dim // nsub).transpose(1, 0, 2).copy()
    base = spark.createDataFrame(
        [(100 + i, [float(x) for x in seeds[i % ksub] * 2.0])
         for i in range(16)],
        "vec_id long, embedding array<double>")
    delta = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=dim) * 9.0])
         for i in range(6)],
        "vec_id long, embedding array<double>")
    codes, cert = sim.pq_append(base, delta, "vec_id", "embedding", books)
    got = codes.collect()
    assert len(got) == 22 and all(len(r["codes"]) == nsub for r in got)
    rows = cert.collect()
    assert len(rows) == nsub * ksub
    for s in range(nsub):
        srows = [r for r in rows if r["s"] == s]
        assert sum(r["n_base"] for r in srows) == 16
        assert sum(r["n_delta"] for r in srows) == 6
    # base vectors are exact codewords → base_err_ppm == 0 where occupied
    assert all(r["base_err_ppm"] == 0 for r in rows if r["n_base"] > 0)
    # random delta cannot be exactly codeword-aligned → some retrain
    assert any(r["retrain"] for r in rows)


def test_ivfpq_full_probe_equals_bruteforce(spark):
    """With nprobe = ncells (no cell ever pruned) and refine·k ≥ corpus
    (no candidate ever cut), the composed IVF-PQ search degenerates to
    the exact rescore of everything — it must reproduce brute force
    exactly, rank for rank. This pins the composition end to end:
    encode, cell mask, ADC ranking, candidate window, rescore."""
    rng = np.random.default_rng(11)
    dim, n = 8, 40
    vecs = rng.normal(size=(n, dim))
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<double>")
    queries = corpus.filter(F.col("vec_id") < 3)
    cents = np.array(vecs[:4])
    seeds = vecs[10:14] / np.linalg.norm(vecs[10:14], axis=1,
                                         keepdims=True)
    books = seeds.reshape(4, 2, dim // 2).transpose(1, 0, 2).copy()
    got = sim.cosine_topk_ivfpq(
        corpus, queries, "vec_id", "embedding", k=4,
        nprobe=4, refine=n, centroids=cents, codebooks=books).collect()
    want = sim.cosine_topk_bruteforce(
        corpus, queries, "vec_id", "embedding", k=4).collect()
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    got, want = sorted(got, key=key), sorted(want, key=key)
    assert [(r["query_id"], r["rank"], r["neighbor_id"], r["cosine"])
            for r in got] == \
           [(r["query_id"], r["rank"], r["neighbor_id"], r["cosine"])
            for r in want]


def test_ivfpq_pruning_scores_probed_cells_only(spark):
    """A neighbor in an unprobed cell must NOT appear even when k
    leaves room for it: plant a would-be top-2 neighbor in the other
    cell and give the query nprobe=1."""
    e0 = [1.0, 0.0, 0.0, 0.0]
    e1 = [0.0, 1.0, 0.0, 0.0]
    cents = np.array([e0, e1])
    # vec 2 would make brute force's top-2 (k=2 leaves room for it),
    # but it assigns to cell 1 (cos 0.8 to e1 vs 0.6 to e0) — outside
    # the query's single probed cell
    corpus = spark.createDataFrame(
        [(0, e0), (1, [0.9, 0.1, 0.0, 0.0]), (2, [0.6, 0.8, 0.0, 0.0])],
        "vec_id long, embedding array<double>")
    seeds = np.array([[1.0, 0.0], [0.0, 1.0]])
    books = np.stack([seeds, seeds])          # nsub=2, ksub=2, subdim=2
    got = sim.cosine_topk_ivfpq(
        corpus, corpus.filter(F.col("vec_id") == 0), "vec_id",
        "embedding", k=2, nprobe=1, refine=10,
        centroids=cents, codebooks=books).collect()
    # vec 2 assigns to cell 1 (cos 0.8 vs 0.6), the query probes only
    # cell 0 → only vec 1 can be returned
    assert [r["neighbor_id"] for r in got] == [1]


def test_ivfpq_append_certificate_planted_drift(spark):
    """ivfpq_append: the appended index covers base+delta with cells
    AND nsub codes each; occupancies reconcile per cell; a delta far
    from both quantizers fires retrain while an in-distribution delta
    does not; base vectors that ARE unit codewords have zero
    quantization error."""
    dim, nsub, ksub = 8, 2, 4
    e0 = np.array([1.0] + [0.0] * (dim - 1))
    e1 = np.array([0.0, 1.0] + [0.0] * (dim - 2))
    cents = np.stack([e0, e1])
    rng = np.random.default_rng(3)
    seeds = rng.normal(size=(ksub, dim))
    seeds /= np.linalg.norm(seeds, axis=1, keepdims=True)
    books = seeds.reshape(ksub, nsub, dim // nsub).transpose(1, 0, 2).copy()
    # base = the unit codeword seeds themselves (scaled — unit-norm
    # erases the scale), biased toward e0/e1 so cells are occupied
    base_rows = [(100 + i, [float(x) for x in seeds[i % ksub] * 2.0])
                 for i in range(12)]
    base = spark.createDataFrame(base_rows,
                                 "vec_id long, embedding array<double>")
    good = spark.createDataFrame(base_rows[:6],
                                 "vec_id long, embedding array<double>")
    index, cert = sim.ivfpq_append(base, good.withColumn(
        "vec_id", F.col("vec_id") - 100), "vec_id", "embedding",
        cents, books)
    rows = index.collect()
    assert len(rows) == 18
    assert all(len(r["codes"]) == nsub for r in rows)
    crows = cert.collect()
    assert len(crows) == 2
    assert sum(r["n_base"] for r in crows) == 12
    assert sum(r["n_delta"] for r in crows) == 6
    # identical distribution: codes exact (err 0 both sides), residual
    # equal → no retrain anywhere
    for r in crows:
        if r["n_base"] > 0:
            assert r["base_err_ppm"] == 0
        assert not r["retrain"]
    # drifted delta: diagonal vectors far from every codeword and
    # centroid → quantization error and residual both blow up
    diag = [float(1.0)] * dim
    bad = spark.createDataFrame([(i, diag) for i in range(5)],
                                "vec_id long, embedding array<double>")
    _, cert2 = sim.ivfpq_append(base, bad, "vec_id", "embedding",
                                cents, books)
    assert any(r["retrain"] for r in cert2.collect())


def test_ivfpq_stored_index_partition_pruning(spark, tmp_path):
    """The stored composed index is partitioned by cell, and the
    search's probe-cell filter becomes literal partition pruning: the
    physical scan carries PartitionFilters on `cell`, and a search over
    the stored index returns exactly what the in-memory path returns."""
    rng = np.random.default_rng(23)
    dim, n = 8, 48
    vecs = rng.normal(size=(n, dim))
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<double>")
    queries = corpus.filter(F.col("vec_id") < 2)
    cents = np.array(vecs[:4])
    seeds = vecs[10:14] / np.linalg.norm(vecs[10:14], axis=1,
                                         keepdims=True)
    books = seeds.reshape(4, 2, dim // 2).transpose(1, 0, 2).copy()

    index = sim.ivfpq_encode(corpus, "vec_id", "embedding", cents, books)
    path = str(tmp_path / "ivfpq_index")
    sim.ivfpq_store(index, path)
    loaded = spark.read.parquet(path)

    kwargs = dict(k=3, nprobe=2, refine=8,
                  centroids=cents, codebooks=books)
    from_store = sim.cosine_topk_ivfpq(
        corpus, queries, "vec_id", "embedding",
        index=loaded, **kwargs)
    rows_store = from_store.collect()
    rows_mem = sim.cosine_topk_ivfpq(
        corpus, queries, "vec_id", "embedding", **kwargs).collect()
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    assert sorted(map(tuple, rows_store), key=lambda t: (t[0], t[2])) \
        == sorted(map(tuple, rows_mem), key=lambda t: (t[0], t[2]))

    # the probe filter must reach the file source as a partition
    # filter (directory pruning), not a post-scan row filter — the
    # detail sections live in the full formatted plan
    from auto_ml_platform_with_timeseries_data_spark.plans import explain
    plan = explain.formatted_plan(from_store)
    pf_lines = [ln for ln in plan.splitlines()
                if "PartitionFilters" in ln]
    assert pf_lines and any("cell" in ln for ln in pf_lines), pf_lines


def test_margin_mining_banded_equals_full_on_clustered_data(spark):
    """With well-separated planted clusters and in-cell true
    neighborhoods, the IVF-banded scale path must mine EXACTLY the
    all-pairs kernel's result — banding may only differ through
    candidate coverage, and here every true neighbor shares the src's
    own cell."""
    import numpy as np

    from auto_ml_platform_with_timeseries_data_spark.operators.similarity import (
        margin_mine_pairs,
        margin_mine_pairs_banded,
    )

    rng = np.random.RandomState(11)
    dim = 8
    centers = np.eye(4, dim) * 10.0          # 4 orthogonal clusters
    rows, cent_rows = [], []
    nid = 0
    for c in range(4):
        cent_rows.append((100 + c, [float(x) for x in centers[c]]))
        for _ in range(3):                    # 3 src + 3 tgt per cluster
            for parity in (0, 1):
                v = centers[c] + 0.1 * rng.randn(dim)
                rows.append((2 * nid + parity, [float(x) for x in v]))
            nid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        cent_rows, "vec_id long, embedding array<double>")
    src = df.filter("vec_id % 2 = 0")
    tgt = df.filter("vec_id % 2 = 1")
    full = {(r["src_id"], r["tgt_id"]): r["margin"] for r in
            margin_mine_pairs(src, tgt, "vec_id", "embedding",
                              k=2, margin=1.0).collect()}
    ann = {(r["src_id"], r["tgt_id"]): r["margin"] for r in
           margin_mine_pairs_banded(src, tgt, cents, "vec_id",
                                    "embedding", k=2, margin=1.0,
                                    nprobe=2).collect()}
    assert full == ann and len(full) > 0


def test_margin_mining_banded_with_trained_centroids(spark):
    """The production configuration of q250's scale path: centroids
    come from _ivf_train's spherical k-means (not an injected slice),
    and on clustered data the trained cells recover the exact kernel's
    mining verbatim — the operator is codebook-agnostic, so the
    SQL-exact injected-cell oracle certifies the same code the trained
    path runs."""
    import numpy as np

    from auto_ml_platform_with_timeseries_data_spark.operators.similarity import (
        _ivf_train,
        margin_mine_pairs,
        margin_mine_pairs_banded,
    )

    rng = np.random.RandomState(23)
    dim = 8
    centers = np.eye(4, dim) * 10.0
    rows = []
    nid = 0
    for c in range(4):
        for _ in range(4):                    # 4 src + 4 tgt per cluster
            for parity in (0, 1):
                v = centers[c] + 0.1 * rng.randn(dim)
                rows.append((2 * nid + parity, [float(x) for x in v]))
            nid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    src = df.filter("vec_id % 2 = 0")
    tgt = df.filter("vec_id % 2 = 1")
    cent_mat = _ivf_train(df, "embedding", ncells=4, iters=3)
    cents = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in enumerate(cent_mat)],
        "vec_id long, embedding array<double>")
    full = {(r["src_id"], r["tgt_id"]): r["margin"] for r in
            margin_mine_pairs(src, tgt, "vec_id", "embedding",
                              k=2, margin=1.0).collect()}
    ann = {(r["src_id"], r["tgt_id"]): r["margin"] for r in
           margin_mine_pairs_banded(src, tgt, cents, "vec_id",
                                    "embedding", k=2, margin=1.0,
                                    nprobe=2).collect()}
    assert full == ann and len(full) > 0


def test_margin_gate_fixture_clusters_hold_both_parities(spark, sf_dir):
    """The q267 fixture's structural contract: cluster key (vec_id div
    2) mod 8 is independent of the even/odd src-tgt split, so every
    cluster holds both sides (vec_id mod 8 would give src and tgt
    DISJOINT clusters — the bug the div-2 exists to avoid), and the
    blended vectors are cosine-tight around their anchor."""
    import numpy as np

    from auto_ml_platform_with_timeseries_data_spark.operators.similarity import (
        _MARGIN_IVF_CELLS,
        _MARGIN_IVF_LO,
        _gate_clustered,
    )
    from auto_ml_platform_with_timeseries_data_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cl = _gate_clustered(emb)
    par = (cl.groupBy(F.expr(f"(vec_id div 2) % {_MARGIN_IVF_CELLS}")
                      .alias("g"))
           .agg(F.countDistinct(F.col("vec_id") % 2).alias("np"))
           .collect())
    assert len(par) == _MARGIN_IVF_CELLS
    assert all(r["np"] == 2 for r in par)
    # in-cluster tightness: every member's cosine to its anchor beats
    # its cosine to every other anchor (so the IVF assignment is the
    # generative cluster, not noise)
    anchors = {
        r["vec_id"] - _MARGIN_IVF_LO: np.asarray(r["embedding"], float)
        for r in emb.filter(
            (F.col("vec_id") >= _MARGIN_IVF_LO)
            & (F.col("vec_id") < _MARGIN_IVF_LO + _MARGIN_IVF_CELLS))
        .collect()
    }
    for r in cl.limit(64).collect():
        v = np.asarray(r["embedding"], float)
        g = (r["vec_id"] // 2) % _MARGIN_IVF_CELLS
        cos = {c: float(v @ a / (np.linalg.norm(v) * np.linalg.norm(a)))
               for c, a in anchors.items()}
        assert max(cos, key=cos.get) == g, (r["vec_id"], g, cos)


def test_margin_gate_banded_matches_full_on_clustered_fixture(spark, sf_dir):
    """On the clustered fixture the banded miner's top-k pair set must
    equal the exact kernel's (measured agreement 1.0 — the number the
    q267 floor gate holds above 0.9)."""
    from auto_ml_platform_with_timeseries_data_spark.operators.similarity import (
        _MARGIN_IVF_CELLS,
        _MARGIN_IVF_LO,
        _gate_clustered,
        margin_mine_pairs,
        margin_mine_pairs_banded,
    )
    from auto_ml_platform_with_timeseries_data_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cl = _gate_clustered(emb)
    src = cl.filter(F.col("vec_id") % 2 == 0)
    tgt = cl.filter(F.col("vec_id") % 2 == 1)
    cents = emb.filter(
        (F.col("vec_id") >= _MARGIN_IVF_LO)
        & (F.col("vec_id") < _MARGIN_IVF_LO + _MARGIN_IVF_CELLS))
    full = {(r["src_id"], r["tgt_id"]) for r in margin_mine_pairs(
        src, tgt, "vec_id", "embedding", margin=0.0).collect()}
    ann = {(r["src_id"], r["tgt_id"]) for r in margin_mine_pairs_banded(
        src, tgt, cents, "vec_id", "embedding", margin=0.0).collect()}
    assert len(full) > 0
    assert full == ann


def test_margin_gate_query_reports_floor_ok(spark, sf_dir):
    from auto_ml_platform_with_timeseries_data_spark.operators.similarity import (
        q267_margin_agreement_gate,
    )

    row = q267_margin_agreement_gate(spark, sf_dir).collect()[0]
    assert row["floor_ok"] is True
    assert row["floor_agreement"] == 0.9


def test_margin_banded_plan_contract(spark, sf_dir):
    """q268's 100 TB shape, pinned on the executed plan: candidate
    generation is a KEYED shuffle join on the cell id — never a
    cartesian product — and the only nested-loop joins are the
    broadcasts of the 8-row centroid table (each paired with its
    BroadcastExchange build side)."""
    from auto_ml_platform_with_timeseries_data_spark.operators.similarity import (
        q268_margin_banded,
    )

    df = q268_margin_banded(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # every nested-loop join is a broadcast of the tiny centroid frame
    assert (plan.count("BroadcastNestedLoopJoin")
            == plan.count("IdentityBroadcastMode"))
    # the corpus-sized candidate join is keyed on the cell id
    assert "SortMergeJoin [__cid" in plan or "ShuffledHashJoin [__cid" in plan
    # rank windows prune to top-k BEFORE the final window (Spark 4's
    # WindowGroupLimit) — the reason recompute beats persist here
    assert "WindowGroupLimit" in plan


# ---------------------------------------------------------------------------
# Coarse (two-level) IVF routing — the assignment-quadratic fix
# ---------------------------------------------------------------------------


def test_coarse_route_agrees_with_flat_banded_margin(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 18))
    src = emb.filter(F.col("vec_id") % 2 == 0)
    tgt = emb.filter(F.col("vec_id") % 2 == 1)
    flat = {(r["src_id"], r["tgt_id"]): r["margin"]
            for r in sim.margin_mine_pairs_banded(
                src, tgt, cents, "vec_id", "embedding").collect()}
    coarse = {(r["src_id"], r["tgt_id"]): r["margin"]
              for r in sim.margin_mine_pairs_banded(
                  src, tgt, cents, "vec_id", "embedding",
                  coarse_stride=4, nprobe_super=2).collect()}
    # routing changes candidate COVERAGE, never the margin math:
    # every pair both paths mine carries the identical pinned margin
    shared = set(flat) & set(coarse)
    assert shared, "coarse path mined nothing the flat path mined"
    for p in shared:
        assert flat[p] == pytest.approx(coarse[p], abs=1e-9)
    # with 8 cells / stride 4 / 2 probed supers the route covers most
    # of the flat candidates — recall floor documented by this gate
    assert len(shared) >= 0.8 * len(flat)


def test_ivf_coarse_assign_top1_matches_flat_argmax(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 18))
    routed = {r["vec_id"]: r["cid"]
              for r in sim.ivf_coarse_assign(
                  emb, cents, "vec_id", "embedding", stride=2,
                  nprobe_super=4, nprobe=1).collect()}
    # stride=2 with ALL supers probed (4 of 4) covers every group ->
    # the two-level route degenerates to flat: top-1 must equal the
    # exact argmax for every vector
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    cvs = [(r["vec_id"], np.array(r["embedding"], dtype=np.float64))
           for r in sorted(cents.collect(), key=lambda r: r["vec_id"])]
    for vid, v in vecs.items():
        qv = np.floor(v * 1024.0)
        dv = float((qv * qv).sum())
        if dv == 0:
            continue
        best, best_ci = None, None
        for cid, (_, cv) in enumerate(cvs):
            qc = np.floor(cv * 1024.0)
            dc = float((qc * qc).sum())
            if dc == 0:
                continue
            ci = math.floor(float((qv * qc).sum())
                            / math.sqrt(dv * dc) * 1e6)
            if best_ci is None or ci > best_ci:
                best, best_ci = cid, ci
        assert routed[vid] == best, f"vec {vid}: {routed[vid]} != {best}"


# ---------------------------------------------------------------------------
# q329 — dedup-before-ANN fused pipeline


def _clone_embeddings(spark, n_distinct: int = 40, copies: int = 5,
                      dim: int = 8):
    """n_distinct base vectors, each cloned `copies` times with clone
    ids offset by 1000*c — the clone-degenerate staging shape the
    round-12 100x ladder used."""
    rows = []
    for i in range(n_distinct):
        # (31i + 7d) mod 97: the d=0 component alone is injective for
        # i < 97, so the 40 base vectors are pairwise distinct
        vec = [(float((i * 31 + d * 7) % 97) - 48.0) / 48.0
               for d in range(dim)]
        for c in range(copies):
            rows.append((i + 1000 * c, vec))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_exact_vector_dedup_collapses_clone_families(spark):
    emb = _clone_embeddings(spark)
    dd = sim.exact_vector_dedup(emb, "vec_id", "embedding")
    got = dd.collect()
    assert len(got) == 40
    # min-id canonical: every survivor is from copy 0 (ids < 1000)
    assert all(r["vec_id"] < 1000 for r in got)


def test_dedup_then_margin_equals_mining_the_distinct_set(spark):
    """The fused pipeline on a clone-degenerate corpus must mine
    exactly what the banded miner mines on the distinct set — the
    executable form of 'exact dedup before ANN'."""
    emb = _clone_embeddings(spark)
    dd = sim.exact_vector_dedup(emb, "vec_id", "embedding")
    distinct = emb.filter(F.col("vec_id") < 1000)

    def mine(base):
        src = base.filter(F.col("vec_id") % 2 == 0)
        tgt = base.filter(F.col("vec_id") % 2 == 1)
        cents = base.filter((F.col("vec_id") >= sim._MARGIN_IVF_LO)
                            & (F.col("vec_id") < sim._MARGIN_IVF_LO
                               + sim._MARGIN_IVF_CELLS))
        return sim.margin_mine_pairs_banded(
            src, tgt, cents, "vec_id", "embedding")

    fused = {(r["src_id"], r["tgt_id"], r["margin"])
             for r in mine(dd).collect()}
    direct = {(r["src_id"], r["tgt_id"], r["margin"])
              for r in mine(distinct).collect()}
    assert fused == direct
