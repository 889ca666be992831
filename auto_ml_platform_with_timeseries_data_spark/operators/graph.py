"""Graph algorithms over derived edge lists (the iterative-plan
family: rank propagation here, min-label propagation in dedup.py's
connected_components) plus the mergeable-sketch queries. q130's
exact-integer recurrence gives the iterative plan a full value-hash
oracle (unrolled CTEs); q131's HLL registers stay rows-only but the
KMV sibling q178 oracle-checks the identical rollup dataflow."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from auto_ml_platform_with_timeseries_data_spark.registry import query
from auto_ml_platform_with_timeseries_data_spark.tables import keep, load_table, release

def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             iterations: int = 10, damping: float = 0.85) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list: rank_{k+1} =
    (1−d)/N + d·Σ_in rank_k(u)/outdeg(u). Each iteration is one
    join + aggregate (the canonical iterative-algorithm shape on Spark:
    edges persist once, ranks are a small per-node frame that re-joins
    per round, exactly like connected components).

    Arithmetic is EXACT INTEGER end to end: ranks are BIGINTs scaled by
    1e9, per-edge contributions are integer division r div outdeg, the
    damping multiply is (d100·Σ) div 100 with d100 = round(100·d), and
    the teleport term is a per-graph integer constant. Integer sums are
    order-independent, so the result is bit-identical across runs,
    partitionings, and cluster sizes (a float accumulator could drift
    by an ulp per round at 1000 executors) — and the whole recurrence
    is re-expressible in portable SQL, which is what makes q130
    value-hash oracle-checkable via 5 unrolled damped-iteration CTEs.
    The floor in each div loses < 1e-9 of mass per node per round —
    bounded, deterministic, and identical on every engine."""
    d100 = int(round(damping * 100))
    scale = 1_000_000_000
    # Right-size the iteration frames: persisted DataFrames keep their
    # partitioning across rounds (AQE only re-plans shuffles), and every
    # round touches each partition of each frame — 32 near-empty
    # partitions × frames × rounds is pure task-launch overhead on a
    # small graph. Size to the data; a billion-edge graph would instead
    # repartition by key here for join locality.
    n_part = max(4, edges.sparkSession.sparkContext.defaultParallelism // 8)
    e = keep(edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
             .repartition(n_part, "u"))
    deg = keep(e.groupBy("u").agg(F.count(F.lit(1)).alias("outdeg")))
    nodes = keep(e.select(F.col("u").alias("node"))
                 .unionAll(e.select(F.col("v").alias("node")))
                 .distinct().repartition(n_part, "node"))
    n_nodes = nodes.count()
    # driver-side integer constants (n_nodes is already collected state)
    base_i = (scale * (100 - d100)) // 100 // n_nodes
    r0 = scale // n_nodes
    ranks = keep(nodes.select("node", F.lit(r0).alias("r")))
    # per-round shuffles should match the frame sizing above, not the
    # batch default (same rationale as streaming state partitions)
    sess = edges.sparkSession
    old_sp = sess.conf.get("spark.sql.shuffle.partitions")
    sess.conf.set("spark.sql.shuffle.partitions", str(n_part))
    try:
        for _ in range(iterations):
            contrib = (
                e.join(deg, "u")
                .join(ranks.withColumnRenamed("node", "u"), "u")
                .groupBy(F.col("v").alias("node"))
                .agg(F.sum(F.expr("r div outdeg")).alias("__in"))
            )
            prev, ranks = ranks, keep(
                nodes.join(contrib, "node", "left")
                .select("node",
                        (F.lit(base_i)
                         + F.expr(f"({d100} * coalesce(__in, 0L)) div 100"))
                        .alias("r")))
            # materialize this round and release the previous one so the
            # plan stays one round deep (an unpersisted loop builds an
            # iterations-deep join lineage that re-plans and re-runs
            # earlier rounds)
            ranks.count()
            release(prev)
    finally:
        # an exception mid-loop (OOM, cancellation) must not leave the
        # shared session pinned to n_part for every later query
        sess.conf.set("spark.sql.shuffle.partitions", old_sp)
    return ranks.select(
        "node", (F.col("r") / F.lit(float(scale))).alias("rank"))




def _pagerank_oracle(iters: int = 5, d100: int = 85,
                     scale: int = 1_000_000_000) -> str:
    """Unrolled damped-iteration CTEs reproducing pagerank()'s integer
    recurrence exactly: same scale, same integer divisions, same
    per-round teleport constant — every digit of the final ranks is
    forced, so the driver can value-hash q130."""
    its, prev = [], "r0"
    for i in range(1, iters + 1):
        its.append(f"""    it{i} AS (
      SELECT n.node,
             (SELECT b FROM consts)
             + ({d100} * coalesce(c.s, 0)) // 100 AS r
      FROM nodes n LEFT JOIN (
        SELECT e.v AS node, sum(p.r // d.outdeg) AS s
        FROM e JOIN deg d ON e.u = d.u JOIN {prev} p ON p.node = e.u
        GROUP BY e.v) c ON n.node = c.node
    )""")
        prev = f"it{i}"
    return f"""
    WITH pk AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE l_partkey < 500
    ),
    pairs AS (
      SELECT DISTINCT a.l_partkey AS s1, b.l_partkey AS s2
      FROM pk a JOIN pk b
        ON a.l_orderkey = b.l_orderkey AND b.l_partkey > a.l_partkey
    ),
    e AS (SELECT s1 AS u, s2 AS v FROM pairs
          UNION ALL SELECT s2, s1 FROM pairs),
    deg AS (SELECT u, count(*) AS outdeg FROM e GROUP BY u),
    nodes AS (SELECT u AS node FROM e UNION SELECT v AS node FROM e),
    consts AS (SELECT (CAST({scale} AS BIGINT) * (100 - {d100}))
                        // 100 // count(*) AS b,
                      CAST({scale} AS BIGINT) // count(*) AS ri
               FROM nodes),
    r0 AS (SELECT node, (SELECT ri FROM consts) AS r FROM nodes),
{",".join(its)}
    SELECT CAST(node AS BIGINT) AS node,
           r / {float(scale)} AS rank
    FROM {prev}
    """


@query("q130_pagerank", oracle=_pagerank_oracle())
def q130_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the co-purchase graph (parts as nodes, undirected
    same-order co-occurrence as edges, both directions materialized).
    5 iterations, damping 0.85 — exact-integer recurrence (see
    pagerank()), so the 5-round plan value-hash-matches the oracle's
    unrolled CTEs digit for digit (VERDICT r4 next-round #4)."""
    li = load_table(spark, sf_dir, "lineitem")
    # deterministic subgraph (partkey < 500): PageRank cost is edge-count
    # × iterations; the demonstration needs the plan shape, not the full
    # co-purchase graph (at sf0.1 the unrestricted graph is ~2M directed
    # edges × rounds — run it by lifting the filter)
    pairs = (
        li.filter(F.col("l_partkey") < 500)
        .select("l_orderkey", "l_partkey").distinct()
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("__parts"))
        .filter(F.size("__parts") > 1)
        .select(F.explode(F.flatten(F.transform(
            "__parts",
            lambda a: F.transform(
                F.filter(F.col("__parts"), lambda b: b > a),
                lambda b: F.struct(a.alias("src"), b.alias("dst")),
            )))).alias("p"))
        .select("p.src", "p.dst").distinct()
    )
    undirected = pairs.unionAll(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return pagerank(undirected, iterations=5, damping=0.85)


@query("q131_sketch_merge")  # rows-only: HLL binary sketches not SQL-portable
def q131_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGEABILITY — the property that makes approximate
    distinct-counting work at 100 TB: per-day HLL sketches of active
    users union into weekly estimates WITHOUT re-touching the raw
    events (pre-aggregate once, reaggregate to any coarser rollup).
    Emits per week: the merged-sketch estimate, the exact distinct
    count computed from raw data, and whether the relative error is
    inside HLL's expected bound (lgK=12 → ~1.6% σ; gate at 5%).
    Deterministic: the sketch is a pure function of the value set."""
    ev = load_table(spark, sf_dir, "events")
    day = ev.select(
        F.date_trunc("week", "ts").alias("week"),
        F.date_trunc("day", "ts").alias("day"),
        "user_id",
    )
    daily = day.groupBy("week", "day").agg(
        F.hll_sketch_agg("user_id").alias("sk"))
    weekly = daily.groupBy("week").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx"))
    exact = day.groupBy("week").agg(
        F.countDistinct("user_id").alias("exact"))
    return (
        weekly.join(exact, "week")
        .select(
            F.date_format("week", "yyyy-MM-dd").alias("week"),
            "exact", "approx",
            (F.abs(F.col("approx") - F.col("exact"))
             / F.col("exact") <= 0.05).alias("within_bound"),
        )
    )


# ---------------------------------------------------------------------------
# q178 — KMV (k-minimum-values) distinct sketch: the mergeable-sketch
# dataflow of q131, but with EVERY number oracle-checked (HLL's binary
# registers aren't SQL-portable; KMV's state is just the k smallest
# hash values, which any engine reproduces exactly)
# ---------------------------------------------------------------------------

_KMV_K = 64


def kmv_daily_sketches(ev: DataFrame, k: int = _KMV_K) -> DataFrame:
    """Per-(week, day) KMV sketch of active users: the k smallest
    DISTINCT deterministic hash values. The rank pass is a per-day
    row_number window — sort-based and spillable, with the k-row cut
    applied BEFORE any array materializes, so no aggregation buffer
    ever holds more than k BIGINTs per day (a collect_set of all
    distinct hashes would hold the full per-day user set in one
    aggregation state — exactly what the sketch exists to avoid)."""
    from auto_ml_platform_with_timeseries_data_spark.operators.curation import (
        hash_u32,
    )

    d = ev.select(F.date_trunc("week", "ts").alias("week"),
                  F.date_trunc("day", "ts").alias("day"),
                  hash_u32("user_id").alias("h")).distinct()
    w = Window.partitionBy("week", "day").orderBy(F.asc("h"))
    return (
        d.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .groupBy("week", "day")
        .agg(F.array_sort(F.collect_list("h")).alias("mins"))
    )


@query(
    "q178_kmv_distinct",
    oracle=f"""
    WITH d AS (
      SELECT date_trunc('week', ts) AS week, date_trunc('day', ts) AS day,
             (user_id % 1000003) * 2654435761 % 4294967296 AS h
      FROM events GROUP BY 1, 2, 3
    ),
    daily AS (
      -- per-day k smallest distinct hashes (the persisted sketch)
      SELECT week, day, h FROM (
        SELECT week, day, h,
               row_number() OVER (PARTITION BY week, day ORDER BY h) AS rk
        FROM d
      ) WHERE rk <= {_KMV_K}
    ),
    merged AS (
      -- weekly merge = k smallest of the UNION of daily sketches
      SELECT week, h, rk, n_in_sketch FROM (
        SELECT week, h,
               row_number() OVER (PARTITION BY week ORDER BY h) AS rk,
               count(*) OVER (PARTITION BY week) AS n_in_sketch
        FROM (SELECT DISTINCT week, h FROM daily)
      ) WHERE rk <= {_KMV_K}
    ),
    est AS (
      SELECT week,
             CASE WHEN max(n_in_sketch) < {_KMV_K}
                  THEN CAST(max(n_in_sketch) AS DOUBLE)
                  ELSE ({_KMV_K} - 1) * 4294967296.0 / max(CASE
                       WHEN rk = {_KMV_K} THEN h END) END AS raw_est
      FROM merged GROUP BY week
    ),
    ex AS (
      SELECT date_trunc('week', ts) AS week,
             count(DISTINCT user_id) AS exact_distinct
      FROM events GROUP BY 1
    )
    SELECT strftime(e.week, '%Y-%m-%d') AS week,
           CAST(ex.exact_distinct AS BIGINT) AS exact_distinct,
           floor(e.raw_est * 100.0 + 0.5) / 100.0 AS approx_distinct,
           abs(e.raw_est - ex.exact_distinct) / ex.exact_distinct <= 0.3
             AS within_bound
    FROM est e JOIN ex ON e.week = ex.week
    """,
)
def q178_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate weekly distinct users via MERGED daily KMV sketches,
    with the exact count beside it — the q131 rollup dataflow
    (pre-aggregate days once, re-aggregate to weeks without touching
    raw events) where sketch state, merge, estimator arithmetic
    ((k−1)·2³²/kth-min over exact integer hashes), and error gate are
    ALL value-hash-checked by the oracle. KMV σ ≈ 1/√(k−2) ≈ 13% at
    k=64; gate at 30%. Weeks whose union holds fewer than k hashes are
    exact by construction (the sketch IS the value set)."""
    ev = load_table(spark, sf_dir, "events")
    daily = kmv_daily_sketches(ev)
    merged = (
        daily.select("week", F.explode("mins").alias("h")).distinct()
        .withColumn("rk", F.row_number().over(
            Window.partitionBy("week").orderBy("h")))
        .withColumn("n_in_sketch", F.count(F.lit(1)).over(
            Window.partitionBy("week")))
        .filter(F.col("rk") <= _KMV_K)
    )
    est = merged.groupBy("week").agg(
        F.when(F.max("n_in_sketch") < _KMV_K,
               F.max("n_in_sketch").cast("double"))
        .otherwise(F.lit(float(_KMV_K - 1)) * F.lit(4294967296.0)
                   / F.max(F.when(F.col("rk") == _KMV_K, F.col("h"))))
        .alias("raw_est"))
    exact = ev.select(F.date_trunc("week", "ts").alias("week"), "user_id") \
        .groupBy("week").agg(F.countDistinct("user_id").alias("exact_distinct"))
    return (
        est.join(exact, "week")
        .select(
            F.date_format("week", "yyyy-MM-dd").alias("week"),
            "exact_distinct",
            (F.floor(F.col("raw_est") * 100.0 + F.lit(0.5)) / 100.0)
            .alias("approx_distinct"),
            (F.abs(F.col("raw_est") - F.col("exact_distinct"))
             / F.col("exact_distinct") <= 0.3).alias("within_bound"),
        )
    )


# ---------------------------------------------------------------------------
# q201 — Count-Min sketch heavy hitters (mergeable counting sketch)
# ---------------------------------------------------------------------------

_CM_P = 1_000_003          # prime modulus (the hash_u32 pre-mod prime)
_CM_W = 256                # sketch width (columns per hash row)
_CM_ROWS = ((1_299_709, 15_485_863), (2_750_159, 32_452_843),
            (4_256_233, 49_979_687), (5_800_079, 67_867_967))


def _cm_col(key, a: int, b: int):
    """Portable row hash: ((a·(key mod p) + b) mod p) mod w — plain
    BIGINT arithmetic both engines evaluate identically. Keys are
    assumed non-negative (fixture ids are); a negative key would hash
    consistently across engines (both mod operators take the
    dividend's sign) but into a signed column id — pre-shift ids if a
    source ever carries them."""
    return ((F.lit(a) * (key % _CM_P) + F.lit(b)) % _CM_P) % _CM_W


def countmin_estimates(df: DataFrame, key_col: str) -> DataFrame:
    """Count-Min estimates (min over d row counters) for every distinct
    key, next to the exact count: est ≥ exact always (one-sided error),
    and est − exact is the collision mass the d×w sketch admits.

    The sketch build is d tiny groupBys on (row, col) — 4·256 counters
    total regardless of corpus size, each a map-side-combined SUM, so
    the sketch state is mergeable across partitions/days/shards by
    construction (counter-wise addition; the q178 KMV rollup shape for
    COUNTS instead of distincts). The estimate pass joins each
    candidate key's d (row, col) coordinates against the counter
    table — at 100 TB the candidate set comes from a cheap pre-filter
    (a sampled or per-partition top-k), never an all-keys enumeration;
    here every key is a candidate so the oracle can check every row."""
    keyed = df.select(F.col(key_col).cast("long").alias("k"))
    counters = None
    for i, (a, b) in enumerate(_CM_ROWS):
        c = (keyed.groupBy(_cm_col(F.col("k"), a, b).alias("col"))
             .agg(F.count(F.lit(1)).alias("cnt"))
             .withColumn("row", F.lit(i)))
        counters = c if counters is None else counters.unionByName(c)
    exact = keyed.groupBy("k").agg(F.count(F.lit(1)).alias("exact"))
    coords = exact.select(
        "k", "exact",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("row"),
                     _cm_col(F.col("k"), a, b).alias("col"))
            for i, (a, b) in enumerate(_CM_ROWS)])).alias("c"),
    ).select("k", "exact", "c.row", "c.col")
    return (
        coords.join(F.broadcast(counters), ["row", "col"])
        .groupBy("k", "exact")
        .agg(F.min("cnt").cast("long").alias("est"))
        .select(F.col("k").alias("key"), F.col("est"),
                F.col("exact").cast("long").alias("exact"),
                (F.col("est") - F.col("exact")).cast("long").alias("err"))
    )


def _cm_sql(col: str, a: int, b: int) -> str:
    return f"((({a} * ({col} % {_CM_P}) + {b}) % {_CM_P}) % {_CM_W})"


_CM_ORACLE = f"""
    WITH keyed AS (SELECT CAST(user_id AS BIGINT) AS k FROM events),
    counters AS (
      {" UNION ALL ".join(
          f"SELECT {i} AS row, {_cm_sql('k', a, b)} AS col, "
          f"CAST(count(*) AS BIGINT) AS cnt FROM keyed GROUP BY 2"
          for i, (a, b) in enumerate(_CM_ROWS))}
    ),
    exact AS (SELECT k, CAST(count(*) AS BIGINT) AS exact
              FROM keyed GROUP BY k),
    coords AS (
      {" UNION ALL ".join(
          f"SELECT k, exact, {i} AS row, {_cm_sql('k', a, b)} AS col "
          f"FROM exact"
          for i, (a, b) in enumerate(_CM_ROWS))}
    )
    SELECT k AS key, CAST(min(cnt) AS BIGINT) AS est, exact,
           CAST(min(cnt) - exact AS BIGINT) AS err
    FROM coords JOIN counters USING (row, col)
    GROUP BY k, exact
"""


@query("q201_countmin_heavy_hitters", oracle=_CM_ORACLE)
def q201_countmin_heavy_hitters(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Count-Min estimate vs exact count for every event user — the
    one-sided-error certificate (est ≥ exact) and the collision mass
    of the 4×256 sketch, every row value-hash-checked."""
    ev = load_table(spark, sf_dir, "events")
    return countmin_estimates(ev, "user_id")


# ---------------------------------------------------------------------------
# q202 — per-vertex triangle counting (degree-ordered compact-forward)
# ---------------------------------------------------------------------------


def triangle_counts(edges: DataFrame, a_col: str = "a",
                    b_col: str = "b") -> DataFrame:
    """Local (per-vertex) triangle counts over an undirected edge list
    (simple graph contract: one row per edge, no self-loops — the
    q202 builder guarantees both via its a<b groupBy).

    The plan is the compact-forward algorithm: orient every edge from
    the (degree, id)-smaller endpoint to the larger, then count, for
    each oriented edge (u, v), the common out-neighbors |N⁺(u)∩N⁺(v)|
    via a two-hop join (u→v, u→w) ⋈ (v→w). Orientation bounds every
    vertex's out-degree by O(√m) on any graph, so the wedge join —
    the quadratic-risk step — generates Σ outdeg(u)² ≤ m·√m wedges
    instead of Σ deg(u)² (a star vertex with degree d contributes d²
    undirected wedges but ~0 oriented ones: all its edges point AWAY
    from higher-degree hubs... toward them, giving the hub in-edges
    only). Per-vertex counts are orientation-independent, so the
    oracle can verify with the naive a<b<c three-way join — same
    multiset of triangles, exact integer counts.

    Scale shape (r15 restructure, guide §2.4/§3.1): degrees attach
    via two window counts over the exploded directed frame instead of
    a degree groupBy joined back per endpoint — one map-side ×2
    fan-out (no double scan of the edge builder), two edge-sized
    exchanges, zero joins before the wedge step. The second window
    partitions by `u`, so the persisted oriented frame KEEPS
    HashPartitioning(u) (InMemoryRelation preserves layout — the
    k_core lesson) and the wedge self-join runs exchange-free. The
    undirected pair set needed by the closing join is just
    (least, greatest) of the persisted oriented rows — the old
    union+distinct re-shuffle computed the identical set (one row per
    edge in, one out). The closing wedge⋈edge join hash-builds the
    edge side (no sort of the wedge frame, the quadratic-risk side)."""
    sym = (edges.select(F.explode(F.array(
        F.struct(F.col(a_col).alias("u"), F.col(b_col).alias("w")),
        F.struct(F.col(b_col).alias("u"), F.col(a_col).alias("w")),
    )).alias("p")).select("p.u", "p.w"))
    # deg(x) = |rows with w = x| = |rows with u = x| in the symmetric
    # frame; two window counts attach both endpoint degrees with no
    # join. w-window first, u-window second: the LAST exchange keys
    # the cached layout by u for the self-join below.
    dw = sym.select(
        "u", "w", F.count(F.lit(1)).over(Window.partitionBy("w"))
        .alias("__dw"))
    duw = dw.select(
        "u", "w", "__dw",
        F.count(F.lit(1)).over(Window.partitionBy("u")).alias("__du"))
    e = keep(duw.filter((F.col("__du") < F.col("__dw")) |
                        ((F.col("__du") == F.col("__dw")) &
                         (F.col("u") < F.col("w"))))
             .select("u", "w"))
    e.count()
    wedges = (e.alias("e1").join(e.alias("e2").hint("shuffle_hash"),
                                 F.col("e1.u") == F.col("e2.u"))
              .filter(F.col("e1.w") < F.col("e2.w"))
              .select(F.col("e1.u").alias("u"),
                      F.col("e1.w").alias("v1"),
                      F.col("e2.w").alias("v2")))
    und = e.select(F.least("u", "w").alias("v1"),
                   F.greatest("u", "w").alias("v2"))
    tris = wedges.join(und.hint("shuffle_hash"), ["v1", "v2"])
    out = (tris.select(F.explode(F.array("u", "v1", "v2")).alias("vertex"))
           .groupBy("vertex")
           .agg(F.count(F.lit(1)).cast("long").alias("n_triangles")))
    out = keep(out)
    out.count()
    return out


_COPURCHASE_EDGES = """
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
      JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
"""


@query(
    "q202_triangle_count",
    oracle=f"""
    WITH e AS ({_COPURCHASE_EDGES}),
    tri AS (
      SELECT e1.pa AS x, e1.pb AS y, e2.pb AS z
      FROM e e1
      JOIN e e2 ON e2.pa = e1.pb
      JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    )
    SELECT vertex, CAST(count(*) AS BIGINT) AS n_triangles
    FROM (SELECT x AS vertex FROM tri UNION ALL
          SELECT y FROM tri UNION ALL
          SELECT z FROM tri)
    GROUP BY vertex
    """,
)
def q202_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle counts over the ≥2-shared-orders co-purchase
    graph: compact-forward wedge join vs the oracle's naive x<y<z
    three-way join — identical triangle multiset, every vertex row
    value-hash-checked. (order, part) rows are deduped before the
    pair self-join so the ≥2 support counts DISTINCT shared orders —
    an order repeating the same part must not mint an edge alone."""
    li = (load_table(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_partkey").distinct())
    edges = (li.alias("x").join(
        li.alias("y"),
        (F.col("x.l_orderkey") == F.col("y.l_orderkey")) &
        (F.col("x.l_partkey") < F.col("y.l_partkey")))
        .groupBy(F.col("x.l_partkey").alias("a"),
                 F.col("y.l_partkey").alias("b"))
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= 2).drop("__n"))
    return triangle_counts(edges)


# ---------------------------------------------------------------------------
# q240 — k-core peeling: the density filter graph curation runs before
# expensive per-node work (PageRank q130 ranks, triangles q202 count;
# k-core DISCARDS the sparse fringe first — spam tails, one-off
# co-occurrences). Synchronized peel rounds, the Pregel superstep
# schedule.
# ---------------------------------------------------------------------------

_KCORE_K = 2
_KCORE_ROUNDS = 6


def k_core_peel(edges: DataFrame, a_col: str = "a", b_col: str = "b",
                k: int = _KCORE_K,
                rounds: int = _KCORE_ROUNDS) -> DataFrame:
    """`rounds` synchronized peeling rounds toward the k-core: each
    round keeps exactly the vertices with ≥ k neighbors among the
    previous round's survivors, and the output is every survivor with
    its degree among survivors — a well-defined quantity at ANY data
    size regardless of whether the fixpoint has been reached (the q130
    fixed-iteration contract; production loops the same per-round plan
    until the survivor count stabilizes, which is the true k-core).

    Scale shape (r15 restructure, guide §2.4/§3.1): the symmetrized
    edge frame is hash-partitioned by `v` ONCE and persisted (persist,
    not localCheckpoint — a PySpark-4 LogicalRDD reports
    UnknownPartitioning, while InMemoryRelation keeps the layout, so
    every per-round join reuses it exchange-free). Each round then
    joins the vertex-sized survivor set on `v` as a SHUFFLED-HASH
    build side (no per-round sort of the edges), counts degree with
    map-side partial aggregation (only vertex-sized partials cross the
    network), and re-checks `u` survivorship on the VERTEX-sized
    degree table instead of pre-joining the edge frame on `u`. Edge
    bytes shuffled per round: 2·E in the old shape → 0 (partials
    only). Survivor values are identical: deg restricted to v-alive
    edges, inner-joined to the previous survivor set on u, equals the
    old both-endpoints-alive count for every surviving u. Survivor
    sets stay eagerly checkpointed so the plan is one round deep."""
    spark = edges.sparkSession
    npart = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    sym = keep(edges.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
               .unionAll(edges.select(F.col(b_col).alias("u"),
                                      F.col(a_col).alias("v")))
               .repartition(npart, "v"))
    sym.count()
    alive = sym.select("u").distinct()

    def _deg(surv: DataFrame) -> DataFrame:
        """deg(u) over v-alive edges, inner-joined to the survivor set
        on u — the both-endpoints-alive degree for surviving u."""
        av = sym.join(surv.withColumnRenamed("u", "v")
                      .hint("shuffle_hash"), "v")
        deg = av.groupBy("u").agg(F.count(F.lit(1)).alias("__d"))
        return deg.join(surv.hint("shuffle_hash"), "u")

    for _ in range(rounds):
        alive = keep(_deg(alive).filter(F.col("__d") >= k).select("u"),
                     checkpoint=True)
    return keep(_deg(alive)
                .select(F.col("u").alias("vertex"),
                        F.col("__d").cast("long").alias("degree")),
                checkpoint=True)


def _kcore_oracle() -> str:
    # every stage MUST be MATERIALIZED: each aN is referenced twice by
    # aN+1, so DuckDB's default CTE inlining would expand the chain to
    # 2^rounds copies of the edge scan (observed: a disk-spilling plan
    # at sf0.1); materialization makes the oracle evaluate each round
    # once, like the Spark loop's per-round checkpoint
    stages = []
    prev = "a0"
    for t in range(1, _KCORE_ROUNDS + 1):
        stages.append(
            f"    a{t} AS MATERIALIZED (\n"
            f"      SELECT s.u FROM sym s\n"
            f"      JOIN {prev} x ON s.u = x.u\n"
            f"      JOIN {prev} y ON s.v = y.u\n"
            f"      GROUP BY s.u HAVING count(*) >= {_KCORE_K}\n"
            f"    )")
        prev = f"a{t}"
    return f"""
    WITH e AS MATERIALIZED ({_COPURCHASE_EDGES}),
    sym AS MATERIALIZED (SELECT pa AS u, pb AS v FROM e
            UNION ALL SELECT pb, pa FROM e),
    a0 AS MATERIALIZED (SELECT DISTINCT u FROM sym),
{",".join(stages)}
    SELECT s.u AS vertex, CAST(count(*) AS BIGINT) AS degree
    FROM sym s
    JOIN {prev} x ON s.u = x.u
    JOIN {prev} y ON s.v = y.u
    GROUP BY s.u
    """


@query("q240_k_core", oracle=_kcore_oracle())
def q240_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six synchronized 2-core peeling rounds over the ≥2-shared-orders
    co-purchase graph (q202's edge set): every surviving part with its
    within-core degree, value-hash-checked against the oracle's
    unrolled six-stage peel. k=2 keeps the core non-degenerate at
    every fixture SF (the sparser sf0.1 graph has an EMPTY 3-core),
    and six rounds reach the true fixpoint at all three (measured:
    3/0/5 peel rounds at sf0.01/0.001/0.1)."""
    li = (load_table(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_partkey").distinct())
    edges = (li.alias("x").join(
        li.alias("y"),
        (F.col("x.l_orderkey") == F.col("y.l_orderkey")) &
        (F.col("x.l_partkey") < F.col("y.l_partkey")))
        .groupBy(F.col("x.l_partkey").alias("a"),
                 F.col("y.l_partkey").alias("b"))
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= 2).drop("__n"))
    return k_core_peel(edges)


def coreness(edges: DataFrame, a_col: str = "a", b_col: str = "b",
             rounds: int = 10) -> DataFrame:
    """(vertex, coreness) — every vertex's core number (the largest k
    for which it survives k-core peeling) via the H-index iteration
    (Lü et al. 2016): start from degree, repeatedly replace each
    vertex's value with the H-index of its neighbors' values (the
    largest h such that ≥ h neighbors hold value ≥ h). The sequence is
    monotone non-increasing and converges to coreness exactly; on a
    graph with n vertices it converges in at most n rounds (fixture
    measurements: 5 rounds at sf0.1, 10 at sf0.01, >14 on sf0.001's
    thin chains — see q248). Registered as q248 after a one-round
    oracle-draft gate — the oracle is the same unrolled-stage shape as
    q240's (each stage one window-rank pass).

    Scale shape per round (r15 restructure, guide §2.4/§3.1): the
    symmetrized edge frame is hash-partitioned by `v` ONCE and
    persisted (persist, not localCheckpoint — a PySpark-4 LogicalRDD
    reports UnknownPartitioning, InMemoryRelation keeps the layout);
    each round's neighbor-value join then streams the edges
    exchange-AND-sort-free against the vertex-sized value frame as a
    shuffled-hash build side, so the only edge-sized exchange per
    round is the one the H-index rank window fundamentally needs
    (regroup neighbor values by u). Old shape: 2 edge-sized exchanges
    + an edge sort per round; new: 1. Values are eagerly checkpointed
    per round so the plan stays one round deep (the q130/q240
    discipline). Fixed `rounds` keeps the output well-defined at any
    data size; production iterates the same per-round plan until no
    value changes, which is the exact core decomposition."""
    spark = edges.sparkSession
    npart = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    sym = keep(edges.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
               .unionAll(edges.select(F.col(b_col).alias("u"),
                                      F.col(a_col).alias("v")))
               .repartition(npart, "v"))
    sym.count()
    c = keep(sym.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("c")),
             checkpoint=True)
    w = Window.partitionBy("u").orderBy(F.desc("__cv"), F.asc("v"))
    for _ in range(rounds):
        nb = (sym.join(c.select(F.col("u").alias("v"),
                                F.col("c").alias("__cv"))
                       .hint("shuffle_hash"), "v"))
        # H-index of the neighbor multiset: max over the
        # value-sorted prefix of min(position, value)
        h = (nb.withColumn("__rk", F.row_number().over(w))
             .groupBy("u")
             .agg(F.max(F.least(F.col("__rk"), F.col("__cv")))
                  .cast("long").alias("__h")))
        c = keep(c.join(h, "u", "left")
                 .select("u", F.least(F.col("c"),
                                      F.coalesce("__h", F.lit(0)))
                         .cast("long").alias("c")),
                 checkpoint=True)
    return c.select(F.col("u").alias("vertex"),
                    F.col("c").alias("coreness"))


_CORENESS_ROUNDS = 6


def _coreness_oracle(rounds: int = _CORENESS_ROUNDS) -> str:
    # same MATERIALIZED-per-stage discipline as _kcore_oracle: each cN
    # is referenced twice by cN+1, so default CTE inlining would expand
    # the chain to 2^rounds edge scans
    stages = []
    prev = "c0"
    for t in range(1, rounds + 1):
        stages.append(f"""    c{t} AS MATERIALIZED (
      SELECT p.u, least(p.c, coalesce(h.h, 0)) AS c
      FROM {prev} p LEFT JOIN (
        SELECT u, CAST(max(least(rk, cv)) AS BIGINT) AS h FROM (
          SELECT s.u, p2.c AS cv,
                 row_number() OVER (PARTITION BY s.u
                   ORDER BY p2.c DESC, s.v ASC) AS rk
          FROM sym s JOIN {prev} p2 ON s.v = p2.u
        ) GROUP BY u) h ON p.u = h.u
    )""")
        prev = f"c{t}"
    return f"""
    WITH e AS MATERIALIZED ({_COPURCHASE_EDGES}),
    sym AS MATERIALIZED (SELECT pa AS u, pb AS v FROM e
            UNION ALL SELECT pb, pa FROM e),
    c0 AS MATERIALIZED (
      SELECT u, CAST(count(*) AS BIGINT) AS c FROM sym GROUP BY u
    ),
{",".join(stages)}
    SELECT u AS vertex, c AS coreness FROM {prev}
"""


@query("q248_coreness", oracle=_coreness_oracle())
def q248_coreness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Core numbers for every vertex of the >=2-shared-orders
    co-purchase graph via six H-index iterations (Lu et al. 2016) —
    strictly more informative than q240's single k-core (the whole core
    decomposition in one run), value-hash-checked against the oracle's
    unrolled six-stage window-rank chain. Six rounds is the FIXED
    SCHEDULE contract (q130/q240): the monotone non-increasing 6-round
    value is well-defined at any size and both engines compute exactly
    it. Measured descent (round-9 session): sf0.1 reaches the true
    fixpoint at round 5; sf0.01 at round 10; sf0.001 still sheds 1-5
    vertices/round past round 14 (long thin chains — H-index descent
    is worst-case O(n) rounds). Production loops the same per-round
    plan until no value changes; per-round wall is edge-linear
    (measured 1.7x at 10x edges, BASELINE.md)."""
    li = (load_table(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_partkey").distinct())
    edges = (li.alias("x").join(
        li.alias("y"),
        (F.col("x.l_orderkey") == F.col("y.l_orderkey")) &
        (F.col("x.l_partkey") < F.col("y.l_partkey")))
        .groupBy(F.col("x.l_partkey").alias("a"),
                 F.col("y.l_partkey").alias("b"))
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= 2).drop("__n"))
    return coreness(edges, rounds=_CORENESS_ROUNDS)


# ---------------------------------------------------------------------------
# q296 — HyperLogLog weekly distinct (register-merge counting sketch)
# ---------------------------------------------------------------------------

_HLL_M = 128                    # registers (σ ≈ 1.04/√128 ≈ 9%)
_HLL_WBITS = 25                 # 32 − log2(m): suffix width per register
# α_m·m²·2^26 precomputed in python — ONE float literal shared with the
# oracle so the estimator arithmetic is identical bit for bit
_HLL_A = 786448224348.6399
# 4-round arithmetic Feistel constants. The bare multiplicative hash
# (id%P)·K%2³² is fine for bucketing but NOT for a leading-zeros
# statistic: sequential ids land on continued-fraction-small residues
# of K/2³² far more often than chance, inflating max-rank registers
# (measured 1.6× overestimates). Four Feistel rounds over the 16+16
# bit halves, round function = middle bits of a multiply
# ((lo·K + 40503) div 2¹⁶) mod 2¹⁶, give estimates inside the
# true-random envelope at every probed n (150..500k) using ONLY
# +, *, div, mod — portable to any SQL engine without xor/shift.
_HLL_ROUNDS = (2654435761, 2246822519, 3266489917, 668265263)


def _hll_feistel_steps() -> list[tuple[str, str, str]]:
    """(name, spark_expr, duck_expr) chain computing the Feistel mix
    from column __x — ONE python generator feeds both engines (the
    q291 _dl_steps pattern), differing only in the integer-division
    token (`div` vs `//`)."""
    steps = [("__lo0", "__x % 65536", "__x % 65536"),
             ("__hi0", "(__x div 65536) % 65536",
              "(__x // 65536) % 65536")]
    for i, k in enumerate(_HLL_ROUNDS):
        f_s = f"((__lo{i} * {k} + 40503) div 65536) % 65536"
        f_d = f"((__lo{i} * {k} + 40503) // 65536) % 65536"
        steps.append((f"__lo{i + 1}",
                      f"(__hi{i} + {f_s}) % 65536",
                      f"(__hi{i} + {f_d}) % 65536"))
        steps.append((f"__hi{i + 1}", f"__lo{i}", f"__lo{i}"))
    n = len(_HLL_ROUNDS)
    steps.append(("__h", f"__hi{n} * 65536 + __lo{n}",
                  f"__hi{n} * 65536 + __lo{n}"))
    return steps


def hll_weekly_distinct(ev: DataFrame) -> DataFrame:
    """(week, exact_distinct, registers_zero, approx_distinct,
    within_bound): weekly distinct users via a 128-register
    HyperLogLog — the register walk q178's KMV cannot match at scale:
    max() is DUPLICATE-BLIND, so NO distinct and NO per-key rank
    window ever runs; the whole sketch is one map-side-combined
    groupBy(week, register) max, then a 128-row fold per week.
    Rank = 26 − bit_length(h div 128) is a pure integer comparison
    chain (no log2 — cross-engine float log on exact powers of two is
    a ulp trap); the harmonic fold Σ2^(26−M_j) is an exact BIGINT via
    integer shifts; the estimator α·m²·2^26/S and the small-range
    linear-counting branch m·ln(m/V) (ln IS bit-identical cross-
    engine here — the q265 pins) are single pinned doubles. The 0.35
    within_bound gate is ~3.5σ of the m=128 estimator; the raw
    (un-bias-corrected) HLL occasionally reaches 27% even under a
    TRUE random hash at these cardinalities — measured, not assumed."""
    src = ev.select(F.date_trunc("week", "ts").alias("week"),
                    F.col("user_id").cast("long").alias("__x"))
    for name, spark_expr, _ in _hll_feistel_steps():
        src = src.withColumn(name, F.expr(spark_expr))
    src = src.select("week", (F.col("__h") % _HLL_M).alias("__j"),
                     F.expr(f"__h div {_HLL_M}").alias("__w"))
    bitlen = None
    for k in range(_HLL_WBITS):
        term = (F.col("__w") >= (1 << k)).cast("int")
        bitlen = term if bitlen is None else bitlen + term
    regs = (src.select("week", "__j",
                       (_HLL_WBITS + 1 - bitlen).alias("__rank"))
            .groupBy("week", "__j")
            .agg(F.max("__rank").alias("__m")))
    per = regs.groupBy("week").agg(
        F.count(F.lit(1)).cast("long").alias("__present"),
        F.sum(F.expr(f"shiftleft(1, {_HLL_WBITS + 1} - __m)")
              .cast("long")).alias("__s_present"))
    s = (F.col("__s_present")
         + (F.lit(_HLL_M) - F.col("__present"))
         * F.lit(1 << (_HLL_WBITS + 1)))
    v = (F.lit(_HLL_M) - F.col("__present")).cast("long")
    raw = F.lit(_HLL_A) / s.cast("double")
    est = F.when((raw <= 2.5 * _HLL_M) & (v > 0),
                 F.lit(float(_HLL_M))
                 * F.log(F.lit(float(_HLL_M)) / v.cast("double"))) \
        .otherwise(raw)
    exact = ev.select(F.date_trunc("week", "ts").alias("week"),
                      "user_id").groupBy("week").agg(
        F.countDistinct("user_id").alias("exact_distinct"))
    scored = per.select("week", v.alias("registers_zero"),
                        est.alias("__est"))
    return (scored.join(exact, "week")
            .select(
                F.date_format("week", "yyyy-MM-dd").alias("week"),
                "exact_distinct", "registers_zero",
                (F.floor(F.col("__est") * 100.0 + F.lit(0.5)) / 100.0)
                .alias("approx_distinct"),
                (F.abs(F.col("__est") - F.col("exact_distinct"))
                 / F.col("exact_distinct") <= 0.35)
                .alias("within_bound")))


def _hll_oracle() -> str:
    steps = _hll_feistel_steps()
    ctes, prev = [], "base"
    for i, (name, _, d_expr) in enumerate(steps):
        ctes.append(f"m{i} AS (SELECT *, {d_expr} AS {name}"
                    f" FROM {prev})")
        prev = f"m{i}"
    cte_block = ",\n    ".join(ctes)
    bitlen = " + ".join(
        f"CASE WHEN w >= {1 << k} THEN 1 ELSE 0 END"
        for k in range(_HLL_WBITS))
    wb1 = _HLL_WBITS + 1
    return f"""
    WITH base AS (
      SELECT date_trunc('week', ts) AS week,
             CAST(user_id AS BIGINT) AS __x
      FROM events
    ),
    {cte_block},
    rw AS (SELECT week, __h % {_HLL_M} AS j, __h // {_HLL_M} AS w
           FROM {prev}),
    rk AS (
      SELECT week, j, {wb1} - ({bitlen}) AS rank
      FROM rw
    ),
    regs AS (SELECT week, j, max(rank) AS m FROM rk GROUP BY week, j),
    per AS (
      SELECT week, CAST(count(*) AS BIGINT) AS present,
             CAST(sum(1 << ({wb1} - m)) AS BIGINT) AS sp
      FROM regs GROUP BY week
    ),
    est AS (
      SELECT week,
             CAST({_HLL_M} - present AS BIGINT) AS registers_zero,
             CASE WHEN {_HLL_A}
                    / CAST(sp + ({_HLL_M} - present) * {1 << wb1}
                           AS DOUBLE) <= {2.5 * _HLL_M}
                   AND {_HLL_M} - present > 0
                  THEN {float(_HLL_M)}
                    * ln({float(_HLL_M)}
                         / CAST({_HLL_M} - present AS DOUBLE))
                  ELSE {_HLL_A}
                    / CAST(sp + ({_HLL_M} - present) * {1 << wb1}
                           AS DOUBLE)
             END AS e
      FROM per
    ),
    ex AS (
      SELECT date_trunc('week', ts) AS week,
             count(DISTINCT user_id) AS exact_distinct
      FROM events GROUP BY 1
    )
    SELECT strftime(t.week, '%Y-%m-%d') AS week,
           CAST(ex.exact_distinct AS BIGINT) AS exact_distinct,
           t.registers_zero,
           floor(t.e * 100.0 + 0.5) / 100.0 AS approx_distinct,
           abs(t.e - ex.exact_distinct) / ex.exact_distinct <= 0.35
             AS within_bound
    FROM est t JOIN ex ON t.week = ex.week
    """


@query("q296_hll_distinct", oracle=_hll_oracle())
def q296_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly distinct users via a 128-register HyperLogLog beside the
    exact count — the duplicate-blind counterpart of q178's KMV (no
    distinct, no rank window; just groupBy-max register state), with
    the Feistel mix, register walk, harmonic fold, bias constant, and
    the linear-counting small-range branch ALL value-hash-checked."""
    ev = load_table(spark, sf_dir, "events")
    return hll_weekly_distinct(ev)
