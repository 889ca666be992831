"""Physical-layout operators: Z-order (Morton) clustering for
multi-dimensional data skipping, plus the capped shard exporter's
sibling surface (sources/readers.py:export_jsonl_shards).

Why this exists at 100 TB: parquet min/max footer stats prune files
only when the file layout CORRELATES with the predicate column. A
table range-partitioned (or incidentally ordered) by time prunes time
predicates but reads every file for a `user_id = ?` probe; Z-ordering
interleaves the bit-bucketed dimensions into one Morton key so a sort
on that single key gives every interleaved dimension a bounded
min/max span per file — point/range predicates on ANY of the
clustered columns skip most files. This is the clustering strategy
behind Delta/Iceberg `OPTIMIZE ZORDER BY`, built here from Spark
primitives: fixed-width integer bucketing (JVM expressions, no UDF) →
bit interleave (shift/or fold, whole-stage codegen) →
`repartitionByRange` on the key → `sortWithinPartitions` → parquet.

Bucketing is floor((v - min) * (2^bits - 1) / span) with an integer
numerator < 2^53, so the IEEE-double division floors identically in
Spark and the oracle; the interleave itself is pure shift/or — the
whole key is reproducible bit-for-bit across engines.

Reference: no counterpart (extension scope per SURVEY §7 /
BASELINE.json north star — lakehouse layout for training-data scans).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from auto_ml_platform_with_timeseries_data_spark.operators.timeseries import (
    cents,
    cents_sql,
)
from auto_ml_platform_with_timeseries_data_spark.registry import query
from auto_ml_platform_with_timeseries_data_spark.tables import load_table

_BITS = 16  # per-dimension bucket resolution (2 dims × 16 bits → 32-bit key)


def _bucket_expr(v: Column, vmin: Column, vmax: Column,
                 bits: int = _BITS) -> Column:
    """Fixed-width bucket id in [0, 2^bits): floor((v - min) *
    (2^bits - 1) / max(1, max - min)). Inputs are integers, and the
    scaled numerator stays well under 2^53, so the double division
    floors identically in Spark and the oracle."""
    span = F.greatest(vmax - vmin, F.lit(1))
    scaled = (v - vmin) * F.lit((1 << bits) - 1)
    return F.floor(scaled / span).cast("long")


def _interleave(bx: Column, by: Column, bits: int = _BITS) -> Column:
    """Morton interleave: bit i of bx → key bit 2i+1, bit i of by →
    key bit 2i. A shift/or fold over `bits` terms — pure JVM
    expressions inside whole-stage codegen."""
    terms = []
    for i in range(bits):
        terms.append(F.shiftleft(F.shiftright(bx, i).bitwiseAND(F.lit(1)),
                                 2 * i + 1))
        terms.append(F.shiftleft(F.shiftright(by, i).bitwiseAND(F.lit(1)),
                                 2 * i))
    return reduce(Column.bitwiseOR, terms)


def zorder_keys(df: DataFrame, col_x: str, col_y: str,
                bits: int = _BITS) -> DataFrame:
    """Append `zkey` (Morton code of the two bucketed columns). Global
    min/max come from ONE 1-row aggregate broadcast-joined back — a
    map-side pass plus a free broadcast, never a window over the
    table."""
    bounds = df.agg(
        F.min(col_x).alias("__xmin"), F.max(col_x).alias("__xmax"),
        F.min(col_y).alias("__ymin"), F.max(col_y).alias("__ymax"),
    )
    out = df.join(F.broadcast(bounds))
    bx = _bucket_expr(F.col(col_x), F.col("__xmin"), F.col("__xmax"), bits)
    by = _bucket_expr(F.col(col_y), F.col("__ymin"), F.col("__ymax"), bits)
    return out.withColumn("zkey", _interleave(bx, by, bits)) \
        .drop("__xmin", "__xmax", "__ymin", "__ymax")


def zorder_write(df: DataFrame, dest: str, col_x: str, col_y: str,
                 nfiles: int, bits: int = _BITS) -> str:
    """Cluster-and-write: compute zkey → `repartitionByRange(nfiles,
    zkey)` (one range shuffle; Spark samples split points) →
    `sortWithinPartitions(zkey)` (task-local sort, no extra exchange)
    → parquet. Each output file then holds a contiguous Morton range,
    i.e. a bounded min/max span in BOTH source dimensions — the
    property parquet footer pruning needs. The zkey column is dropped
    before write; it is layout state, not data."""
    keyed = zorder_keys(df, col_x, col_y, bits)
    (keyed.repartitionByRange(nfiles, "zkey")
     .sortWithinPartitions("zkey")
     .drop("zkey")
     .write.mode("overwrite").parquet(dest))
    return dest


def _interleave_duck(bx: str, by: str, bits: int = _BITS) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({bx} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({by} >> {i}) & 1) << {2 * i})")
    return " | ".join(terms)


_ZORDER_DUCK = f"""
    WITH b AS (
      SELECT min(user_id) AS xmin, max(user_id) AS xmax,
             CAST(min(floor(epoch(ts))) AS BIGINT) AS ymin,
             CAST(max(floor(epoch(ts))) AS BIGINT) AS ymax
      FROM events
    ),
    k AS (
      SELECT event_id,
             CAST(floor(CAST((user_id - xmin) * {(1 << _BITS) - 1} AS DOUBLE)
                        / greatest(xmax - xmin, 1)) AS BIGINT) AS bx,
             CAST(floor(CAST((CAST(floor(epoch(ts)) AS BIGINT) - ymin)
                             * {(1 << _BITS) - 1} AS DOUBLE)
                        / greatest(ymax - ymin, 1)) AS BIGINT) AS by
      FROM events, b
    )
    SELECT event_id, CAST({_interleave_duck('bx', 'by')} AS BIGINT) AS zkey
    FROM k
"""


@query("q155_zorder_keys", oracle=_ZORDER_DUCK)
def q155_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton keys over (user_id, event time) for the events table —
    the clustering key `zorder_write` sorts by. Checked bit-for-bit
    against the oracle's reimplementation of the same integer
    bucketing + interleave."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id",
        F.floor(F.col("ts").cast("double")).cast("long").alias("__epoch"),
    )
    return zorder_keys(ev, "user_id", "__epoch").select("event_id", "zkey")


# ---------------------------------------------------------------------------
# Small-file compaction (the OPTIMIZE bin-pack half of the lakehouse
# layout story; zorder_write above is the ZORDER half)
# ---------------------------------------------------------------------------


def compact_parquet(spark: SparkSession, src: str, dest: str,
                    target_bytes: int = 128 * 1024 * 1024) -> int:
    """Rewrite a fragmented parquet directory into ~target-sized files.
    Streaming ingest and per-epoch sinks leave thousands of tiny files;
    at 100 TB that means millions of scan tasks and NameNode/listing
    pressure, so periodic bin-packing is standard housekeeping
    (Delta/Iceberg `OPTIMIZE`). File count = ceil(input_bytes /
    target); the rewrite uses round-robin `repartition(n)` — one
    shuffle, but EVEN output files (coalesce would be shuffle-free yet
    inherits upstream skew, producing exactly the ragged layout
    compaction exists to fix). Input size comes from the directory
    listing — metadata, not data. Returns the file count written."""
    import glob as _glob
    import os as _os

    total = sum(_os.path.getsize(f)
                for f in _glob.glob(_os.path.join(src, "part-*")))
    nfiles = max(1, -(-total // target_bytes))
    (spark.read.parquet(src).repartition(nfiles)
     .write.mode("overwrite").parquet(dest))
    return nfiles


@query(
    "q157_compaction",
    oracle="""
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           TRUE AS compacted
    FROM documents GROUP BY lang
    """,
)
def q157_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction end-to-end: fragment documents into tiny files
    (maxRecordsPerFile=20), bin-pack them back toward 256 KiB targets,
    and prove (a) the rewrite shrank the file count and (b) content is
    byte-identical, via the oracle-checked per-lang aggregate."""
    import glob
    import os

    from auto_ml_platform_with_timeseries_data_spark.staging import staging_dir

    docs = load_table(spark, sf_dir, "documents")
    frag = staging_dir("frag")
    comp = staging_dir("comp")
    (docs.write.mode("overwrite").option("maxRecordsPerFile", 20)
     .parquet(frag))
    compact_parquet(spark, frag, comp, target_bytes=256 * 1024)
    n_frag = len(glob.glob(os.path.join(frag, "part-*")))
    n_comp = len(glob.glob(os.path.join(comp, "part-*")))
    back = spark.read.parquet(comp)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.lit(bool(n_comp < n_frag)).alias("compacted"),
    )


# ---------------------------------------------------------------------------
# Distributed parquet manifest (skipping metadata, Iceberg-manifest style)
# ---------------------------------------------------------------------------


def parquet_manifest(spark: SparkSession, path: str,
                     columns: list[str]) -> DataFrame:
    """Per-file skipping metadata built DISTRIBUTED: the driver only
    lists paths (metadata); each task opens its files' parquet FOOTERS
    via pyarrow — row groups are never read — and emits (file, rows,
    bytes, col, min, max). At 100 TB with millions of files this is how
    query planners get pruning stats without scanning data; the
    min/max rows here are exactly what `zorder_write` bounds per file.
    Values surface as strings (one schema for any column type)."""
    import glob as _glob
    import os as _os

    files = sorted(_glob.glob(_os.path.join(path, "part-*.parquet")))

    def kernel(batches, cols=tuple(columns)):
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in batches:
            out = {"file": [], "rows": [], "bytes": [],
                   "col": [], "min": [], "max": []}
            for f in pdf["path"]:
                md = pq.ParquetFile(f).metadata
                for c in cols:
                    idx = md.schema.names.index(c)
                    mins, maxs = [], []
                    for rg in range(md.num_row_groups):
                        st = md.row_group(rg).column(idx).statistics
                        mins.append(st.min)
                        maxs.append(st.max)
                    out["file"].append(_os.path.basename(f))
                    out["rows"].append(md.num_rows)
                    out["bytes"].append(_os.path.getsize(f))
                    out["col"].append(c)
                    out["min"].append(str(min(mins)))
                    out["max"].append(str(max(maxs)))
            yield pd.DataFrame(out)

    paths_df = spark.createDataFrame([(f,) for f in files], "path string") \
        .repartition(max(1, min(len(files), 32)))
    return paths_df.mapInPandas(
        kernel,
        "file string, rows long, bytes long, col string, "
        "min string, max string")


# ---------------------------------------------------------------------------
# SCD2 history merge + snapshot diff (table-versioning half of the
# lakehouse story: q83 is MERGE-upsert for facts; these are the
# slowly-changing-dimension and version-audit ops around it)
# ---------------------------------------------------------------------------


def scd2_apply(dim: DataFrame, changes: DataFrame, key: str,
               tracked: list[str], ts: int) -> DataFrame:
    """Apply one change batch to a type-2 slowly-changing dimension:
    the current snapshot `dim` (version valid_from=0) absorbs
    `changes` at time `ts`, producing the full SCD2 history —
    unchanged rows stay open, genuinely-changed rows are CLOSED
    (valid_to=ts) and re-opened with the new attributes, brand-new
    keys open at ts, and NO-OP change rows (same attribute values)
    create no version churn.

    Change detection is per-column NULL-SAFE equality (eqNullSafe /
    IS NOT DISTINCT FROM) — never a string-concat row hash, whose
    float formatting differs across engines. ONE full-outer join on
    the key is the only shuffle, and the join executes ONCE: every
    joined row emits its 1-2 version rows through a single
    array+explode projection (a 3-way union of filtered selects would
    re-run the join per branch — 3 merge passes over the same shuffled
    data at 100 TB). The dim side is bucketed/Z-ordered on the key
    (q155) and the daily change batch is delta-sized — the standard
    warehouse nightly."""
    c = dim.alias("c")
    n = changes.alias("n")
    j = c.join(n, F.col(f"c.{key}").eqNullSafe(F.col(f"n.{key}")), "full")
    differs = reduce(
        lambda a, b: a | b,
        [~F.col(f"c.{t}").eqNullSafe(F.col(f"n.{t}")) for t in tracked])
    has_c = F.col(f"c.{key}").isNotNull()
    has_n = F.col(f"n.{key}").isNotNull()

    def _ver(side: str, vfrom, vto, current: bool):
        return F.struct(
            *[F.col(f"{side}.{t}").alias(t) for t in [key] + tracked],
            F.lit(vfrom).cast("long").alias("valid_from"),
            (F.lit(vto).cast("long") if vto is not None
             else F.lit(None).cast("long")).alias("valid_to"),
            F.lit(current).alias("is_current"),
        )

    versions = (
        F.when(has_c & has_n & differs,
               F.array(_ver("c", 0, ts, False), _ver("n", ts, None, True)))
        .when(has_c, F.array(_ver("c", 0, None, True)))
        .otherwise(F.array(_ver("n", ts, None, True)))
    )
    return j.select(F.explode(versions).alias("__v")).select("__v.*")


_SCD2_TRACKED = ["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]


def _scd2_changes_sql(src: str = "customer") -> str:
    """The deterministic change batch, as SQL (mirrored in Spark below):
    updates (custkey%10=0: balance +100, segment MOVED), no-op rows
    (custkey%7=3 and not %10=0: identical values), new keys
    (custkey%100=0: key+10_000_000 — offset past any realistic custkey
    space so planted "new" keys can never collide with real ones at
    larger scale factors; sf0.1 already holds 15k customers)."""
    return f"""
      SELECT c_custkey, c_name, c_nationkey,
             c_acctbal + 100.0 AS c_acctbal,
             'MOVED' AS c_mktsegment
      FROM {src} WHERE c_custkey % 10 = 0
      UNION ALL
      SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      FROM {src} WHERE c_custkey % 7 = 3 AND c_custkey % 10 != 0
      UNION ALL
      SELECT c_custkey + 10000000 AS c_custkey, c_name, c_nationkey,
             c_acctbal, c_mktsegment
      FROM {src} WHERE c_custkey % 100 = 0
    """


def _scd2_changes(cust: DataFrame) -> DataFrame:
    updates = cust.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey", "c_name", "c_nationkey",
        (F.col("c_acctbal") + F.lit(100.0)).alias("c_acctbal"),
        F.lit("MOVED").alias("c_mktsegment"))
    noops = cust.filter((F.col("c_custkey") % 7 == 3)
                        & (F.col("c_custkey") % 10 != 0)).select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    news = cust.filter(F.col("c_custkey") % 100 == 0).select(
        (F.col("c_custkey") + 10_000_000).alias("c_custkey"),
        "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    return updates.unionByName(noops).unionByName(news)


@query(
    "q173_scd2_dimension",
    oracle=f"""
    WITH chg AS ({_scd2_changes_sql()}),
    j AS (
      SELECT c.c_custkey AS ck, n.c_custkey AS nk,
             c.c_name AS c_name_c, c.c_nationkey AS c_nationkey_c,
             c.c_acctbal AS c_acctbal_c, c.c_mktsegment AS c_mktsegment_c,
             n.c_name AS c_name_n, n.c_nationkey AS c_nationkey_n,
             n.c_acctbal AS c_acctbal_n, n.c_mktsegment AS c_mktsegment_n,
             (NOT (c.c_name IS NOT DISTINCT FROM n.c_name)
              OR NOT (c.c_nationkey IS NOT DISTINCT FROM n.c_nationkey)
              OR NOT (c.c_acctbal IS NOT DISTINCT FROM n.c_acctbal)
              OR NOT (c.c_mktsegment IS NOT DISTINCT FROM n.c_mktsegment))
               AS differs
      FROM customer c FULL JOIN chg n ON c.c_custkey = n.c_custkey
    )
    SELECT ck AS c_custkey, c_name_c AS c_name,
           CAST(c_nationkey_c AS INT) AS c_nationkey,
           c_acctbal_c AS c_acctbal, c_mktsegment_c AS c_mktsegment,
           CAST(0 AS BIGINT) AS valid_from, CAST(NULL AS BIGINT) AS valid_to,
           TRUE AS is_current
    FROM j WHERE ck IS NOT NULL AND (nk IS NULL OR NOT differs)
    UNION ALL
    SELECT ck, c_name_c, CAST(c_nationkey_c AS INT), c_acctbal_c,
           c_mktsegment_c, CAST(0 AS BIGINT), CAST(1 AS BIGINT), FALSE
    FROM j WHERE ck IS NOT NULL AND nk IS NOT NULL AND differs
    UNION ALL
    SELECT nk, c_name_n, CAST(c_nationkey_n AS INT), c_acctbal_n,
           c_mktsegment_n, CAST(1 AS BIGINT), CAST(NULL AS BIGINT), TRUE
    FROM j WHERE nk IS NOT NULL AND (ck IS NULL OR differs)
    """,
)
def q173_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD merge on the customer dimension: a deterministic
    change batch (updates + no-ops + new keys) applied at ts=1; the
    full history table is value-hash-checked — no-op change rows must
    NOT spawn versions, closed rows carry valid_to=1, new keys open at
    1."""
    cust = load_table(spark, sf_dir, "customer")
    return scd2_apply(cust, _scd2_changes(cust), "c_custkey",
                      _SCD2_TRACKED, ts=1)


def snapshot_diff(a: DataFrame, b: DataFrame, key: str,
                  cols: list[str]) -> DataFrame:
    """Version audit between two snapshots of the same table: one row
    per key whose state differs — status 'added' (only in b),
    'removed' (only in a), 'changed' (present in both, any tracked
    column differs under null-safe compare). Unchanged keys emit
    nothing, so the output is delta-sized. One full-outer join on the
    key; per-column eqNullSafe, never a stringified row hash."""
    aa = a.alias("a")
    bb = b.alias("b")
    j = aa.join(bb, F.col(f"a.{key}").eqNullSafe(F.col(f"b.{key}")), "full")
    differs = reduce(
        lambda x, y: x | y,
        [~F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}")) for c in cols])
    has_a = F.col(f"a.{key}").isNotNull()
    has_b = F.col(f"b.{key}").isNotNull()
    return j.select(
        F.coalesce(F.col(f"a.{key}"), F.col(f"b.{key}")).alias(key),
        F.when(~has_a, F.lit("added"))
        .when(~has_b, F.lit("removed"))
        .when(differs, F.lit("changed"))
        .alias("status"),
    ).filter(F.col("status").isNotNull())


@query(
    "q174_snapshot_diff",
    oracle=f"""
    WITH v2 AS (
      SELECT c_custkey, c_name, c_nationkey,
             CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 100.0
                  ELSE c_acctbal END AS c_acctbal,
             c_mktsegment
      FROM customer WHERE c_custkey % 13 != 0
      UNION ALL
      SELECT c_custkey + 10000000, c_name, c_nationkey, c_acctbal,
             c_mktsegment
      FROM customer WHERE c_custkey % 100 = 0
    ),
    j AS (
      SELECT a.c_custkey AS ak, b.c_custkey AS bk,
             (NOT (a.c_name IS NOT DISTINCT FROM b.c_name)
              OR NOT (a.c_nationkey IS NOT DISTINCT FROM b.c_nationkey)
              OR NOT (a.c_acctbal IS NOT DISTINCT FROM b.c_acctbal)
              OR NOT (a.c_mktsegment IS NOT DISTINCT FROM b.c_mktsegment))
               AS differs
      FROM customer a FULL JOIN v2 b ON a.c_custkey = b.c_custkey
    )
    SELECT coalesce(ak, bk) AS c_custkey,
           CASE WHEN ak IS NULL THEN 'added'
                WHEN bk IS NULL THEN 'removed'
                WHEN differs THEN 'changed' END AS status
    FROM j
    WHERE ak IS NULL OR bk IS NULL OR differs
    """,
)
def q174_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diff two versions of the customer table: v2 drops custkey%13=0
    (removed), bumps balances for %10=0 (changed), and appends shifted
    keys for %100=0 (added); only the delta rows come back."""
    cust = load_table(spark, sf_dir, "customer")
    v2 = cust.filter(F.col("c_custkey") % 13 != 0).select(
        "c_custkey", "c_name", "c_nationkey",
        F.when(F.col("c_custkey") % 10 == 0,
               F.col("c_acctbal") + F.lit(100.0))
        .otherwise(F.col("c_acctbal")).alias("c_acctbal"),
        "c_mktsegment",
    ).unionByName(
        cust.filter(F.col("c_custkey") % 100 == 0).select(
            (F.col("c_custkey") + 10_000_000).alias("c_custkey"),
            "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
    return snapshot_diff(cust, v2, "c_custkey", _SCD2_TRACKED)


# ---------------------------------------------------------------------------
# q196 — continuous aggregate with incremental (delta-bounded) refresh
# ---------------------------------------------------------------------------


def continuous_aggregate_refresh(events: DataFrame, ts_col: str,
                                 value_col: str,
                                 delta_pred: Column) -> DataFrame:
    """TimescaleDB-style continuous aggregate: an hourly materialized
    rollup (count, sum) maintained by INCREMENTAL refresh — only the
    buckets the delta batch touches are recomputed; every other bucket
    is carried over from the previous materialization untouched.

    Dataflow: `delta_pred` marks the newly-arrived rows. The previous
    materialization is the rollup of ¬delta rows; the refresh set is
    the DISTINCT buckets the delta touches (a broadcast-sized frame —
    a crawl's delta lands in a bounded recent window); touched buckets
    are recomputed from ALL rows (so late data merges into old buckets
    correctly, not just appended), and the final view is
    carry-over ⟕anti touched ∪ recomputed. Refresh cost is therefore
    ∝ |touched buckets| + |delta|, never ∝ corpus — the invariant that
    makes a 100 TB hypertable's rollup maintainable per micro-batch.

    Values are summed as round-half-up integer cents so the
    incremental plan and the one-shot oracle agree bit-for-bit.
    Reference analogue: the per-group time-series aggregation the
    platform recomputes from scratch on every upload
    (auto_machine_learning.py train path); this is the maintained
    version. Streaming sibling: q39/q182."""
    ev = events.select(
        F.date_trunc("hour", F.col(ts_col)).alias("__bucket"),
        cents(value_col).cast("long").alias("__cents"),
        delta_pred.alias("__is_delta"),
    )
    old_agg = (ev.filter(~F.col("__is_delta"))
               .groupBy("__bucket")
               .agg(F.count(F.lit(1)).alias("n_events"),
                    F.sum("__cents").alias("sum_cents")))
    touched = (ev.filter(F.col("__is_delta"))
               .select("__bucket").distinct())
    recomputed = (ev.join(F.broadcast(touched), "__bucket", "leftsemi")
                  .groupBy("__bucket")
                  .agg(F.count(F.lit(1)).alias("n_events"),
                       F.sum("__cents").alias("sum_cents"))
                  .withColumn("refreshed", F.lit(1)))
    carried = (old_agg.join(F.broadcast(touched), "__bucket", "leftanti")
               .withColumn("refreshed", F.lit(0)))
    return carried.unionByName(recomputed).select(
        F.date_format("__bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("sum_cents").cast("long").alias("sum_cents"),
        F.col("refreshed").cast("int").alias("refreshed"),
    )


@query(
    "q196_continuous_aggregate",
    oracle=f"""
    WITH mx AS (SELECT max(ts) AS m FROM events),
    ev AS (
      SELECT date_trunc('hour', ts) AS b,
             {cents_sql("value")} AS cents, ts
      FROM events
    ),
    touched AS (
      SELECT DISTINCT b FROM ev, mx WHERE ts > m - INTERVAL 48 HOUR
    )
    SELECT strftime(b, '%Y-%m-%d %H:%M:%S') AS bucket,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           CAST(CASE WHEN b IN (SELECT b FROM touched) THEN 1 ELSE 0 END
                AS INT) AS refreshed
    FROM ev GROUP BY b
    """,
)
def q196_continuous_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain the hourly events rollup incrementally, treating the
    trailing 48 h as the newly-arrived delta: carried-over buckets and
    recomputed buckets together must equal the one-shot rollup the
    oracle computes — every bucket's count, integer-cent sum, and
    refreshed flag value-hash-checked.

    The cutoff is resolved to a DRIVER-SIDE LITERAL (one bounded
    1-row collect) rather than a broadcast 1-row frame: a literal
    `ts > cutoff` predicate reaches the parquet scan (PushedFilters →
    footer/partition pruning on a time-partitioned hypertable), where
    a crossJoin-carried cutoff would force every branch to re-derive
    the max and full-scan — the audit showed 8 nested-loop joins for
    the frame version vs none for the literal."""
    import datetime as dt

    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts")).first()[0]
    cutoff = mx - dt.timedelta(hours=48)
    return continuous_aggregate_refresh(
        ev, "ts", "value", F.col("ts") > F.lit(cutoff))


# ---------------------------------------------------------------------------
# q210 — CDC apply: ordered op-log (insert/update/delete) → final state
# ---------------------------------------------------------------------------


def cdc_apply(oplog: DataFrame, key_col: str,
              seq_col: str = "seq", op_col: str = "op") -> DataFrame:
    """Collapse a change-data-capture log into final table state:
    last-writer-wins per key by the log's sequence number, with 'D'
    tombstones deleting the key. Exactly the Debezium-consumer /
    MERGE-loop semantics — but as ONE window pass instead of N
    sequential merges, which is what makes replaying a day of CDC
    against a 100 TB table tractable: shuffle once on the key, take
    each key's max-seq row, drop tombstones. The log may arrive in
    any order (the window sorts per key); q83's single-batch upsert
    and q173's SCD2 history are the siblings — this is the
    'current-state table' consumer."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(key_col).orderBy(
        F.col(seq_col).desc())
    return (oplog.withColumn("__rn", F.row_number().over(w))
            .filter((F.col("__rn") == 1) & (F.col(op_col) != "D"))
            .drop("__rn", op_col)
            .withColumnRenamed(seq_col, "last_seq"))


_CDC_LOG_DUCK = """
      SELECT c_custkey, 'I' AS op, CAST(1 AS BIGINT) AS seq,
             c_acctbal, c_mktsegment
      FROM customer
      UNION ALL
      SELECT c_custkey, 'U', 2, c_acctbal + 100.0, c_mktsegment
      FROM customer WHERE c_custkey % 10 = 0
      UNION ALL
      SELECT c_custkey, 'D', 3, c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey % 13 = 0
      UNION ALL
      SELECT c_custkey, 'U', 4, c_acctbal + 100.0, 'MACHINERY'
      FROM customer WHERE c_custkey % 20 = 0
"""


@query(
    "q210_cdc_apply",
    oracle=f"""
    WITH log AS ({_CDC_LOG_DUCK}),
    ranked AS (
      SELECT c_custkey, op, seq, c_acctbal, c_mktsegment,
             row_number() OVER (PARTITION BY c_custkey
                                ORDER BY seq DESC) AS rn
      FROM log
    )
    SELECT c_custkey, CAST(seq AS BIGINT) AS last_seq,
           c_acctbal, c_mktsegment
    FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
)
def q210_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a four-epoch CDC log over customer (full insert, a +100
    balance update wave, a %13 tombstone wave, a %20 segment rewrite
    that supersedes the earlier update): the collapsed current-state
    table — surviving keys, their last sequence, and final column
    values — value-hash-checked. Deletes win over earlier updates;
    later updates win over earlier ones; untouched rows keep seq 1."""
    cust = load_table(spark, sf_dir, "customer")

    def ep(pred, op, seq, bal, seg):
        base = cust.filter(pred) if pred is not None else cust
        return base.select(
            "c_custkey", F.lit(op).alias("op"),
            F.lit(seq).cast("long").alias("seq"),
            bal.alias("c_acctbal"), seg.alias("c_mktsegment"))

    log = (
        ep(None, "I", 1, F.col("c_acctbal"), F.col("c_mktsegment"))
        .unionByName(ep(F.col("c_custkey") % 10 == 0, "U", 2,
                        F.col("c_acctbal") + 100.0,
                        F.col("c_mktsegment")))
        .unionByName(ep(F.col("c_custkey") % 13 == 0, "D", 3,
                        F.col("c_acctbal"), F.col("c_mktsegment")))
        .unionByName(ep(F.col("c_custkey") % 20 == 0, "U", 4,
                        F.col("c_acctbal") + 100.0, F.lit("MACHINERY")))
    )
    return cdc_apply(log, "c_custkey").select(
        "c_custkey", "last_seq", "c_acctbal", "c_mktsegment")


# ---------------------------------------------------------------------------
# q218 — incremental view maintenance (IVM) for a join view: the delta
# algebra Δ(O ⋈ L) = ΔO⋈L ∪ O⋈ΔL ∪ ΔO⋈ΔL that materialized-view
# engines (e.g. DBSP/Materialize-style, or Delta Live Tables) apply
# instead of recomputing the join — the join sibling of q196/q204's
# additive aggregate maintenance
# ---------------------------------------------------------------------------


def ivm_join_delta(old_left: DataFrame, old_right: DataFrame,
                   delta_left: DataFrame, delta_right: DataFrame,
                   on: str | list[str]) -> DataFrame:
    """The insert-delta of an inner-join view: rows the view GAINS when
    ``delta_left``/``delta_right`` batches arrive. The three terms are
    disjoint by construction (each pair of rows joins in exactly one
    term, by which sides are new), so the union needs no dedup.

    100 TB design: each term shuffles on the join key like any join,
    but the two mixed terms are DELTA-sized on one side — the batch
    joins the (bucketed/partitioned) base table with partition pruning
    on the key, and AQE broadcasts the delta side when it fits; the
    base⋈base term is never recomputed. The maintained view (or any
    additive aggregate over it, via q204's merge algebra) is then
    updated by appending these delta rows — work per batch is
    O(|Δ| · join fan-out), independent of the accumulated view size."""
    return (delta_left.join(old_right, on)
            .unionByName(old_left.join(delta_right, on))
            .unionByName(delta_left.join(delta_right, on)))


@query(
    "q218_ivm_join",
    oracle=f"""
    WITH v AS (
      SELECT o.o_orderpriority AS priority,
             {cents_sql("l.l_extendedprice")} *
             (100 - {cents_sql("l.l_discount")})
               AS rev
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    )
    SELECT priority, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(rev) AS BIGINT) AS revenue_micro
    FROM v GROUP BY priority
    """,
)
def q218_ivm_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain the orders⋈lineitem join view incrementally: orders
    with o_orderkey % 10 == 0 arrive as a late order batch and
    lineitems with l_linenumber ≥ 4 as a late line batch (so all
    three delta terms are non-empty: new orders × old lines, old
    orders × new lines, new × new), the view gains exactly
    Δ = ΔO⋈L ∪ O⋈ΔL ∪ ΔO⋈ΔL, and the maintained view's per-priority
    (count, exact integer-micro revenue) digest must equal the
    oracle's ONE-SHOT join of the full tables — proving the delta
    algebra misses no pair and duplicates none."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber",
        (cents("l_extendedprice").cast("long")
         * (F.lit(100) - cents("l_discount").cast("long")))
        .alias("rev")).withColumnRenamed("l_orderkey", "o_orderkey")
    old_o = o.filter(F.col("o_orderkey") % 10 != 0)
    new_o = o.filter(F.col("o_orderkey") % 10 == 0)
    old_l = li.filter(F.col("l_linenumber") < 4).drop("l_linenumber")
    new_l = li.filter(F.col("l_linenumber") >= 4).drop("l_linenumber")
    view_old = old_o.join(old_l, "o_orderkey")
    delta = ivm_join_delta(old_o, old_l, new_o, new_l, "o_orderkey")
    maintained = view_old.unionByName(delta)
    return (maintained.groupBy(F.col("o_orderpriority").alias("priority"))
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.sum("rev").alias("revenue_micro")))


# ---------------------------------------------------------------------------
# q221 — data-skipping certificate: measure what the q155 Z-order
# layout actually buys. Per-file min/max footer stats (the parquet
# pruning contract) are computed for a Morton-clustered layout and an
# id-ordered baseline, then probed with a band predicate on EACH
# clustered dimension — files whose [min, max] span misses the band
# are the ones a scan skips.
# ---------------------------------------------------------------------------


def zorder_pruning_certificate(ev: DataFrame, id_col: str, x_col: str,
                               y_col: str, nfiles: int = 64) -> DataFrame:
    """(layout, probe, files_total, files_hit) for four combinations:
    {zorder, id_ordered} × {x-band, y-band}. File assignment is the
    DETERMINISTIC splitter — fixed-width Morton-key ranges
    (zkey >> (2·bits − log2(nfiles))) for the clustered layout,
    fixed-width id ranges for the baseline — so the certificate is
    bit-reproducible across engines (the production `zorder_write`
    path uses sampled repartitionByRange instead; same clustering
    property, nondeterministic split points). Probe bands are the
    middle decile of each dimension, derived from the same broadcast
    1-row bounds aggregate the bucketing uses. Everything after the
    Morton interleave is integer min/max/count — exact.

    The 100 TB claim this certifies: a Morton-clustered table answers
    band predicates on ANY clustered dimension by reading a bounded
    fraction of files, while the id-ordered baseline must read ~all
    files for dimensions uncorrelated with id.

    r15 NOTE: a mid-round restructure (explode each row into its
    (layout, file) pair so one groupBy builds both layouts' stats;
    inline'd probe structs; persisted bounds) collapsed the plan's 14
    source references to 2 — and measured ~1.9x SLOWER at sf0.1
    (paired 3-variant A/B: restructure 2.68 s / restructure without
    the bounds persist 2.63 s / this shape 1.44 s). The union shape's
    duplicate subtrees share runtime broadcast exchanges and its
    branches run as parallel jobs, while the "2-scan" shape serializes
    into barriers; this is a layout-audit certificate, not a data
    path, so the bench-scale number wins. REVERTED."""
    shift = 2 * _BITS - max(1, (nfiles - 1).bit_length())
    bounds = ev.agg(
        F.min(x_col).alias("__uxmin"), F.max(x_col).alias("__uxmax"),
        F.min(y_col).alias("__uymin"), F.max(y_col).alias("__uymax"),
        F.min(id_col).alias("__emin"), F.max(id_col).alias("__emax"),
    )
    zk = (zorder_keys(ev, x_col, y_col)
          .crossJoin(F.broadcast(bounds)))
    zfile = F.shiftright(F.col("zkey"), shift)
    bfile = F.floor(
        ((F.col(id_col) - F.col("__emin")) * F.lit(nfiles - 1))
        / F.greatest(F.col("__emax") - F.col("__emin"), F.lit(1)))
    stats = None
    for layout, fcol in (("zorder", zfile), ("id_ordered", bfile)):
        st = (zk.groupBy(fcol.alias("__f"))
              .agg(F.min(x_col).alias("__xlo"), F.max(x_col).alias("__xhi"),
                   F.min(y_col).alias("__ylo"), F.max(y_col).alias("__yhi"))
              .select(F.lit(layout).alias("layout"), "__f",
                      "__xlo", "__xhi", "__ylo", "__yhi"))
        stats = st if stats is None else stats.unionByName(st)
    stats = stats.crossJoin(F.broadcast(bounds))
    xlo = F.col("__uxmin") + F.expr("(__uxmax - __uxmin) * 45 div 100")
    xhi = F.col("__uxmin") + F.expr("(__uxmax - __uxmin) * 55 div 100")
    ylo = F.col("__uymin") + F.expr("(__uymax - __uymin) * 45 div 100")
    yhi = F.col("__uymin") + F.expr("(__uymax - __uymin) * 55 div 100")
    agg = stats.groupBy("layout").agg(
        F.count(F.lit(1)).cast("long").alias("files_total"),
        F.sum(F.when((F.col("__xhi") >= xlo) &
                     (F.col("__xlo") <= xhi), 1).otherwise(0))
        .cast("long").alias("__hx"),
        F.sum(F.when((F.col("__yhi") >= ylo) &
                     (F.col("__ylo") <= yhi), 1).otherwise(0))
        .cast("long").alias("__hy"),
    )
    return (agg.select("layout", F.lit("x_band").alias("probe"),
                       "files_total", F.col("__hx").alias("files_hit"))
            .unionByName(
                agg.select("layout", F.lit("y_band").alias("probe"),
                           "files_total", F.col("__hy").alias("files_hit"))))


def _zprune_oracle() -> str:
    m = (1 << _BITS) - 1
    return f"""
    WITH b AS (
      SELECT min(user_id) AS xmin, max(user_id) AS xmax,
             CAST(min(floor(epoch(ts))) AS BIGINT) AS ymin,
             CAST(max(floor(epoch(ts))) AS BIGINT) AS ymax,
             min(event_id) AS emin, max(event_id) AS emax
      FROM events
    ),
    k AS (
      SELECT event_id, user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS ep,
             CAST(floor(CAST((user_id - xmin) * {m} AS DOUBLE)
                        / greatest(xmax - xmin, 1)) AS BIGINT) AS bx,
             CAST(floor(CAST((CAST(floor(epoch(ts)) AS BIGINT) - ymin)
                             * {m} AS DOUBLE)
                        / greatest(ymax - ymin, 1)) AS BIGINT) AS by,
             emin, emax
      FROM events, b
    ),
    z AS (
      SELECT event_id, user_id, ep,
             (CAST(({_interleave_duck('bx', 'by')}) AS BIGINT) >> 26) AS zf,
             CAST(floor(CAST((event_id - emin) * 63 AS DOUBLE)
                        / greatest(emax - emin, 1)) AS BIGINT) AS bf
      FROM k
    ),
    st AS (
      SELECT 'zorder' AS layout, zf AS f,
             min(user_id) AS xlo, max(user_id) AS xhi,
             min(ep) AS ylo, max(ep) AS yhi
      FROM z GROUP BY zf
      UNION ALL
      SELECT 'id_ordered', bf,
             min(user_id), max(user_id), min(ep), max(ep)
      FROM z GROUP BY bf
    ),
    p AS (
      SELECT xmin + (xmax - xmin) * 45 // 100 AS pxlo,
             xmin + (xmax - xmin) * 55 // 100 AS pxhi,
             ymin + (ymax - ymin) * 45 // 100 AS pylo,
             ymin + (ymax - ymin) * 55 // 100 AS pyhi
      FROM b
    ),
    a AS (
      SELECT layout, CAST(count(*) AS BIGINT) AS files_total,
             CAST(sum(CASE WHEN xhi >= pxlo AND xlo <= pxhi
                      THEN 1 ELSE 0 END) AS BIGINT) AS hx,
             CAST(sum(CASE WHEN yhi >= pylo AND ylo <= pyhi
                      THEN 1 ELSE 0 END) AS BIGINT) AS hy
      FROM st, p GROUP BY layout
    )
    SELECT layout, 'x_band' AS probe, files_total, hx AS files_hit FROM a
    UNION ALL
    SELECT layout, 'y_band' AS probe, files_total, hy AS files_hit FROM a
    """


@query("q221_zorder_pruning", oracle=_zprune_oracle())
def q221_zorder_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-skipping certificate for the events table clustered on
    (user_id, event time): per-layout, per-probe file-hit counts,
    value-hash-checked — the measured proof that Morton clustering
    bounds footer-stat spans on BOTH dimensions while the id-ordered
    baseline only prunes the dimension id correlates with."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id",
        F.floor(F.col("ts").cast("double")).cast("long").alias("__epoch"),
    )
    return zorder_pruning_certificate(ev, "event_id", "user_id", "__epoch")


# ---------------------------------------------------------------------------
# q258 — bucketed co-located join: the lakehouse layout decision that
# removes the shuffle from the workload's dominant big-big join. Both
# fact tables persist bucketed (and sorted) by the join key with the
# same bucket count; the join then reads bucket i against bucket i
# with NO Exchange on either side — at 100 TB this converts the
# largest network step of every downstream query into local disk
# reads, paid once at write time. The zero-exchange claim is pinned by
# a plan contract test (tests/test_layout.py), not just prose.
# ---------------------------------------------------------------------------

_BUCKETS = 8


def write_bucketed(df: DataFrame, key: str, table: str, path: str,
                   nbuckets: int = _BUCKETS) -> None:
    """Persist `df` bucketed AND sorted by `key` into `nbuckets`
    buckets at `path`, registered as `table`. bucketBy requires the
    table API (plain .parquet() drops bucket metadata); the explicit
    path keeps the data under the caller's staging root while the
    in-memory catalog carries the bucket spec the planner needs."""
    (df.write.bucketBy(nbuckets, key).sortBy(key)
     .option("path", path).mode("overwrite")
     .format("parquet").saveAsTable(table))


def bucketed_join(spark: SparkSession, left_table: str, right_table: str,
                  left_key: str, right_key: str) -> DataFrame:
    """Join two same-bucket-count tables on their bucket keys — the
    planner serves this bucket-to-bucket (SortMergeJoin with zero
    Exchange; the write-side sort even removes the Sort)."""
    return spark.table(left_table).join(
        spark.table(right_table),
        F.col(left_key) == F.col(right_key))


@query(
    "q258_bucketed_join",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(ROUND(sum(CAST(l_extendedprice AS DECIMAL(12,4))
                          * CAST(1 - l_discount AS DECIMAL(8,4))), 2)
                AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def q258_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by order priority over the bucketed lineitem⋈orders
    join: both facts persist bucketed by orderkey (8 buckets, sorted),
    then join WITHOUT any Exchange — only the final priority group-by
    shuffles, and its input is the co-located join output. Values are
    identical to the plain parquet join (the oracle); what the layout
    changes is the plan, pinned by the exchange-count contract in
    tests/test_layout.py. The bucket write is the amortized cost the
    lakehouse pays once; the query pays it per call here because the
    staging root is process-scoped."""
    from auto_ml_platform_with_timeseries_data_spark.staging import (
        staging_dir,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority")
    write_bucketed(li, "l_orderkey", "sparkgraft_bkt_lineitem",
                   staging_dir("bkt_lineitem"))
    write_bucketed(o, "o_orderkey", "sparkgraft_bkt_orders",
                   staging_dir("bkt_orders"))
    joined = bucketed_join(spark, "sparkgraft_bkt_lineitem",
                           "sparkgraft_bkt_orders",
                           "l_orderkey", "o_orderkey")
    rev = F.sum(F.col("l_extendedprice").cast("decimal(12,4)")
                * (F.lit(1) - F.col("l_discount")).cast("decimal(8,4)"))
    return (joined.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).cast("long").alias("n_items"),
                 F.round(rev, 2).cast("double").alias("revenue")))


# ---------------------------------------------------------------------------
# Hilbert-curve clustering (q296-wave layout sibling of q155's Morton)
# ---------------------------------------------------------------------------

_HBITS = 8  # per-dimension resolution: 2 × 8 bits → 16-bit Hilbert key.
# The Hilbert walk visits every cell of the 2^8 × 2^8 grid through
# ADJACENT cells only (Morton jumps corners), so a file holding a
# contiguous key range spans a tighter bounding box in BOTH dimensions
# — strictly better worst-case min/max pruning than Z-order at the
# same sort cost. 8 bits keeps the unrolled per-level expression chain
# small (the key is a FILE-layout dial: 65k cells already exceeds any
# realistic file count); raise it if files outnumber cells.


def _hilbert_steps(bits: int = _HBITS) -> list[tuple[str, str, str]]:
    """(name, spark_expr, duck_expr) chain computing the Hilbert index
    from bucket columns __bx/__by — one python generator feeds both
    engines (the q291/_hll pattern); the dialects differ only in the
    integer-division token. Uses the mod-reduced variant of the
    classic xy2d walk (coordinates stay in [0, s) after each level, so
    div/mod never see negatives — where engine semantics diverge);
    (3·rx) xor ry is expanded arithmetically as 3·rx + ry − 2·rx·ry
    (exact on the {0,1} domain, no xor token needed)."""
    steps: list[tuple[str, str, str]] = [
        ("__x0", "__bx", "__bx"), ("__y0", "__by", "__by")]
    dterms = []
    for i in range(bits):
        s = 1 << (bits - 1 - i)
        x, y = f"__x{i}", f"__y{i}"
        rx_s, rx_d = f"({x} div {s})", f"({x} // {s})"
        ry_s, ry_d = f"({y} div {s})", f"({y} // {s})"
        steps.append((f"__rx{i}", rx_s, rx_d))
        steps.append((f"__ry{i}", ry_s, ry_d))
        rx, ry = f"__rx{i}", f"__ry{i}"
        dterms.append(f"{s * s} * (3 * {rx} + {ry} - 2 * {rx} * {ry})")
        xm, ym = f"__xm{i}", f"__ym{i}"
        steps.append((xm, f"{x} % {s}", f"{x} % {s}"))
        steps.append((ym, f"{y} % {s}", f"{y} % {s}"))
        nx = (f"{ry} * {xm} + (1 - {ry})"
              f" * ({rx} * ({s - 1} - {ym}) + (1 - {rx}) * {ym})")
        ny = (f"{ry} * {ym} + (1 - {ry})"
              f" * ({rx} * ({s - 1} - {xm}) + (1 - {rx}) * {xm})")
        steps.append((f"__x{i + 1}", nx, nx))
        steps.append((f"__y{i + 1}", ny, ny))
    dsum = " + ".join(dterms)
    steps.append(("hkey", dsum, dsum))
    return steps


def hilbert_keys(df: DataFrame, col_x: str, col_y: str,
                 bits: int = _HBITS) -> DataFrame:
    """Append `hkey` (Hilbert index of the two bucketed columns) —
    drop-in for zorder_keys where locality matters more: sort by hkey
    → repartitionByRange → sortWithinPartitions exactly like
    zorder_write. Global min/max via ONE broadcast 1-row aggregate
    (zorder_keys' shape); the per-level walk is a fixed chain of
    integer expressions inside whole-stage codegen — no UDF, no
    shuffle beyond the bounds broadcast."""
    bounds = df.agg(
        F.min(col_x).alias("__xmin"), F.max(col_x).alias("__xmax"),
        F.min(col_y).alias("__ymin"), F.max(col_y).alias("__ymax"),
    )
    out = df.join(F.broadcast(bounds))
    out = out.withColumn(
        "__bx", _bucket_expr(F.col(col_x), F.col("__xmin"),
                             F.col("__xmax"), bits))
    out = out.withColumn(
        "__by", _bucket_expr(F.col(col_y), F.col("__ymin"),
                             F.col("__ymax"), bits))
    made = ["__xmin", "__xmax", "__ymin", "__ymax", "__bx", "__by"]
    for name, spark_expr, _ in _hilbert_steps(bits):
        out = out.withColumn(name, F.expr(spark_expr))
        if name != "hkey":
            made.append(name)
    # Drop ONLY the columns this function created — caller-supplied
    # "__"-prefixed columns (q297 passes "__epoch") pass through
    # untouched, mirroring zorder_keys' bound-column-only drop.
    return out.drop(*made)


def _hilbert_oracle(bits: int = _HBITS) -> str:
    ctes, prev = [], "k"
    for i, (name, _, d_expr) in enumerate(_hilbert_steps(bits)):
        ctes.append(f"h{i} AS (SELECT *, {d_expr} AS {name}"
                    f" FROM {prev})")
        prev = f"h{i}"
    cte_block = ",\n    ".join(ctes)
    mx = (1 << bits) - 1
    return f"""
    WITH b AS (
      SELECT min(user_id) AS xmin, max(user_id) AS xmax,
             CAST(min(floor(epoch(ts))) AS BIGINT) AS ymin,
             CAST(max(floor(epoch(ts))) AS BIGINT) AS ymax
      FROM events
    ),
    k AS (
      SELECT event_id,
             CAST(floor(CAST((user_id - xmin) * {mx} AS DOUBLE)
                        / greatest(xmax - xmin, 1)) AS BIGINT) AS __bx,
             CAST(floor(CAST((CAST(floor(epoch(ts)) AS BIGINT) - ymin)
                             * {mx} AS DOUBLE)
                        / greatest(ymax - ymin, 1)) AS BIGINT) AS __by
      FROM events, b
    ),
    {cte_block}
    SELECT event_id, CAST(hkey AS BIGINT) AS hkey
    FROM {prev}
    """


@query("q297_hilbert_keys", oracle=_hilbert_oracle())
def q297_hilbert_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert clustering keys over (user_id, event time) — the
    locality-tighter sibling of q155's Morton keys, checked
    bit-for-bit against the oracle's replay of the same bucketing and
    per-level curve walk."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id",
        F.floor(F.col("ts").cast("double")).cast("long").alias("__epoch"),
    )
    return (hilbert_keys(ev, "user_id", "__epoch")
            .select("event_id", F.col("hkey").cast("long").alias("hkey")))
