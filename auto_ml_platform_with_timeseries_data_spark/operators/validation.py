"""Data validation and the hypothesis-test family.

Two kinds of query live here:

- Constraint auditing, the expectations stage (Great-Expectations /
  Deequ shape) a production pipeline runs before data is allowed
  downstream: range, not-null, uniqueness and referential checks, each
  reduced to ONE exact violation count; the GDPR erasure cascade; the
  order-independent table digest; the Benford audit.
- Hypothesis tests and effect sizes (q262 and q274-q331): proportion,
  location, rank, variance, paired, stratified, trend and
  structural-break tests plus bootstrap and relabeling intervals.

Every test statistic is computed the same way in the kernel and in its
DuckDB oracle, from one vocabulary kept beside ``pin`` in
``operators.timeseries``:

- ``cents`` / ``cents_sql``: a money column as integer cents;
- ``group_values``: the (group, BIGINT value) rows with NULLs dropped;
- ``exact_moments`` / ``moments_sql``: per-group n, Σv and Σv² as exact
  decimal(38,0) / HUGEINT sums, optionally weighted by a cell count;
- ``pin`` / ``pin_sql`` / ``pin_float``: the 1e-6 readout of each
  double that leaves the query.

Oracles recompute from the tables in SQL and call no Spark kernel.

Scale: every check and statistic is a handful of map-side-combined
aggregates; per-group frames are |groups| rows, and a suite of checks
composes by unionByName into independent jobs.

Reference analogue: the reference validates uploads only by pandas
read success (`auto_machine_learning.py` upload path); this is the
explicit contract a multi-tenant platform needs.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from auto_ml_platform_with_timeseries_data_spark.operators.timeseries import (
    cents,
    cents_sql,
    dec,
    dec_sq,
    exact_moments,
    group_values,
    moments_sql,
    pin,
    pin_float,
    pin_sql,
)
from auto_ml_platform_with_timeseries_data_spark.registry import query
from auto_ml_platform_with_timeseries_data_spark.tables import keep, load_table


def _result(name: str, kind: str, checked: Column,
            violations: Column) -> list[Column]:
    return [
        F.lit(name).alias("constraint_id"),
        F.lit(kind).alias("kind"),
        checked.cast("long").alias("n_checked"),
        violations.cast("long").alias("n_violations"),
        (violations == 0).cast("int").alias("passed"),
    ]


def range_check(df: DataFrame, name: str, col: str,
                lo: float, hi: float) -> DataFrame:
    """Violations = rows outside [lo, hi] (nulls count as violations —
    a range contract implies presence)."""
    bad = F.sum(
        F.when(F.col(col).between(lo, hi), F.lit(0)).otherwise(F.lit(1)))
    return df.agg(*_result(name, "range", F.count(F.lit(1)), bad))


def not_null_check(df: DataFrame, name: str, col: str) -> DataFrame:
    bad = F.sum(F.when(F.col(col).isNull(), F.lit(1)).otherwise(F.lit(0)))
    return df.agg(*_result(name, "not_null", F.count(F.lit(1)), bad))


def unique_check(df: DataFrame, name: str, col: str) -> DataFrame:
    """Violations = n_rows − n_distinct (0 ⇔ the column is a key)."""
    return df.agg(*_result(
        name, "unique", F.count(F.lit(1)),
        F.count(F.lit(1)) - F.count_distinct(F.col(col))))


def referential_check(child: DataFrame, name: str, col: str,
                      parent: DataFrame, pcol: str) -> DataFrame:
    """Violations = child rows whose key has no parent — one left-anti
    join against the (usually broadcastable) parent key set."""
    orphans = (child.select(F.col(col).alias("__k"))
               .join(parent.select(F.col(pcol).alias("__k")).distinct(),
                     "__k", "left_anti"))
    total = child.agg(F.count(F.lit(1)).alias("__n"))
    return orphans.agg(F.count(F.lit(1)).alias("__bad")).crossJoin(
        F.broadcast(total)).select(*_result(
            name, "referential", F.col("__n"), F.col("__bad")))


def _audit_oracle() -> str:
    def check(name: str, kind: str, table: str, bad: str) -> str:
        """One constraint row: checked rows, violations (rows where
        `bad` is 1) and the pass flag."""
        return (f"SELECT '{name}', '{kind}', CAST(count(*) AS BIGINT),"
                f" CAST(sum({bad}) AS BIGINT),\n"
                f"           CAST(CASE WHEN sum({bad}) = 0 THEN 1 ELSE 0"
                f" END AS INT)\n    FROM {table}")

    def in_range(name: str, table: str, col: str, lo: str, hi: str) -> str:
        return check(name, "range", table,
                     f"CASE WHEN {col} BETWEEN {lo} AND {hi}"
                     f" THEN 0 ELSE 1 END")

    return "\n    UNION ALL\n    ".join([
        """
    SELECT 'orders_custkey_fk' AS constraint_id,
           'referential' AS kind,
           (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_checked,
           (SELECT CAST(count(*) AS BIGINT) FROM orders o
             WHERE o.o_custkey NOT IN (SELECT c_custkey FROM customer))
             AS n_violations,
           CAST(CASE WHEN (SELECT count(*) FROM orders o
             WHERE o.o_custkey NOT IN (SELECT c_custkey FROM customer))
             = 0 THEN 1 ELSE 0 END AS INT) AS passed""",
        in_range("lineitem_quantity_range", "lineitem", "l_quantity",
                 "1", "50"),
        in_range("lineitem_discount_range", "lineitem", "l_discount",
                 "0.0", "0.1"),
        """SELECT 'customer_key_unique', 'unique',
           CAST(count(*) AS BIGINT),
           CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT),
           CAST(CASE WHEN count(*) = count(DISTINCT c_custkey)
                THEN 1 ELSE 0 END AS INT)
    FROM customer""",
        check("events_value_not_null", "not_null", "events",
              "CASE WHEN value IS NULL THEN 1 ELSE 0 END"),
        in_range("orders_totalprice_positive", "orders", "o_totalprice",
                 "0.01", "1e12"),
        in_range("events_value_tight_range", "events", "value",
                 "0.0", "5.0"),
    ])


@query("q209_constraint_audit", oracle=_audit_oracle())
def q209_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the seven-constraint expectation suite over the star schema
    — referential, range, uniqueness, and null contracts (plus one
    deliberately violated range), each row's checked/violation counts
    and pass flag value-hash-checked."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    events = load_table(spark, sf_dir, "events")
    suite = [
        referential_check(orders, "orders_custkey_fk", "o_custkey",
                          customer, "c_custkey"),
        range_check(lineitem, "lineitem_quantity_range", "l_quantity",
                    1, 50),
        range_check(lineitem, "lineitem_discount_range", "l_discount",
                    0.0, 0.1),
        unique_check(customer, "customer_key_unique", "c_custkey"),
        not_null_check(events, "events_value_not_null", "value"),
        range_check(orders, "orders_totalprice_positive", "o_totalprice",
                    0.01, 1e12),
        # deliberately over-tight contract: the fixture violates it, so
        # the violation-counting path (not just the all-green path) is
        # value-hash-witnessed
        range_check(events, "events_value_tight_range", "value",
                    0.0, 5.0),
    ]
    out = suite[0]
    for s in suite[1:]:
        out = out.unionByName(s)
    return out


# ---------------------------------------------------------------------------
# q212 — GDPR erasure cascade (right-to-be-forgotten propagation)
# ---------------------------------------------------------------------------


def gdpr_erase(customer: DataFrame, orders: DataFrame,
               lineitem: DataFrame, erase_keys: DataFrame) -> DataFrame:
    """Propagate a subject-erasure list through the star schema and
    certify completeness: customers on the list are removed, their
    orders cascade, their orders' lineitems cascade transitively; the
    result is one row per table with before/deleted/after counts AND a
    residual count re-checking that NO surviving row still references
    an erased subject — the audit artifact a compliance run must file.

    Plan shape at 100 TB: the erase list is broadcast (subjects are
    a tiny fraction); each cascade level is one broadcast semi/anti
    join, so the whole erasure is map-side — no fact-table shuffle.
    The transitive lineitem step joins on the cascaded ORDER keys
    (an anti-join against erased orders), never re-deriving subject
    ids from lineitem.

    Determinism contract: `erase_keys` MUST be a deterministic frame
    (a stored table or a deterministic derivation). Below the persist
    size-gate the distinct key set is re-evaluated independently by
    each cascade consumer, and even WITH the persist Spark may
    recompute evicted cache partitions — so a nondeterministic input
    (e.g. a sample) could yield mutually inconsistent erasure sets
    across the returned counts. Persist never guaranteed consistency
    here; the contract lives on the input."""
    # r15 optimization: the erase list feeds 8 joins and the cascaded
    # dead-order-key set feeds 2 — unpersisted, every reference re-ran
    # the source scan + distinct (21 source scans in the plan). Both
    # frames are tiny by the erasure contract (subjects are a small
    # fraction); persist SIZE-GATED on the scanned source
    # (keep(source=...) — at sf0.1 the re-scans are cheaper than
    # the cache barrier, measured 0.93 vs 1.33 s paired) and broadcast
    # everywhere.
    ekeys = keep(erase_keys.select(F.col(
        erase_keys.columns[0]).alias("__k")).distinct(), source=erase_keys)
    ek = F.broadcast(ekeys)
    dead_orders = orders.join(
        ek, orders["o_custkey"] == F.col("__k"), "leftsemi")
    dead_okeys = keep(
        dead_orders.select("o_orderkey").distinct(), source=orders)
    live_cust = customer.join(
        ek, customer["c_custkey"] == F.col("__k"), "leftanti")
    live_orders = orders.join(
        ek, orders["o_custkey"] == F.col("__k"), "leftanti")
    live_li = lineitem.join(
        F.broadcast(dead_okeys),
        lineitem["l_orderkey"] == dead_okeys["o_orderkey"], "leftanti")

    def row(name, before_df, after_df, residual_df):
        before = before_df.agg(F.count(F.lit(1)).alias("__b"))
        after = after_df.agg(F.count(F.lit(1)).alias("__a"))
        resid = residual_df.agg(F.count(F.lit(1)).alias("__r"))
        return (before.crossJoin(F.broadcast(after))
                .crossJoin(F.broadcast(resid))
                .select(
                    F.lit(name).alias("table_name"),
                    F.col("__b").cast("long").alias("rows_before"),
                    (F.col("__b") - F.col("__a")).cast("long")
                    .alias("rows_deleted"),
                    F.col("__a").cast("long").alias("rows_after"),
                    F.col("__r").cast("long").alias("residual_refs")))

    resid_cust = live_cust.join(
        ek, live_cust["c_custkey"] == F.col("__k"), "leftsemi")
    resid_orders = live_orders.join(
        ek, live_orders["o_custkey"] == F.col("__k"), "leftsemi")
    resid_li = live_li.join(
        F.broadcast(dead_okeys),
        live_li["l_orderkey"] == dead_okeys["o_orderkey"], "leftsemi")
    return (row("customer", customer, live_cust, resid_cust)
            .unionByName(row("orders", orders, live_orders, resid_orders))
            .unionByName(row("lineitem", lineitem, live_li, resid_li)))


def _gdpr_oracle() -> str:
    def row(table: str, col: str, ks: str) -> str:
        n = f"SELECT CAST(count(*) AS BIGINT) FROM {table}"
        return (f"SELECT '{table}' AS table_name, ({n}) AS rows_before,\n"
                f"           ({n} WHERE {col} IN ({ks})) AS rows_deleted,\n"
                f"           ({n} WHERE {col} NOT IN ({ks})) AS rows_after,\n"
                f"           CAST(0 AS BIGINT) AS residual_refs")

    rows = "\n    UNION ALL\n    ".join([
        row("customer", "c_custkey", "SELECT k FROM ek"),
        row("orders", "o_custkey", "SELECT k FROM ek"),
        row("lineitem", "l_orderkey", "SELECT o_orderkey FROM dead_o")])
    return f"""
    WITH ek AS (SELECT c_custkey AS k FROM customer
                WHERE c_custkey % 97 = 0),
    dead_o AS (SELECT o_orderkey FROM orders
               WHERE o_custkey IN (SELECT k FROM ek))
    {rows}
    """


@query("q212_gdpr_erasure", oracle=_gdpr_oracle())
def q212_gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erase every %97 customer and cascade through orders and
    lineitem: per-table before/deleted/after counts plus the zero-
    residual certificate, all value-hash-checked (the oracle pins
    residuals at 0 — a non-zero Spark residual hash-fails)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    keys = customer.filter(F.col("c_custkey") % 97 == 0) \
        .select("c_custkey")
    return gdpr_erase(customer, orders, lineitem, keys)


# ---------------------------------------------------------------------------
# q223 — order-independent table digest for replica reconciliation:
# compare two copies of a 100 TB table WITHOUT moving either — each
# side computes one bounded digest row per partition (count + XOR +
# sum of portable row hashes) and only the digests travel. The
# cross-engine consistency-check pattern behind replication audits,
# backup verification, and migration cutovers; order-independence
# (XOR/sum are commutative) means partitioning and scan order on the
# two replicas may differ freely.
# ---------------------------------------------------------------------------


def table_digest(df: DataFrame, part_col: str, canon: Column) -> DataFrame:
    """(part, n_rows, xor_digest, sum_digest) per partition value.

    The row hash is the portable base-31 polynomial fold (the q141
    twin family — bit-identical in any 64-bit engine), widened by two
    independent affine transforms packed into one 61-bit value for the
    XOR lane; the sum lane keeps the first transform (≤ p per row, so
    BIGINT holds ~9e9 rows per partition). A single corrupted cent in
    one row flips both lanes with probability ≈ 1 − 2⁻³⁰ each. One
    map-side-combined groupBy; the shuffle carries |partitions| rows."""
    from auto_ml_platform_with_timeseries_data_spark.operators.dedup import (
        _POLY_P,
        _polyhash,
    )

    h = _polyhash(canon)
    h1 = (h * 3 + 17) % _POLY_P
    h2 = (h * 5 + 101) % _POLY_P
    return (df.select(F.col(part_col).alias("part"),
                      (h1 * F.lit(1 << 31) + h2).alias("__d"),
                      h1.alias("__h1"))
            .groupBy("part")
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                 F.expr("bit_xor(__d)").alias("xor_digest"),
                 F.sum("__h1").cast("long").alias("sum_digest")))


def _digest_oracle() -> str:
    from auto_ml_platform_with_timeseries_data_spark.operators.dedup import (
        _POLY_DUCK,
        _POLY_P,
    )
    canon = ("concat_ws('|', CAST(o_orderkey AS VARCHAR),"
             " CAST(o_custkey AS VARCHAR), o_orderstatus,"
             " CAST({cents} AS VARCHAR),"
             " strftime(o_orderdate, '%Y-%m-%d'))")
    exact = cents_sql("o_totalprice")
    rcents = (f"CASE WHEN o_orderkey % 20000 = 7 THEN {exact} + 1"
              f" ELSE {exact} END")
    return f"""
    WITH c AS (
      SELECT o_orderstatus AS part,
             {canon.format(cents=exact)} AS cs,
             {canon.format(cents=rcents)} AS cr
      FROM orders
    ),
    h AS (
      SELECT part,
             {_POLY_DUCK.format(g='cs')} AS hs,
             {_POLY_DUCK.format(g='cr')} AS hr
      FROM c
    ),
    w AS (
      SELECT part,
             (hs * 3 + 17) % {_POLY_P} AS s1,
             (hs * 5 + 101) % {_POLY_P} AS s2,
             (hr * 3 + 17) % {_POLY_P} AS r1,
             (hr * 5 + 101) % {_POLY_P} AS r2
      FROM h
    ),
    a AS (
      SELECT part, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(bit_xor(s1 * {1 << 31} + s2) AS BIGINT) AS xor_src,
             CAST(sum(s1) AS BIGINT) AS sum_src,
             CAST(bit_xor(r1 * {1 << 31} + r2) AS BIGINT) AS xor_rep,
             CAST(sum(r1) AS BIGINT) AS sum_rep
      FROM w GROUP BY part
    )
    SELECT part AS status, n_rows, xor_src, sum_src, xor_rep, sum_rep,
           (xor_src = xor_rep AND sum_src = sum_rep) AS consistent
    FROM a
    """


@query("q223_table_digest", oracle=_digest_oracle())
def q223_table_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconcile orders against a 'replica' carrying a planted one-cent
    corruption on every o_orderkey % 20000 == 7 row: per-status counts
    and XOR/sum digest lanes for both sides, with the consistency flag
    — statuses containing a corrupted row must flag false, the rest
    true, every digest value-hash-checked."""
    o = load_table(spark, sf_dir, "orders")
    exact = cents("o_totalprice").cast("long")
    rcents = F.when(F.col("o_orderkey") % 20000 == 7, exact + 1) \
        .otherwise(exact)

    def canon(c: Column) -> Column:
        return F.concat_ws(
            "|", F.col("o_orderkey").cast("string"),
            F.col("o_custkey").cast("string"), F.col("o_orderstatus"),
            c.cast("string"),
            F.date_format("o_orderdate", "yyyy-MM-dd"))

    src = table_digest(o, "o_orderstatus", canon(exact)) \
        .withColumnRenamed("xor_digest", "xor_src") \
        .withColumnRenamed("sum_digest", "sum_src")
    rep = table_digest(o, "o_orderstatus", canon(rcents)) \
        .select(F.col("part"), F.col("xor_digest").alias("xor_rep"),
                F.col("sum_digest").alias("sum_rep"))
    return (src.join(rep, "part")
            .select(F.col("part").alias("status"), "n_rows",
                    "xor_src", "sum_src", "xor_rep", "sum_rep",
                    ((F.col("xor_src") == F.col("xor_rep")) &
                     (F.col("sum_src") == F.col("sum_rep")))
                    .alias("consistent")))


# ---------------------------------------------------------------------------
# q242 — Benford first-digit audit: the classic fabricated-data /
# broken-feed detector finance and fraud pipelines run over monetary
# columns. One map-side digit extraction + one 9-group aggregate —
# the cheapest drift alarm in the suite.
# ---------------------------------------------------------------------------

# floor(log10(1 + 1/d) * 1e6 + 0.5), precomputed so NEITHER engine's
# libm is in the result path (log10 at ulp differs across builds)
_BENFORD_PPM = {1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
                6: 66947, 7: 57992, 8: 51153, 9: 45757}


def benford_audit(df: DataFrame, col: str) -> DataFrame:
    """(digit, n, observed_ppm, expected_ppm, dev_ppm) over the
    column's first significant digit. The digit comes from the STRING
    form of the integer cents value — exact in both engines, no
    log10/pow on doubles anywhere near the result; shares are ppm
    integers by positive division, expectation constants are inlined
    literals, and dev_ppm = observed − expected is the audit signal
    (a broken generator or fabricated feed shows |dev| far above the
    sampling noise for the column's n). One scan, 9 groups — run it on
    every monetary column of a 100 TB table for the cost of the
    scans."""
    spark = df.sparkSession
    first = F.substring(F.abs(cents(col).cast("long")).cast("string"),
                        1, 1).cast("int")
    counts = (df.filter(F.col(col).isNotNull())
              .select(first.alias("digit"))
              .filter(F.col("digit") > 0)      # cents == 0 has no digit
              .groupBy("digit")
              .agg(F.count(F.lit(1)).cast("long").alias("n")))
    digits = spark.createDataFrame(
        [(d, e) for d, e in _BENFORD_PPM.items()],
        "digit int, expected_ppm long")
    w = Window.partitionBy(F.lit(0))
    return (digits.join(counts, "digit", "left")
            .select("digit",
                    F.coalesce("n", F.lit(0)).cast("long").alias("n"),
                    "expected_ppm")
            .withColumn("__t", F.sum("n").over(w))
            .withColumn("observed_ppm",
                        F.expr("(n * 1000000) div __t"))
            .select("digit", "n", "observed_ppm", "expected_ppm",
                    (F.col("observed_ppm") - F.col("expected_ppm"))
                    .alias("dev_ppm")))


def _benford_oracle() -> str:
    dig = ", ".join(f"({d}, {e})" for d, e in _BENFORD_PPM.items())
    return f"""
    WITH counts AS (
      SELECT CAST(substr(CAST(abs({cents_sql("l_extendedprice")})
                              AS VARCHAR), 1, 1) AS INT) AS digit,
             CAST(count(*) AS BIGINT) AS n
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL
      GROUP BY 1 HAVING digit > 0
    ),
    digits(digit, expected_ppm) AS (VALUES {dig}),
    filled AS (
      SELECT d.digit, CAST(coalesce(c.n, 0) AS BIGINT) AS n,
             CAST(d.expected_ppm AS BIGINT) AS expected_ppm,
             sum(coalesce(c.n, 0)) OVER () AS t
      FROM digits d LEFT JOIN counts c ON d.digit = c.digit
    )
    SELECT digit, n,
           CAST((n * 1000000) // t AS BIGINT) AS observed_ppm,
           expected_ppm,
           CAST((n * 1000000) // t - expected_ppm AS BIGINT) AS dev_ppm
    FROM filled
    """


@query("q242_benford_audit", oracle=_benford_oracle())
def q242_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit distribution of l_extendedprice: observed
    vs expected ppm per digit with the deviation — every row
    integer-exact and value-hash-checked."""
    li = load_table(spark, sf_dir, "lineitem")
    return benford_audit(li, "l_extendedprice")


def two_proportion_z(df: DataFrame, group_col: str, a: str, b: str,
                     success: "Column") -> DataFrame:
    """One-row (n_a, x_a, n_b, x_b, p_a, p_b, z): the pooled
    two-proportion z-test — the A/B readout (did cohort a convert
    differently from cohort b?). One map-side-combined aggregate;
    rates and z are single pinned doubles over exact integers (sqrt
    is IEEE-correctly-rounded, so the expression is bit-identical
    cross-engine). Degenerate pools (empty group, pooled rate 0 or 1)
    report z NULL-by-contract."""
    src = df.filter(F.col(group_col).isin(a, b)).select(
        (F.col(group_col) == a).alias("__a"),
        success.cast("long").alias("__y"))
    isa, y = F.col("__a"), F.col("__y")
    agg = src.agg(
        _masked_sum(isa, F.lit(1)).cast("long").alias("n_a"),
        _masked_sum(isa, y).cast("long").alias("x_a"),
        _masked_sum(isa, F.lit(1), other=True).cast("long").alias("n_b"),
        _masked_sum(isa, y, other=True).cast("long").alias("x_b"))
    pa = F.col("x_a").cast("double") / F.col("n_a")
    pb = F.col("x_b").cast("double") / F.col("n_b")
    pp = (F.col("x_a") + F.col("x_b")).cast("double") \
        / (F.col("n_a") + F.col("n_b"))
    se = F.sqrt(pp * (1 - pp) * (1.0 / F.col("n_a")
                                 + 1.0 / F.col("n_b")))
    ok = ((F.col("n_a") > 0) & (F.col("n_b") > 0)
          & (F.col("x_a") + F.col("x_b") > 0)
          & (F.col("x_a") + F.col("x_b") < F.col("n_a") + F.col("n_b")))
    return agg.select(
        "n_a", "x_a", "n_b", "x_b",
        F.when(F.col("n_a") > 0, pin(pa)).alias("p_a"),
        F.when(F.col("n_b") > 0, pin(pb)).alias("p_b"),
        F.when(ok, pin((pa - pb) / se)).alias("z"))


@query(
    "q262_two_proportion_z",
    oracle=f"""
    WITH s AS (
      SELECT l_linestatus = 'O' AS a,
             CAST(l_returnflag = 'R' AS BIGINT) AS y
      FROM lineitem WHERE l_linestatus IN ('O', 'F')
    ),
    agg AS (
      SELECT CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN a THEN y ELSE 0 END) AS BIGINT) AS x_a,
             CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
             CAST(sum(CASE WHEN a THEN 0 ELSE y END) AS BIGINT) AS x_b
      FROM s
    ),
    ex AS (
      SELECT *, CAST(x_a AS DOUBLE) / n_a AS pa,
             CAST(x_b AS DOUBLE) / n_b AS pb,
             CAST(x_a + x_b AS DOUBLE) / (n_a + n_b) AS pp
      FROM agg
    )
    SELECT n_a, x_a, n_b, x_b,
           CASE WHEN n_a > 0 THEN {pin_sql("pa")} END AS p_a,
           CASE WHEN n_b > 0 THEN {pin_sql("pb")} END AS p_b,
           CASE WHEN n_a > 0 AND n_b > 0 AND x_a + x_b > 0
                AND x_a + x_b < n_a + n_b THEN
             {pin_sql("(pa - pb)"
                      " / sqrt(pp * (1 - pp) * (1.0 / n_a + 1.0 / n_b))")}
           END AS z
    FROM ex
    """,
)
def q262_two_proportion_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B readout on lineitem: do open (l_linestatus='O') and
    finished ('F') lines return at different rates? Exact pooled
    counts plus pinned rates and z statistic in one hash-checked
    row."""
    li = load_table(spark, sf_dir, "lineitem")
    return two_proportion_z(li, "l_linestatus", "O", "F",
                            (F.col("l_returnflag") == "R").cast("long"))


# ---------------------------------------------------------------------------
# Poisson bootstrap — the one-pass, never-materialize-a-resample
# bootstrap (Chamandy et al., "Estimating Uncertainty for Massive Data
# Streams", Google 2012): replicate b counts each row with an i.i.d.
# Poisson(1) multiplicity instead of multinomial resampling, so B
# replicate statistics come out of ONE scan with B counters — the only
# bootstrap shape that survives 100 TB. Multiplicities here are
# DETERMINISTIC: u = hash_u32(affine(id, b)) inverts the Poisson(1)
# CDF through fixed integer thresholds, so both engines reproduce
# every draw and the driver can hash the result.
# ---------------------------------------------------------------------------

_BOOT_B = 32
_BOOT_CAP = 5  # P(X > 5) ≈ 6e-5 per draw; capped tail documented
_POIS_THRESH: list[int] = []
_acc = 0.0
for _k in range(_BOOT_CAP):
    _acc += math.exp(-1.0) / math.factorial(_k)
    _POIS_THRESH.append(int(math.floor(_acc * 2 ** 32)))

_BOOT_KNUTH = 2654435761
_BOOT_PREMOD = 1000003
_BOOT_M32 = 4294967296


# Relabeling (q280) uses its OWN multiplier (xxHash32's PRIME32_2 —
# public constant), not _BOOT_KNUTH: any affine salt shift inside the
# same multiplier collapses after the % PREMOD step to a neighboring
# id-residue's bootstrap draw (salt b+64 for id i IS salt b for
# residue (i%P)+1), so true cross-query independence needs a second
# multiplier, not a second offset.
_RELABEL_KNUTH = 2246822519


def _boot_u32(id_col: Column, b, knuth: int = _BOOT_KNUTH) -> Column:
    """hash_u32 of the (id, replicate) pair via the q249 affine-salt
    step: x = (id mod P)·64 + b stays far inside BIGINT before the
    Knuth multiply (both engines raise/wrap on overflow otherwise).
    `b` may be an int literal or a Column (the exploded replicate
    index); q280 passes knuth=_RELABEL_KNUTH."""
    bb = F.lit(b) if isinstance(b, int) else b
    x = (id_col % _BOOT_PREMOD) * 64 + bb
    return (x % _BOOT_PREMOD) * knuth % _BOOT_M32


def _boot_u32_sql(id_sql: str, b: int, knuth: int = _BOOT_KNUTH) -> str:
    return (f"((({id_sql} % {_BOOT_PREMOD}) * 64 + {b}) "
            f"% {_BOOT_PREMOD}) * {knuth} % {_BOOT_M32}")


def _boot_mult(u: Column) -> Column:
    """Poisson(1) multiplicity by inverse-CDF on the uniform u32,
    BRANCH-FREE: the thresholds are monotone, so the multiplicity is
    simply how many of them sit at or below u — five comparisons
    summed as integers. (The first draft's 6-arm CASE chain × 64
    aggregate expressions exceeded Janino's method limits, silently
    disabling whole-stage codegen for the entire aggregate — measured
    3.3 s vs 0.6 s for the same scan.)"""
    m = None
    for t in _POIS_THRESH:
        term = (u >= t).cast("long")
        m = term if m is None else m + term
    return m


def _boot_mult_sql(id_sql: str, b: int) -> str:
    u = _boot_u32_sql(id_sql, b)
    terms = " + ".join(
        f"CASE WHEN ({u}) >= {t} THEN 1 ELSE 0 END"
        for t in _POIS_THRESH)
    return f"({terms})"


def _replicate_rows(src: DataFrame, nrep: int, draw: Column,
                    *aggs: Column) -> dict:
    """Each replicate's `aggs` row, keyed by replicate index: every
    (__i, ...) row of `src` is exploded over __b = 0..nrep-1 and gets
    the replicate's deterministic `draw` (a hash of __i and __b).

    PLAN SHAPE (measured, round 10): anything that inlines nrep copies
    of the hash chain — 2·nrep aggregate sums, or a posexplode over an
    nrep-element array of draw expressions — blows Janino's method
    limits ("Failed to compile" → whole stages fall back to
    interpreted expression walking: 8-9 s for a 150k-row scan).
    Exploding the REPLICATE INDEX first leaves ONE hash expression
    with b as a column: the per-row code is ~20 ops, codegen compiles,
    and the groupBy map-side-combines into nrep groups."""
    cols = [c for c in src.columns if c != "__i"]
    pairs = src.select(
        "__i", *cols,
        F.explode(F.sequence(F.lit(0), F.lit(nrep - 1))).alias("__b"))
    agg = pairs.select(*cols, "__b", draw).groupBy("__b").agg(*aggs)
    return {int(r["__b"]): r for r in agg.collect()}


def poisson_bootstrap_mean(df: DataFrame, id_col: str, value: Column,
                           nboot: int = _BOOT_B) -> DataFrame:
    """One-row (n, point_mean, boot_se, ci_lo, ci_hi): the mean of
    `value` with a bootstrap standard error and an order-statistic
    interval, computed in ONE scan — replicate b's sum/count accumulate
    behind deterministic Poisson(1) multiplicities, so the plan is a
    single map-side-combined aggregate with 2·nboot + 2 counters and
    NO resample is ever materialized (the Poisson-bootstrap contract;
    at 1000 executors this is exactly as cheap as computing the mean).

    Exactness: values enter as exact BIGINTs (pass cents/counts), so
    every replicate sum is an exact integer; replicate means pin at
    1e-6, making the downstream 32-element SE/CI arithmetic identical
    doubles in both engines (squared deviations re-quantize to
    floor(·1e12) BIGINT before the order-free sum). ci_lo/ci_hi are
    the 2nd-smallest / 2nd-largest replicate means (~93.75% central
    coverage at B = 32 — the order statistics ARE the contract, not a
    normal approximation). An empty replicate (possible only for tiny
    n) falls back to the point mean by contract."""
    src = df.select(F.col(id_col).cast("long").alias("__i"),
                    value.cast("long").alias("__v")).filter(
        F.col("__i").isNotNull() & F.col("__v").isNotNull())
    # per-replicate count/sum(v) reproduce n and Σv, so one pass
    # still yields everything
    rows = _replicate_rows(
        src, nboot,
        _boot_mult(_boot_u32(F.col("__i"), F.col("__b"))).alias("__m"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__v").cast("long").alias("sv"),
        F.sum(F.col("__m") * F.col("__v")).cast("long").alias("mv"),
        F.sum("__m").cast("long").alias("m"))
    # the distributed work ends at the nboot-row aggregate; the
    # remaining arithmetic is 2·nboot + 2 SCALARS, computed on the
    # driver in plain Python (an expression-tree tail of ~500 columns
    # measured ~2.3 s of Catalyst planning per call — driver-side
    # floats are the same IEEE doubles, with explicit float() casts
    # mirroring the oracle's CAST-then-divide sequence exactly).
    # Every bm is pinned → floor(bm·1e6 + 0.5) recovers an exact
    # integer Q_b, and the SE runs in exact integer space:
    # Σ(B·Q_b − ΣQ)² (Python ints are arbitrary-precision — the
    # cents-scale squares that top int64 cost nothing), one sqrt at
    # the end.
    spark = df.sparkSession
    schema = ("n long, point_mean double, boot_se double, "
              "ci_lo double, ci_hi double")
    if not rows:
        return spark.createDataFrame(
            [(0, None, None, None, None)], schema)
    n = int(next(iter(rows.values()))["n"])
    sv = int(next(iter(rows.values()))["sv"])
    point = pin_float(float(sv) / n)
    bms = []
    for b in range(nboot):
        m = int(rows[b]["m"])
        bms.append(pin_float(float(int(rows[b]["mv"])) / m) if m > 0
                   else point)
    qs = [math.floor(bm * 1e6 + 0.5) for bm in bms]
    qsum = sum(qs)
    dev = sum((nboot * q - qsum) ** 2 for q in qs)
    se = pin_float(math.sqrt(float(dev) / (nboot - 1)) / (nboot * 1e6))
    ms = sorted(bms)
    return spark.createDataFrame(
        [(n, point, se, ms[1], ms[nboot - 2])], schema)


def _bootstrap_oracle() -> str:
    nboot = _BOOT_B
    mults = "\n".join(
        f"      , CAST(sum({_boot_mult_sql('i', b)} * v) AS BIGINT)"
        f" AS mv{b}\n"
        f"      , CAST(sum({_boot_mult_sql('i', b)}) AS BIGINT) AS m{b}"
        for b in range(nboot))
    bms = ",\n".join(
        f"      CASE WHEN m{b} > 0 THEN"
        f" {pin_sql(f'CAST(mv{b} AS DOUBLE) / m{b}')}"
        f" ELSE point_mean END AS bm{b}"
        for b in range(nboot))
    qcols = ",\n".join(
        f"      CAST(floor(bm{b} * 1e6 + 0.5) AS BIGINT) AS q{b}"
        for b in range(nboot))
    qs = " + ".join(f"q{b}" for b in range(nboot))
    dev = " + ".join(
        f"CAST({nboot} * q{b} - qs AS HUGEINT)"
        f" * ({nboot} * q{b} - qs)" for b in range(nboot))
    lst = ", ".join(f"bm{b}" for b in range(nboot))
    return f"""
    WITH s AS (
      SELECT o_custkey AS i, {cents_sql("o_totalprice")} AS v
      FROM orders
      WHERE o_custkey IS NOT NULL AND o_totalprice IS NOT NULL
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(v) AS BIGINT) AS sv
{mults}
      FROM s
    ),
    pt AS (
      SELECT *, {pin_sql("CAST(sv AS DOUBLE) / n")} AS point_mean
      FROM agg
    ),
    bm AS (
      SELECT n, point_mean,
{bms}
      FROM pt
    ),
    qq AS (
      SELECT *,
{qcols}
      FROM bm
    ),
    qsum AS (SELECT *, {qs} AS qs FROM qq),
    fin AS (
      SELECT n, point_mean,
             {pin_sql(f"sqrt(CAST({dev} AS DOUBLE) / {nboot - 1})"
                      f" / {float(nboot) * 1e6}")} AS boot_se,
             list_sort(list_value({lst})) AS ms
      FROM qsum
    )
    SELECT n, point_mean, boot_se,
           ms[2] AS ci_lo, ms[{nboot - 1}] AS ci_hi
    FROM fin
    """


@query("q274_bootstrap_mean_ci", oracle=_bootstrap_oracle())
def q274_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap uncertainty for the mean order value in exact
    cents (32 deterministic replicates, one scan): one hash-checked
    (n, point_mean, boot_se, ci_lo, ci_hi) row — every replicate draw
    reproduced by the oracle's identical hash-threshold walk."""
    o = load_table(spark, sf_dir, "orders")
    return poisson_bootstrap_mean(o, "o_custkey", cents("o_totalprice"))


# ---------------------------------------------------------------------------
# Rank, location and effect-size tests (q275-q278, q280)
# ---------------------------------------------------------------------------


def _rank_span(t: Column) -> Column:
    """s: how many rows hold a value below __v, over distinct values
    __v with t rows each — the rank-span walk (_SPANS_SQL)."""
    wp = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, -1)
    return F.coalesce(F.sum(t).over(wp), F.lit(0))


# ``_rank_span`` in DuckDB SQL over a (v, t) relation.
_SPANS_SQL = """SELECT *,
             CAST(coalesce(sum(t) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS BIGINT) AS s
      FROM {}"""


def _rank_sum2(c: Column) -> Column:
    """Twice the rank sum of c rows per value: Σ c·(2s + t + 1), exact
    at DECIMAL(38,0) (average ranks are half-integers)."""
    return F.sum(dec(c) * dec(2 * F.col("__s") + F.col("__t") + 1))


def _tie_sum() -> Column:
    """The tie correction Σ(t³ − t) over the values' counts __t."""
    return F.sum(dec_sq(F.col("__t")) * dec(F.col("__t"))
                 - dec(F.col("__t")))


def mann_whitney_u(df: DataFrame, value_col: str, group_col: str,
                   a: str, b: str) -> DataFrame:
    """One-row (n_a, n_b, u_a, z): the Mann–Whitney U (Wilcoxon
    rank-sum) test — the nonparametric 'did group a's values come out
    larger' check that t-tests can't do on skewed data. Tie-aware:
    tied values take average ranks and the normal-approximation
    variance carries the Σ(t³−t) correction.

    Exactness: the corpus reduces to per-distinct-value (c_a, c_b)
    cells; average ranks come off the cumulative span walk in HALF
    units, so 2·R_a = Σ c_a·(2·s + t + 1) is an exact integer carried
    at DECIMAL(38,0)/HUGEINT (tops int64 near n² ~ 2^63), as is the
    tie sum Σ(t³−t); u_a and z are single double expressions over
    those integers, pinned once. Degenerate inputs (either group
    empty, all values tied) report z NULL-by-contract."""
    cells = (df.filter(F.col(group_col).isin(a, b))
             .groupBy(F.col(value_col).cast("double").alias("__v"))
             .agg(F.sum((F.col(group_col) == a).cast("long"))
                  .alias("__ca"),
                  F.sum((F.col(group_col) == b).cast("long"))
                  .alias("__cb")))
    t = F.col("__ca") + F.col("__cb")
    agg = (cells.select("__ca", "__cb", t.alias("__t"),
                        _rank_span(t).alias("__s"))
           .agg(F.sum("__ca").cast("long").alias("n_a"),
                F.sum("__cb").cast("long").alias("n_b"),
                _rank_sum2(F.col("__ca")).alias("__tra"),
                _tie_sum().alias("__ties")))
    na, nb = F.col("n_a"), F.col("n_b")
    n = na + nb
    two_u = F.col("__tra").cast("double") - na.cast("double") * (na + 1)
    u_a = two_u / 2
    var = (na.cast("double") * nb / 12
           * ((n + 1).cast("double")
              - F.col("__ties").cast("double")
              / (n.cast("double") * (n - 1))))
    z = (two_u - na.cast("double") * nb) / 2 / F.sqrt(var)
    ok = (na > 0) & (nb > 0) & (n > 1)
    return agg.select(
        "n_a", "n_b",
        F.when((na > 0) & (nb > 0), u_a).alias("u_a"),
        F.when(ok & (var > 0), pin(z)).alias("z"))


def kruskal_wallis(df: DataFrame, value_col: str,
                   group_col: str) -> DataFrame:
    """One-row (k, n, h, h_tie_corrected): the Kruskal–Wallis H test —
    Mann–Whitney's k-group extension (are ANY of the groups' value
    distributions shifted?). Rank sums per group come off the same
    half-unit span walk as ``mann_whitney_u`` (2·R_g exact at
    DECIMAL(38,0)); H = 12/(n(n+1))·Σ R_g²/n_g − 3(n+1) and the tie
    correction 1 − Σ(t³−t)/(n³−n).

    The Σ R_g²/n_g sum runs over the k double terms (each an exact
    two-integer quotient, identical cross-engine); k is the GROUP
    cardinality, and per-term magnitude ≤ n³ gives accumulation-order
    drift ≤ k·ulp(n³) — after the 12/(n(n+1)) scaling that is
    ~k·n·2⁻⁵² ≈ 1e-9 at n = 10⁶, three orders under the 1e-6 pin (the
    accepted q135/q229 analysis; an absolute-scale integer
    quantization is structurally unavailable here because the term
    magnitude grows with n³). Degenerate inputs (k < 2, all tied)
    report NULL-by-contract."""
    cells = (df.filter(F.col(group_col).isNotNull())
             .groupBy(F.col(group_col).alias("__g"),
                      F.col(value_col).cast("double").alias("__v"))
             .agg(F.count(F.lit(1)).cast("long").alias("__c")))
    vt = cells.groupBy("__v").agg(F.sum("__c").cast("long")
                                  .alias("__t"))
    spans = vt.select("__v", "__t", _rank_span(F.col("__t")).alias("__s"))
    per_g = (cells.join(spans, "__v")
             .groupBy("__g")
             .agg(F.sum("__c").cast("long").alias("__ng"),
                  _rank_sum2(F.col("__c")).alias("__tr")))
    ties = spans.agg(_tie_sum().alias("__ties"))
    term = (F.col("__tr").cast("double") * F.col("__tr")
            / (4 * F.col("__ng")))
    agg = (per_g.agg(F.count(F.lit(1)).cast("long").alias("k"),
                     F.sum("__ng").cast("long").alias("n"),
                     F.sum(term).alias("__rr"))
           .crossJoin(F.broadcast(ties)))
    n = F.col("n").cast("double")
    h = 12 / (n * (F.col("n") + 1)) * F.col("__rr") - 3 * (n + 1)
    corr = 1 - F.col("__ties").cast("double") / (n * n * n - n)
    ok = (F.col("k") > 1) & (F.col("n") > 1)
    return agg.select(
        "k", "n",
        F.when(ok, pin(h)).alias("h"),
        F.when(ok & (corr > 0), pin(h / corr))
        .alias("h_tie_corrected"))


def _masked_sum(mask: Column, x: Column, other: bool = False) -> Column:
    """Σx over the rows where `mask` holds (where it does not, with
    `other`)."""
    return F.sum(F.when(mask, F.lit(0)).otherwise(x) if other
                 else F.when(mask, x).otherwise(F.lit(0)))


def _cov(sab: str, sa: str, sb: str, n: Column) -> Column:
    """Σ(a − ā)(b − b̄) = Σab − Σa·Σb/n as a double over the exact sums
    in columns sab, sa and sb."""
    return (F.col(sab).cast("double")
            - F.col(sa).cast("double") * F.col(sb) / n)


def _css(ss: str, s: str, n: str) -> Column:
    """Σ(v − v̄)² = Σv² − (Σv)²/n over the exact sums in columns ss, s
    and the count column n."""
    return _cov(ss, s, s, F.col(n))


def _cov_sql(sab: str, sa: str, sb: str, n: str) -> str:
    """Σ(a − ā)(b − b̄) = Σab − Σa·Σb/n in DuckDB SQL (``_cov``)."""
    return f"(CAST({sab} AS DOUBLE) - CAST({sa} AS DOUBLE) * {sb} / {n})"


def _css_sql(ss: str, s: str, n: str) -> str:
    """``_css`` in DuckDB SQL."""
    return _cov_sql(ss, s, s, n)


def _masked_sum_sql(mask: str, a: str, b: str | None = None) -> str:
    """The exact HUGEINT sum of a (or of a·b) over the rows where
    `mask` holds."""
    prod = f"CAST({a} AS HUGEINT)" + (f" * {b}" if b else "")
    return f"sum(CASE WHEN {mask} THEN {prod} ELSE 0 END)"


def _count_sql(mask: str) -> str:
    """The BIGINT count of the rows where `mask` holds."""
    return f"CAST(sum(CASE WHEN {mask} THEN 1 ELSE 0 END) AS BIGINT)"


def _cells_sql(a: str, b: str, name: str) -> str:
    """The four 2×2 cell counts of two 0/1 columns, as DuckDB aggregate
    columns named name.format(value of a, value of b)."""
    return ", ".join(f"{_count_sql(f'{a} = {i} AND {b} = {j}')}"
                     f" AS {name.format(i, j)}"
                     for i in (0, 1) for j in (0, 1))


def _masked_moments_sql(mask: str, tag: str, v: str = "v") -> str:
    """n_tag, s_tag and q_tag: the exact count, Σv and Σv² of the rows
    where `mask` holds, as DuckDB aggregate columns."""
    return (f"{_count_sql(mask)} AS n_{tag},\n"
            f"             {_masked_sum_sql(mask, v)} AS s_{tag},\n"
            f"             {_masked_sum_sql(mask, v, v)} AS q_{tag}")


def _one_way_f(per: DataFrame) -> tuple[DataFrame, Column]:
    """(agg, f) over per-group exact moments (``exact_moments``): agg
    holds k and n; SSB = Σ S_g²/n_g − S²/n and SSW = ΣSS − Σ S_g²/n_g
    come from k exact-quotient double terms (same accumulation-order
    margin analysis as kruskal_wallis — drift orders under the pin),
    and f = (SSB/(k−1))/(SSW/(n−k)) pins once. k < 2, n ≤ k or SSW = 0
    (all values equal within groups) report f NULL-by-contract."""
    term = (F.col("__sg").cast("double") * F.col("__sg")
            / F.col("__ng"))
    agg = per.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("__ng").cast("long").alias("n"),
        F.sum("__sg").alias("__s"),
        F.sum("__ssg").alias("__ss"),
        F.sum(term).alias("__sgn"))
    n = F.col("n").cast("double")
    ssb = F.col("__sgn") - F.col("__s").cast("double") * F.col("__s") / n
    ssw = F.col("__ss").cast("double") - F.col("__sgn")
    kk = F.col("k").cast("double")
    f = (ssb / (kk - 1)) / (ssw / (n - kk))
    ok = (F.col("k") > 1) & (F.col("n") > F.col("k")) & (ssw > 0)
    return agg, F.when(ok, pin(f)).alias("f")


def _one_way_f_sql(per: str) -> str:
    """``_one_way_f`` in DuckDB SQL over a (g, ng, sg, ssg) relation:
    the CTEs agg, ex and fx, ending in fx(k, n, f)."""
    f = pin_sql("(ssb / (CAST(k AS DOUBLE) - 1))"
                " / (ssw / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))")
    return f"""agg AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(ng) AS BIGINT) AS n,
             sum(sg) AS sx, sum(ssg) AS ss,
             sum(CAST(sg AS DOUBLE) * sg / ng) AS sgn
      FROM {per}
    ),
    ex AS (
      SELECT k, n,
             sgn - CAST(sx AS DOUBLE) * sx / CAST(n AS DOUBLE) AS ssb,
             CAST(ss AS DOUBLE) - sgn AS ssw
      FROM agg
    ),
    fx AS (
      SELECT k, n, CASE WHEN k > 1 AND n > k AND ssw > 0 THEN {f} END AS f
      FROM ex
    )"""


def anova_f(df: DataFrame, value: Column,
            group_col: str) -> DataFrame:
    """One-row (k, n, df_between, df_within, f): one-way ANOVA over an
    INTEGER-valued measure (pass cents/counts — the parametric
    companion to ``kruskal_wallis``): ``_one_way_f`` over the groups'
    exact moments."""
    agg, f = _one_way_f(exact_moments(group_values(df, group_col, value)))
    return agg.select(
        "k", "n",
        (F.col("k") - 1).cast("long").alias("df_between"),
        (F.col("n") - F.col("k")).cast("long").alias("df_within"), f)


def cohens_d(df: DataFrame, value: Column, group_col: str,
             a: str, b: str) -> DataFrame:
    """One-row (n_a, n_b, mean_a, mean_b, d): Cohen's d standardized
    mean difference over an INTEGER-valued measure — the effect SIZE
    companion to q262's z (significance says 'not noise'; d says 'big
    enough to matter'). Pooled SD uses the (n−1) sample variances.
    Everything reduces to six exact integers (counts, sums, sums of
    squares at DECIMAL(38,0)/HUGEINT width); means and d are single
    pinned doubles. Zero pooled variance reports d NULL-by-contract."""
    src = df.filter(F.col(group_col).isin(a, b)).select(
        (F.col(group_col) == a).alias("__isa"),
        value.cast("long").alias("__v")).filter(
        F.col("__v").isNotNull())
    isa, v = F.col("__isa"), F.col("__v")
    agg = src.agg(
        _masked_sum(isa, F.lit(1)).cast("long").alias("n_a"),
        _masked_sum(isa, F.lit(1), other=True).cast("long").alias("n_b"),
        _masked_sum(isa, dec(v)).alias("__sa"),
        _masked_sum(isa, dec(v), other=True).alias("__sb"),
        _masked_sum(isa, dec_sq(v)).alias("__ssa"),
        _masked_sum(isa, dec_sq(v), other=True).alias("__ssb"))
    na, nb = F.col("n_a"), F.col("n_b")
    ma = F.col("__sa").cast("double") / na
    mb = F.col("__sb").cast("double") / nb
    ssa, ssb = _css("__ssa", "__sa", "n_a"), _css("__ssb", "__sb", "n_b")
    sp = F.sqrt((ssa + ssb) / (na + nb - 2).cast("double"))
    ok = (na > 1) & (nb > 1)
    return agg.select(
        "n_a", "n_b",
        F.when(na > 0, pin(ma)).alias("mean_a"),
        F.when(nb > 0, pin(mb)).alias("mean_b"),
        F.when(ok & (ssa + ssb > 0), pin((ma - mb) / sp)).alias("d"))


_RELABEL_P = 64


def relabeling_test_mean(df: DataFrame, id_col: str, value: Column,
                         is_a: Column,
                         nperm: int = _RELABEL_P) -> DataFrame:
    """One-row (n_a, n_b, diff_obs, n_extreme, p_value): a Monte-Carlo
    RANDOM-RELABELING significance test for the difference of means —
    the assumption-free cousin of q262's z, and q274's machinery
    turned into a hypothesis test: under H₀ (exchangeable labels) each
    of `nperm` pseudo-labelings splits rows 50/50 by a deterministic
    hash bit, and the p-value is the fraction of relabeled
    |mean_a − mean_b| at least as extreme as observed, with the
    (1 + extreme)/(1 + P) finite-sample correction. This is the
    RELABELING (binomial-split) variant, not the fixed-margin exact
    permutation test — the one-pass form that survives 100 TB: ONE
    scan, 2·nperm + 4 counters, no shuffle of labels ever
    materialized.

    Exactness: values enter as exact BIGINTs; every per-relabeling
    sum/count is an exact integer behind q274's affine salt walk under
    the DISTINCT _RELABEL_KNUTH multiplier (a mere salt offset inside
    the same multiplier collapses to a neighboring id-residue's
    bootstrap draw — see _RELABEL_KNUTH);
    diffs are identical doubles cross-engine, the extreme-count
    compares PINNED magnitudes, and p_value pins once."""
    src = df.select(F.col(id_col).cast("long").alias("__i"),
                    value.cast("long").alias("__v"),
                    is_a.cast("int").alias("__a")).filter(
        F.col("__i").isNotNull() & F.col("__v").isNotNull()
        & F.col("__a").isNotNull())
    bit = _boot_u32(F.col("__i"), F.col("__b"), _RELABEL_KNUTH) < 2 ** 31
    rows = _replicate_rows(
        src, nperm, bit.cast("long").alias("__bit"),
        F.sum("__a").cast("long").alias("na"),
        F.sum(1 - F.col("__a")).cast("long").alias("nb"),
        F.sum(F.col("__a") * F.col("__v")).cast("long").alias("sa"),
        F.sum((1 - F.col("__a")) * F.col("__v")).cast("long")
        .alias("sb"),
        F.sum(F.col("__bit") * F.col("__v")).cast("long").alias("pva"),
        F.sum("__bit").cast("long").alias("pna"))
    # driver-side scalar tail (the q274 pattern): identical IEEE
    # doubles, pinned magnitudes compared on exact equality
    spark = df.sparkSession
    schema = ("n_a long, n_b long, diff_obs double, n_extreme long, "
              "p_value double")
    if not rows:
        return spark.createDataFrame(
            [(0, 0, None, None, None)], schema)
    any_r = next(iter(rows.values()))
    n_a, n_b = int(any_r["na"]), int(any_r["nb"])
    sa, sb = int(any_r["sa"]), int(any_r["sb"])
    if n_a == 0 or n_b == 0:
        return spark.createDataFrame(
            [(n_a, n_b, None, None, None)], schema)
    tot_s, tot_n = sa + sb, n_a + n_b
    diff_obs = float(sa) / n_a - float(sb) / n_b
    obs_mag = pin_float(abs(diff_obs))
    extreme = 0
    for b in range(nperm):
        pna, pva = int(rows[b]["pna"]), int(rows[b]["pva"])
        if 0 < pna < tot_n:
            pd = pin_float(abs(float(pva) / pna
                               - float(tot_s - pva) / (tot_n - pna)))
            if pd >= obs_mag:
                extreme += 1
    return spark.createDataFrame(
        [(n_a, n_b, pin_float(diff_obs), extreme,
          pin_float(float(1 + extreme) / (1 + nperm)))], schema)


# Multiple-testing control (q281). A platform that
# emits one test statistic PER GROUP (q228's per-series Mann-Kendall z,
# q247's per-group AUC...) needs the step that keeps 1500 simultaneous
# tests honest — Benjamini-Hochberg FDR. Normal tail probabilities use
# the Abramowitz & Stegun 26.2.17 polynomial (|error| < 7.5e-8, far
# under the 1e-6 pin) written token-identically in both engines: the
# only transcendental is exp(), whose cross-engine bit-identity q265's
# green floor(exp·1e6) hash established.

_AS_B = (0.319381530, -0.356563782, 1.781477937,
         -1.821255978, 1.330274429)
_AS_P = 0.2316419
_INV_SQRT_2PI = 0.3989422804014327


def _normal_sf(z: Column) -> Column:
    """Upper-tail P(Z > z) for z ≥ 0 — A&S 26.2.17."""
    t = 1.0 / (1.0 + _AS_P * z)
    poly = (_AS_B[0] * t + _AS_B[1] * t * t
            + _AS_B[2] * t * t * t
            + _AS_B[3] * t * t * t * t
            + _AS_B[4] * t * t * t * t * t)
    pdf = _INV_SQRT_2PI * F.exp(-z * z / 2)
    return pdf * poly


def _normal_sf_sql(z: str) -> str:
    t = f"(1.0 / (1.0 + {_AS_P} * {z}))"
    poly = (f"({_AS_B[0]} * {t} + {_AS_B[1]} * {t} * {t}"
            f" + {_AS_B[2]} * {t} * {t} * {t}"
            f" + {_AS_B[3]} * {t} * {t} * {t} * {t}"
            f" + {_AS_B[4]} * {t} * {t} * {t} * {t} * {t})")
    return f"({_INV_SQRT_2PI} * exp(-{z} * {z} / 2) * {poly})"


def bh_fdr(df: DataFrame, key_col: str, p_col: str,
           alpha: float = 0.1) -> DataFrame:
    """(key, p_value, rk, m, rejected): the Benjamini–Hochberg step-up
    procedure at FDR level `alpha` over a (key, p_value) table — NULL
    p-values are excluded from m (untestable groups don't dilute the
    correction). rejected ⇔ rank ≤ max{k : p_(k) ≤ k·α/m}, realized as
    a running max over the ordered flag so one window pass decides
    every row.

    Scale shape: the input is already one row per GROUP (model scores,
    per-series trends), orders of magnitude smaller than the corpus —
    the rank window over it is |groups|-sized by construction. The
    p ≤ k·α/m compare runs on PINNED p-values against an
    exact-integer-derived double, identical cross-engine."""
    src = df.select(F.col(key_col).alias("__k"),
                    F.col(p_col).alias("__p")).filter(
        F.col("__p").isNotNull())
    w = Window.orderBy(F.asc("__p"), F.asc("__k"))
    wall = Window.partitionBy()
    ranked = src.select(
        "__k", "__p",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(wall).alias("m"))
    ok_rank = F.when(
        F.col("__p") <= F.col("rk") * F.lit(alpha) / F.col("m"),
        F.col("rk")).otherwise(F.lit(0))
    wcum = (Window.orderBy(F.asc("rk"))
            .rowsBetween(Window.unboundedPreceding,
                         Window.unboundedFollowing))
    cutoff = F.max(ok_rank).over(wcum)
    return ranked.select(
        F.col("__k").alias(key_col), F.col("__p").alias(p_col),
        F.col("rk").cast("long").alias("rk"),
        F.col("m").cast("long").alias("m"),
        (F.col("rk") <= cutoff).cast("int").alias("rejected"))


@query(
    "q275_mann_whitney_u",
    oracle=f"""
    WITH s AS (
      SELECT CAST(l_quantity AS DOUBLE) AS v, l_linestatus = 'O' AS ia
      FROM lineitem WHERE l_linestatus IN ('O', 'F')
    ),
    cells AS (
      SELECT v, {_count_sql("ia")} AS ca, {_count_sql("NOT ia")} AS cb,
             count(*) AS t
      FROM s GROUP BY v
    ),
    sp AS ({_SPANS_SQL.format("cells")}),
    agg AS (
      SELECT CAST(sum(ca) AS BIGINT) AS n_a,
             CAST(sum(cb) AS BIGINT) AS n_b,
             sum(CAST(ca AS HUGEINT) * (2 * s + t + 1)) AS tra,
             sum(CAST(t AS HUGEINT) * t * t - t) AS ties
      FROM sp
    ),
    ex AS (
      SELECT n_a, n_b,
             (CAST(tra AS DOUBLE)
              - CAST(n_a AS DOUBLE) * (n_a + 1)) AS two_u,
             CAST(n_a AS DOUBLE) * n_b / 12
             * (CAST(n_a + n_b + 1 AS DOUBLE)
                - CAST(ties AS DOUBLE)
                / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1)))
               AS var
      FROM agg
    )
    SELECT n_a, n_b,
           CASE WHEN n_a > 0 AND n_b > 0 THEN two_u / 2 END AS u_a,
           CASE WHEN n_a > 0 AND n_b > 0 AND n_a + n_b > 1
                AND var > 0 THEN
             {pin_sql("(two_u - CAST(n_a AS DOUBLE) * n_b) / 2 / sqrt(var)")}
           END AS z
    FROM ex
    """,
)
def q275_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-sum test of 'do open lines ship different quantities than
    finished ones' — exact tie-aware U and pinned z in one
    hash-checked row (q262's fixture, nonparametric edition)."""
    li = load_table(spark, sf_dir, "lineitem")
    return mann_whitney_u(li, "l_quantity", "l_linestatus", "O", "F")


@query(
    "q276_kruskal_wallis",
    oracle=f"""
    WITH cells AS (
      SELECT l_returnflag AS g, CAST(l_quantity AS DOUBLE) AS v,
             CAST(count(*) AS BIGINT) AS c
      FROM lineitem WHERE l_returnflag IS NOT NULL GROUP BY 1, 2
    ),
    vt AS (SELECT v, CAST(sum(c) AS BIGINT) AS t FROM cells GROUP BY v),
    sp AS ({_SPANS_SQL.format("vt")}),
    perg AS (
      SELECT g, CAST(sum(c) AS BIGINT) AS ng,
             sum(CAST(c AS HUGEINT) * (2 * sp.s + sp.t + 1)) AS tr
      FROM cells JOIN sp USING (v) GROUP BY g
    ),
    tie AS (SELECT sum(CAST(t AS HUGEINT) * t * t - t) AS ties FROM sp),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(ng) AS BIGINT) AS n,
             sum(CAST(tr AS DOUBLE) * tr / (4 * ng)) AS rr
      FROM perg
    ),
    ex AS (
      SELECT k, n,
             12 / (CAST(n AS DOUBLE) * (n + 1)) * rr
             - 3 * (CAST(n AS DOUBLE) + 1) AS h_raw,
             1 - CAST(ties AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                - CAST(n AS DOUBLE)) AS corr
      FROM agg, tie
    )
    SELECT k, n,
           CASE WHEN k > 1 AND n > 1 THEN
             {pin_sql("h_raw")} END AS h,
           CASE WHEN k > 1 AND n > 1 AND corr > 0 THEN
             {pin_sql("h_raw / corr")}
           END AS h_tie_corrected
    FROM ex
    """,
)
def q276_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis across the three return-flag cohorts' quantity
    distributions: one hash-checked (k, n, h, h_tie_corrected) row."""
    li = load_table(spark, sf_dir, "lineitem")
    return kruskal_wallis(li, "l_quantity", "l_returnflag")


# The (g, v) source of the return-flag revenue tests q277, q306, q318
# and q319: each line item's return flag and price in integer cents.
_FLAG_CENTS_SQL = f"""SELECT l_returnflag AS g,
             {cents_sql("l_extendedprice")} AS v
      FROM lineitem
      WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL"""


@query(
    "q277_anova_f",
    oracle=f"""
    WITH s AS ({_FLAG_CENTS_SQL}),
    perg AS ({moments_sql("s")}),
    {_one_way_f_sql("perg")}
    SELECT k, n, CAST(k - 1 AS BIGINT) AS df_between,
           CAST(n - k AS BIGINT) AS df_within, f
    FROM fx
    """,
)
def q277_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of revenue cents across return-flag cohorts —
    exact integer sums of squares, one pinned hash-checked F row."""
    li = load_table(spark, sf_dir, "lineitem")
    return anova_f(li, cents("l_extendedprice").cast("long"),
                   "l_returnflag")


@query(
    "q278_cohens_d",
    oracle=f"""
    WITH s AS (
      SELECT l_linestatus = 'O' AS ia, {cents_sql("l_extendedprice")} AS v
      FROM lineitem
      WHERE l_linestatus IN ('O', 'F') AND l_extendedprice IS NOT NULL
    ),
    agg AS (
      SELECT {_masked_moments_sql("ia", "a")},
             {_masked_moments_sql("NOT ia", "b")}
      FROM s
    ),
    ex AS (
      SELECT n_a, n_b,
             CAST(s_a AS DOUBLE) / n_a AS ma,
             CAST(s_b AS DOUBLE) / n_b AS mb,
             {_css_sql("q_a", "s_a", "n_a")} AS da,
             {_css_sql("q_b", "s_b", "n_b")} AS db
      FROM agg
    )
    SELECT n_a, n_b,
           CASE WHEN n_a > 0 THEN {pin_sql("ma")} END AS mean_a,
           CASE WHEN n_b > 0 THEN {pin_sql("mb")} END AS mean_b,
           CASE WHEN n_a > 1 AND n_b > 1 AND da + db > 0 THEN
             {pin_sql("(ma - mb)"
                      " / sqrt((da + db) / CAST(n_a + n_b - 2 AS DOUBLE))")}
           END AS d
    FROM ex
    """,
)
def q278_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effect size of the open-vs-finished revenue gap (q262 says
    whether it's noise; this says whether it's big) — one hash-checked
    (n_a, n_b, mean_a, mean_b, d) row."""
    li = load_table(spark, sf_dir, "lineitem")
    return cohens_d(li, cents("l_extendedprice").cast("long"),
                    "l_linestatus", "O", "F")


def _relabel_oracle() -> str:
    P = _RELABEL_P
    half = 2 ** 31

    def bit(b: int) -> str:
        return f"({_boot_u32_sql('o_orderkey', b, _RELABEL_KNUTH)}) < {half}"

    perms = "\n".join(
        f"      , CAST(sum(CASE WHEN {bit(b)} THEN v ELSE 0 END) AS BIGINT)"
        f" AS pva{b}\n      , {_count_sql(bit(b))} AS pna{b}"
        for b in range(P))
    pds = ",\n".join(
        f"      CASE WHEN pna{b} > 0 AND pna{b} < n_a + n_b THEN "
        + pin_sql(f"abs(CAST(pva{b} AS DOUBLE) / pna{b}"
                  f" - CAST(sa + sb - pva{b} AS DOUBLE)"
                  f" / (n_a + n_b - pna{b}))")
        + f" END AS pd{b}"
        for b in range(P))
    hits = " + ".join(
        f"(CASE WHEN pd{b} >= obs_mag THEN 1 ELSE 0 END)"
        for b in range(P))
    return f"""
    WITH s AS (
      SELECT o_orderkey, {cents_sql("o_totalprice")} AS v,
             CAST(o_orderstatus = 'O' AS INT) AS a
      FROM orders
      WHERE o_orderstatus IN ('O', 'F') AND o_totalprice IS NOT NULL
    ),
    agg AS (
      SELECT CAST(sum(a) AS BIGINT) AS n_a,
             CAST(sum(1 - a) AS BIGINT) AS n_b,
             CAST(sum(a * v) AS BIGINT) AS sa,
             CAST(sum((1 - a) * v) AS BIGINT) AS sb
{perms}
      FROM s
    ),
    obs AS (
      SELECT *, CAST(sa AS DOUBLE) / n_a - CAST(sb AS DOUBLE) / n_b
                  AS diff_raw,
             {pin_sql("abs(diff_raw)")} AS obs_mag
      FROM agg
    ),
    pd AS (
      SELECT *,
{pds}
      FROM obs
    ),
    ex AS (SELECT *, {hits} AS extreme FROM pd)
    SELECT n_a, n_b,
           CASE WHEN n_a > 0 AND n_b > 0 THEN {pin_sql("diff_raw")}
           END AS diff_obs,
           CASE WHEN n_a > 0 AND n_b > 0 THEN CAST(extreme AS BIGINT)
           END AS n_extreme,
           CASE WHEN n_a > 0 AND n_b > 0 THEN
             {pin_sql(f"CAST(1 + extreme AS DOUBLE) / {1 + P}")}
           END AS p_value
    FROM ex
    """


@query("q280_relabeling_test", oracle=_relabel_oracle())
def q280_relabeling_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is the open-vs-finished order-value gap more extreme than 64
    deterministic hash relabelings? One hash-checked row with the
    observed diff, the extreme count, and the finite-sample-corrected
    p — every pseudo-labeling reproduced by the oracle's identical
    hash walk."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isin("O", "F"))
    return relabeling_test_mean(
        o, "o_orderkey", cents("o_totalprice"),
        (F.col("o_orderstatus") == "O").cast("int"))


def _bh_fdr_oracle() -> str:
    from auto_ml_platform_with_timeseries_data_spark.operators.ts_features import (
        _mk_oracle,
    )

    sf = _normal_sf_sql("abs(z)")
    return f"""
    WITH mk AS ({_mk_oracle()}),
    pv AS (
      SELECT user_id AS k,
             CASE WHEN z IS NOT NULL THEN
               floor(least(1.0, 2 * {sf}) * 1e9 + 0.5) / 1e9
             END AS p_value
      FROM mk
    ),
    f AS (SELECT k, p_value FROM pv WHERE p_value IS NOT NULL),
    r AS (
      SELECT k, p_value,
             row_number() OVER (ORDER BY p_value ASC, k ASC) AS rk,
             count(*) OVER () AS m
      FROM f
    ),
    c AS (
      SELECT *, max(CASE WHEN p_value <= rk * 0.1 / m THEN rk
                         ELSE 0 END) OVER () AS cut
      FROM r
    )
    SELECT k AS user_id, p_value, CAST(rk AS BIGINT) AS rk,
           CAST(m AS BIGINT) AS m,
           CAST(rk <= cut AS INT) AS rejected
    FROM c
    """


@query("q281_bh_fdr", oracle=_bh_fdr_oracle())
def q281_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multiple-testing step over q228's per-series trend tests:
    two-sided p from the A&S normal tail, then Benjamini–Hochberg at
    FDR 0.1 — every (user, p, rank, rejected) row hash-checked, so the
    driver certifies the step-up cutoff itself."""
    from auto_ml_platform_with_timeseries_data_spark.operators.ts_features import (
        mann_kendall,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull())
    mk = mann_kendall(ev, "user_id").withColumnRenamed("__g", "user_id")
    p = mk.select(
        "user_id",
        F.when(F.col("z").isNotNull(),
               F.floor(F.least(F.lit(1.0),
                               2 * _normal_sf(F.abs(F.col("z"))))
                       * 1e9 + F.lit(0.5)) / 1e9).alias("p_value"))
    return bh_fdr(p, "user_id", "p_value", alpha=0.1)


# ---------------------------------------------------------------------------
# Trend, quasi-experimental and balance statistics (q282-q284)
# ---------------------------------------------------------------------------


def cochran_armitage(df: DataFrame, score: Column,
                     success: Column) -> DataFrame:
    """One-row (k, n, x, z): the Cochran–Armitage trend test — does a
    binary rate RISE OR FALL monotonically with an ordered integer
    score (dose, bucket, tier)? The chi-square independence test
    (q135) sees ANY deviation; this one spends all its power on the
    trend, which is usually the question. T = Σx_i·w_i − p̄·Σn_i·w_i,
    Var = p̄(1−p̄)(Σn_i w_i² − (Σn_i w_i)²/N), z = T/√Var.

    One map-side-combined cell group-by; Σxw / Σnw / Σnw² are exact
    BIGINTs (DECIMAL(38,0) for the w² sum — scores × N² tops int64 at
    scale); z is a single pinned double over those integers.
    Degenerate inputs (one score level, all-success/all-failure)
    report z NULL-by-contract."""
    src = df.select(score.cast("long").alias("__w"),
                    success.cast("long").alias("__y")).filter(
        F.col("__w").isNotNull() & F.col("__y").isNotNull())
    cells = src.groupBy("__w").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("__y").cast("long").alias("__x"))
    w = dec(F.col("__w"))
    nw = dec(F.col("__n")) * w
    agg = cells.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("__n").cast("long").alias("n"),
        F.sum("__x").cast("long").alias("x"),
        F.sum(dec(F.col("__x")) * w).alias("__xw"),
        F.sum(nw).alias("__nw"),
        F.sum(nw * w).alias("__nww"))
    n = F.col("n").cast("double")
    pbar = F.col("x").cast("double") / n
    t = F.col("__xw").cast("double") - pbar * F.col("__nw")
    var = (pbar * (1 - pbar)
           * (F.col("__nww").cast("double")
              - F.col("__nw").cast("double") * F.col("__nw") / n))
    ok = (F.col("k") > 1) & (F.col("x") > 0) & (F.col("x") < F.col("n"))
    return agg.select(
        "k", "n", "x",
        F.when(ok & (var > 0), pin(t / F.sqrt(var))).alias("z"))


def diff_in_diff(df: DataFrame, value: Column, is_treat: Column,
                 is_post: Column) -> DataFrame:
    """One-row (n_t0, n_t1, n_c0, n_c1, mean_t0, mean_t1, mean_c0,
    mean_c1, did, se, z): the difference-in-differences estimator —
    (treated post − pre) minus (control post − pre), the standard
    quasi-experimental read when treatment wasn't randomized but both
    arms share a trend. SE is the unpooled four-cell Welch form
    √(Σ s²_g/n_g) over (n−1) sample variances.

    The corpus reduces to FOUR cells of exact integers (n, Σv, Σv² at
    DECIMAL(38,0)/HUGEINT width — pass cents/counts); every mean, the
    estimate, its SE and z are single pinned doubles over those
    integers. Any empty cell (or zero variance everywhere) reports
    did/se/z NULL-by-contract."""
    src = df.select(value.cast("long").alias("__v"),
                    is_treat.cast("int").alias("__t"),
                    is_post.cast("int").alias("__p")).filter(
        F.col("__v").isNotNull() & F.col("__t").isNotNull()
        & F.col("__p").isNotNull())
    v = F.col("__v")
    masks = {f"{g}{p}": (F.col("__t") == t) & (F.col("__p") == p)
             for t, g in ((1, "t"), (0, "c")) for p in (0, 1)}
    agg = src.agg(
        *[F.sum(m.cast("long")).cast("long").alias(f"n_{g}")
          for g, m in masks.items()],
        *[_masked_sum(m, dec(v)).alias(f"__s_{g}") for g, m in masks.items()],
        *[_masked_sum(m, dec_sq(v)).alias(f"__q_{g}")
          for g, m in masks.items()])

    def mean(g):
        return F.col(f"__s_{g}").cast("double") / F.col(f"n_{g}")

    def var(g):
        return (_css(f"__q_{g}", f"__s_{g}", f"n_{g}")
                / (F.col(f"n_{g}") - 1).cast("double"))

    cells = list(masks)
    did = (mean("t1") - mean("t0")) - (mean("c1") - mean("c0"))
    se2 = sum((var(g) / F.col(f"n_{g}") for g in cells[1:]),
              var(cells[0]) / F.col(f"n_{cells[0]}"))
    nonempty = None
    for g in cells:
        c = F.col(f"n_{g}") > 1
        nonempty = c if nonempty is None else (nonempty & c)
    return agg.select(
        *[F.col(f"n_{g}") for g in cells],
        *[F.when(F.col(f"n_{g}") > 0, pin(mean(g))).alias(f"mean_{g}")
          for g in cells],
        F.when(nonempty, pin(did)).alias("did"),
        F.when(nonempty & (se2 > 0), pin(F.sqrt(se2))).alias("se"),
        F.when(nonempty & (se2 > 0), pin(did / F.sqrt(se2)))
        .alias("z"))


def covariate_balance(df: DataFrame, is_a: Column,
                      features: dict[str, Column]) -> DataFrame:
    """(feature, n_a, n_b, mean_a, mean_b, smd, var_ratio): the
    covariate balance table an A/B or observational analysis reads
    BEFORE trusting an effect estimate — standardized mean difference
    (m_a − m_b)/√((s²_a + s²_b)/2) and the variance ratio per feature;
    |SMD| < 0.1 is the usual 'balanced' rule of thumb.

    Features melt into (feature, value) rows in ONE projection (pass
    INTEGER-valued expressions — cents, counts, bucket ids), so the
    whole table is one map-side-combined group-by producing six exact
    integers per feature; SMD and the ratio are single pinned doubles.
    Degenerate features (an empty arm, zero pooled variance) report
    NULL-by-contract."""
    pairs = []
    for name, col in sorted(features.items()):
        pairs.append(F.struct(F.lit(name).alias("f"),
                              col.cast("long").alias("v")))
    src = df.select(is_a.cast("int").alias("__a"),
                    F.explode(F.array(*pairs)).alias("__fv")).select(
        "__a", F.col("__fv.f").alias("__f"), F.col("__fv.v").alias("__v")
    ).filter(F.col("__a").isNotNull() & F.col("__v").isNotNull())
    a, v = F.col("__a"), F.col("__v")
    agg = src.groupBy("__f").agg(
        F.sum("__a").cast("long").alias("n_a"),
        F.sum(1 - a).cast("long").alias("n_b"),
        *[_masked_sum(a == i, term(v)).alias(f"__{k}{g}")
          for k, term in (("s", dec), ("q", dec_sq))
          for i, g in ((1, "a"), (0, "b"))])
    na, nb = F.col("n_a"), F.col("n_b")
    ma = F.col("__sa").cast("double") / na
    mb = F.col("__sb").cast("double") / nb
    va = _css("__qa", "__sa", "n_a") / (na - 1).cast("double")
    vb = _css("__qb", "__sb", "n_b") / (nb - 1).cast("double")
    ok = (na > 1) & (nb > 1)
    pooled = (va + vb) / 2
    return agg.select(
        F.col("__f").alias("feature"), "n_a", "n_b",
        F.when(na > 0, pin(ma)).alias("mean_a"),
        F.when(nb > 0, pin(mb)).alias("mean_b"),
        F.when(ok & (pooled > 0),
               pin((ma - mb) / F.sqrt(pooled))).alias("smd"),
        F.when(ok & (vb > 0), pin(va / vb)).alias("var_ratio"))


@query(
    "q282_cochran_armitage",
    oracle=f"""
    WITH s AS (
      SELECT CAST(floor(l_quantity) AS BIGINT) // 10 AS w,
             CAST(l_returnflag = 'R' AS BIGINT) AS y
      FROM lineitem WHERE l_quantity IS NOT NULL
    ),
    cells AS (
      SELECT w, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS x
      FROM s GROUP BY w
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS x,
             sum(CAST(x AS HUGEINT) * w) AS xw,
             sum(CAST(n AS HUGEINT) * w) AS nw,
             sum(CAST(n AS HUGEINT) * w * w) AS nww
      FROM cells
    ),
    ex AS (
      SELECT k, n, x, CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS pbar,
             CAST(xw AS DOUBLE) - pbar * nw AS t,
             pbar * (1 - pbar)
             * {_css_sql("nww", "nw", "CAST(n AS DOUBLE)")} AS var
      FROM agg
    )
    SELECT k, n, x,
           CASE WHEN k > 1 AND x > 0 AND x < n AND var > 0 THEN
             {pin_sql("t / sqrt(var)")}
           END AS z
    FROM ex
    """,
)
def q282_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does the return rate trend with the quantity decile? q135's
    chi-square sees any deviation; Cochran-Armitage spends all its
    power on the monotone trend — one hash-checked (k, n, x, z) row."""
    li = load_table(spark, sf_dir, "lineitem")
    return cochran_armitage(
        li.filter(F.col("l_quantity").isNotNull()),
        F.expr("cast(floor(l_quantity) as bigint) div 10"),
        (F.col("l_returnflag") == "R").cast("long"))


_DID_CELLS = {"t0": "t = 1 AND p = 0", "t1": "t = 1 AND p = 1",
              "c0": "t = 0 AND p = 0", "c1": "t = 0 AND p = 1"}


def _did_oracle() -> str:
    sums = ",\n             ".join(
        _masked_moments_sql(m, g) for g, m in _DID_CELLS.items())
    stats = ",\n        ".join(
        f"CAST(s_{g} AS DOUBLE) / n_{g} AS m_{g},\n"
        f"        {_css_sql(f'q_{g}', f's_{g}', f'n_{g}')}"
        f" / CAST(n_{g} - 1 AS DOUBLE) AS v_{g}" for g in _DID_CELLS)
    means = ",\n      ".join(
        f"CASE WHEN n_{g} > 0 THEN {pin_sql(f'm_{g}')} END AS mean_{g}"
        for g in _DID_CELLS)
    return f"""
    WITH s AS (
      SELECT {cents_sql("o_totalprice")} AS v,
             CAST(o_orderpriority IN ('1-URGENT', '2-HIGH') AS INT)
               AS t,
             CAST(o_orderdate >= DATE '1995-01-01' AS INT) AS p
      FROM orders WHERE o_totalprice IS NOT NULL
    ),
    agg AS (
      SELECT {sums}
      FROM s
    ),
    ex AS (
      SELECT *,
        {stats}
      FROM agg
    ),
    fin AS (
      SELECT *,
        (m_t1 - m_t0) - (m_c1 - m_c0) AS did_raw,
        v_t0 / n_t0 + v_t1 / n_t1 + v_c0 / n_c0 + v_c1 / n_c1 AS se2,
        (n_t0 > 1 AND n_t1 > 1 AND n_c0 > 1 AND n_c1 > 1) AS ok
      FROM ex
    )
    SELECT n_t0, n_t1, n_c0, n_c1,
      {means},
      CASE WHEN ok THEN {pin_sql("did_raw")} END AS did,
      CASE WHEN ok AND se2 > 0 THEN {pin_sql("sqrt(se2)")} END AS se,
      CASE WHEN ok AND se2 > 0 THEN {pin_sql("did_raw / sqrt(se2)")}
      END AS z
    FROM fin
    """


@query("q283_diff_in_diff", oracle=_did_oracle())
def q283_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Did urgent-priority orders' prices move differently across the
    1995 boundary than normal-priority ones? The four-cell DID
    estimator with Welch SE — one hash-checked row."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull())
    return diff_in_diff(
        o, cents("o_totalprice"),
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
        F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))


def _balance_oracle() -> str:
    feats = {"discount_pct": ("l_discount", cents_sql("l_discount")),
             "price_cents": ("l_extendedprice",
                             cents_sql("l_extendedprice")),
             "quantity": ("l_quantity", "CAST(floor(l_quantity) AS BIGINT)"),
             "tax_pct": ("l_tax", cents_sql("l_tax"))}
    src = "\n      UNION ALL\n".join(
        f"      SELECT '{f}' AS f, {v} AS v,\n"
        f"             CAST(l_returnflag = 'R' AS INT) AS a\n"
        f"      FROM lineitem WHERE {c} IS NOT NULL"
        for f, (c, v) in feats.items())
    return f"""
    WITH m AS (
{src}
    ),
    agg AS (
      SELECT f,
             {_masked_moments_sql("a = 1", "a")},
             {_masked_moments_sql("a = 0", "b")}
      FROM m GROUP BY f
    ),
    ex AS (
      SELECT f, n_a, n_b,
             CAST(s_a AS DOUBLE) / n_a AS ma,
             CAST(s_b AS DOUBLE) / n_b AS mb,
             {_css_sql("q_a", "s_a", "n_a")}
               / CAST(n_a - 1 AS DOUBLE) AS va,
             {_css_sql("q_b", "s_b", "n_b")}
               / CAST(n_b - 1 AS DOUBLE) AS vb
      FROM agg
    )
    SELECT f AS feature, n_a, n_b,
      CASE WHEN n_a > 0 THEN {pin_sql("ma")} END AS mean_a,
      CASE WHEN n_b > 0 THEN {pin_sql("mb")} END AS mean_b,
      CASE WHEN n_a > 1 AND n_b > 1 AND (va + vb) / 2 > 0 THEN
        {pin_sql("(ma - mb) / sqrt((va + vb) / 2)")}
      END AS smd,
      CASE WHEN n_a > 1 AND n_b > 1 AND vb > 0 THEN {pin_sql("va / vb")}
      END AS var_ratio
    FROM ex
    """


@query("q284_covariate_balance", oracle=_balance_oracle())
def q284_covariate_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Are returned and kept line items balanced on quantity, price,
    discount and tax? The SMD/variance-ratio table read before
    trusting any returned-vs-kept effect — every feature row
    hash-checked."""
    li = load_table(spark, sf_dir, "lineitem")
    feats = {
        "quantity": F.floor(F.col("l_quantity")),
        "price_cents": cents("l_extendedprice"),
        "discount_pct": cents("l_discount"),
        "tax_pct": cents("l_tax"),
    }
    return covariate_balance(
        li, (F.col("l_returnflag") == "R").cast("int"), feats)


# ---------------------------------------------------------------------------
# Paired, stratified and structural statistics (q301-q306)
# ---------------------------------------------------------------------------


def _cell_count(a: str, b: str, i: int, j: int) -> Column:
    """The BIGINT count of the rows with a = i and b = j (``_cells_sql``)."""
    return F.sum(((F.col(a) == i) & (F.col(b) == j)).cast("long")) \
        .cast("long")


def mcnemar_test(df: DataFrame, flag_a: Column,
                 flag_b: Column) -> DataFrame:
    """One-row (n00, n01, n10, n11, chi2): McNemar's test for PAIRED
    binary outcomes — did flag A flip where flag B didn't? Only the
    discordant cells carry information: chi2 = (n01 − n10)²/(n01 +
    n10) (no continuity correction — the plain form, documented).
    The question q262's two-proportion z CANNOT answer when the two
    flags live on the same row (paired, not independent samples).

    One map-side-combined four-cell aggregate of exact integers; chi2
    is a single pinned double. n01 + n10 = 0 reports
    NULL-by-contract."""
    src = df.select(flag_a.cast("int").alias("__a"),
                    flag_b.cast("int").alias("__b")).filter(
        F.col("__a").isNotNull() & F.col("__b").isNotNull())
    agg = src.agg(*[_cell_count("__a", "__b", i, j).alias(f"n{i}{j}")
                    for i in (0, 1) for j in (0, 1)])
    b, c = F.col("n01").cast("double"), F.col("n10").cast("double")
    return agg.select(
        "n00", "n01", "n10", "n11",
        F.when(F.col("n01") + F.col("n10") > 0,
               pin((b - c) * (b - c) / (b + c))).alias("chi2"))


def mantel_haenszel(df: DataFrame, stratum: Column, exposed: Column,
                    outcome: Column) -> DataFrame:
    """One-row (k_strata, n, or_mh, chi2_cmh): the Mantel–Haenszel
    pooled odds ratio and Cochran–MH chi-square over per-stratum 2×2
    tables — THE confounder-adjusted association read (q135's
    chi-square pools strata and Simpson's paradox eats it; this
    stratifies first). OR_MH = Σ(aᵢdᵢ/nᵢ)/Σ(bᵢcᵢ/nᵢ);
    chi2 = (Σaᵢ − ΣEᵢ)²/ΣVᵢ with E = (a+b)(a+c)/n and
    V = (a+b)(c+d)(a+c)(b+d)/(n²(n−1)).

    One map-side-combined group-by to stratum cells (exact integers),
    then the per-stratum ratio terms quantize to floor(x·1e12) BIGINT
    (order-free sums; the V numerator is promoted to double BEFORE
    the second product — four marginals each ≤ n keep every
    intermediate under 2^53 for n < 3e6 per stratum, documented);
    both statistics pin once. Degenerate inputs (ΣV = 0 or a zero
    denominator sum) report NULL-by-contract."""
    src = df.select(stratum.cast("long").alias("__s"),
                    exposed.cast("int").alias("__e"),
                    outcome.cast("int").alias("__o")).filter(
        F.col("__s").isNotNull() & F.col("__e").isNotNull()
        & F.col("__o").isNotNull())
    cell = lambda e, o: _cell_count("__e", "__o", e, o)  # noqa: E731
    cells = src.groupBy("__s").agg(
        cell(1, 1).alias("__a"), cell(1, 0).alias("__b"),
        cell(0, 1).alias("__c"), cell(0, 0).alias("__d"))
    a, b = F.col("__a").cast("double"), F.col("__b").cast("double")
    c, d = F.col("__c").cast("double"), F.col("__d").cast("double")
    n = a + b + c + d
    q12 = lambda x: F.floor(x * F.lit(1e12)).cast("long")  # noqa: E731
    e_t = (a + b) * (a + c) / n
    v_t = (a + b) * (c + d) * ((a + c) * (b + d)) / (n * n * (n - 1))
    agg = cells.filter(n > 1).agg(
        F.count(F.lit(1)).cast("long").alias("k_strata"),
        F.sum((F.col("__a") + F.col("__b") + F.col("__c")
               + F.col("__d"))).cast("long").alias("n"),
        F.sum("__a").cast("long").alias("__sa"),
        F.sum(q12(a * d / n)).alias("__rn"),
        F.sum(q12(b * c / n)).alias("__rd"),
        F.sum(q12(e_t)).alias("__se"),
        F.sum(q12(v_t)).alias("__sv"))
    diff = F.col("__sa").cast("double") - F.col("__se") / F.lit(1e12)
    return agg.select(
        "k_strata", "n",
        F.when(F.col("__rd") > 0,
               pin(F.col("__rn").cast("double") / F.col("__rd")))
        .alias("or_mh"),
        F.when(F.col("__sv") > 0,
               pin(diff * diff / (F.col("__sv") / F.lit(1e12))))
        .alias("chi2_cmh"))


def partial_correlation(df: DataFrame, x: Column, y: Column,
                        z: Column) -> DataFrame:
    """One-row (n, r_xy, r_xz, r_yz, r_partial): the first-order
    partial correlation of x and y CONTROLLING for z —
    (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)) — the one-line answer to
    'is the q04/q207 correlation just both variables tracking z?'.

    One map-side-combined aggregate of nine exact integer sums at
    DECIMAL(38,0)/HUGEINT width (pairwise products of cents top int64
    at corpus scale); each pairwise r and the partial pin once over
    those integers. Zero variance in any column, or |r| = 1 in a
    controlling pair, reports NULL-by-contract."""
    src = df.select(x.cast("long").alias("__x"),
                    y.cast("long").alias("__y"),
                    z.cast("long").alias("__z")).filter(
        F.col("__x").isNotNull() & F.col("__y").isNotNull()
        & F.col("__z").isNotNull())
    cols = {"x": F.col("__x"), "y": F.col("__y"), "z": F.col("__z")}
    terms = {**{k: dec(c) for k, c in cols.items()},
             **{i + j: dec(cols[i]) * dec(cols[j])
                for i, j in ("xy", "xz", "yz")},
             **{k + k: dec_sq(c) for k, c in cols.items()}}
    agg = src.agg(F.count(F.lit(1)).cast("long").alias("n"),
                  *[F.sum(t).alias(f"__s{k}") for k, t in terms.items()])
    n = F.col("n").cast("double")

    # ANSI null-safe divisors: the `ok`/`okp` CONDITIONS evaluate the
    # r's eagerly, and Spark 4 raises on double x/0 — empty input or a
    # zero-variance column must land NULL-by-contract, not crash.
    nsafe = F.when(n > 0, n)

    def cov(i, j, n=nsafe):
        return _cov(f"__s{i}{j}", f"__s{i}", f"__s{j}", n)

    def r(i, j):
        den = F.sqrt(cov(i, i) * cov(j, j))
        return cov(i, j) / F.when(den != 0, den)

    rxy, rxz, ryz = r("x", "y"), r("x", "z"), r("y", "z")
    pden = F.sqrt((1 - rxz * rxz) * (1 - ryz * ryz))
    part = (rxy - rxz * ryz) / F.when(pden != 0, pden)
    ok = ((F.col("n") > 2) & (cov("x", "x", n) > 0)
          & (cov("y", "y", n) > 0) & (cov("z", "z", n) > 0))
    okp = ok & (rxz * rxz < 1) & (ryz * ryz < 1)
    return agg.select(
        "n",
        F.when(ok, pin(rxy)).alias("r_xy"),
        F.when(ok, pin(rxz)).alias("r_xz"),
        F.when(ok, pin(ryz)).alias("r_yz"),
        F.when(okp, pin(part)).alias("r_partial"))


def grubbs_test(df: DataFrame, value: Column) -> DataFrame:
    """One-row (n, max_abs_dev, g): Grubbs' outlier statistic —
    G = max|v − v̄|/s over the whole corpus, the single-most-extreme-
    point screen (q60's z-scores flag MANY outliers row-wise; Grubbs
    asks whether even the WORST one is surprising). The argmax runs on
    EXACT integers: |v·n − S| at DECIMAL(38,0)/HUGEINT width (cents ×
    corpus rows tops int64 at scale), so the max is order-free;
    G = (max/n)/s pins once over exact sums. n < 3 or zero variance
    reports NULL-by-contract."""
    src = df.select(value.cast("long").alias("__v")).filter(
        F.col("__v").isNotNull())
    stats = src.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec(F.col("__v"))).alias("__s"),
        F.sum(dec_sq(F.col("__v"))).alias("__q"))
    j = src.crossJoin(F.broadcast(stats))
    agg = (j.select(
        "n", "__s", "__q",
        F.abs(dec(F.col("__v")) * dec(F.col("n"))
              - F.col("__s")).alias("__dev"))
        .groupBy("n", "__s", "__q")
        .agg(F.max("__dev").alias("__maxdev")))
    n = F.col("n").cast("double")
    # ANSI null-safe n-1 (the `ok` condition evaluates var eagerly;
    # a single-row corpus must land NULL-by-contract, not crash).
    var = _cov("__q", "__s", "__s", n) / F.when(n > 1, n - 1)
    g = (F.col("__maxdev").cast("double") / n) / F.sqrt(var)
    ok = (F.col("n") >= 3) & (var > 0)
    return agg.select(
        "n",
        F.when(ok, pin(F.col("__maxdev").cast("double") / n))
        .alias("max_abs_dev"),
        F.when(ok, pin(g)).alias("g"))


def chow_test(df: DataFrame, x: Column, y: Column,
              is_second: Column) -> DataFrame:
    """One-row (n1, n2, rmse_pooled, rmse_split, f): the Chow test for
    a STRUCTURAL break at a KNOWN split — fit y ~ a + b·x pooled and
    per segment, F = ((SSE_p − SSE_1 − SSE_2)/2)/((SSE_1 + SSE_2)/
    (n−4)).  q292 finds WHERE the level shifts; this says whether a
    known boundary changed the RELATIONSHIP (slope/intercept), which a
    level-shift test cannot see.  The fit-quality readouts are RMSEs
    (√(SSE/n)), not raw SSEs — an SSE grows with corpus size and
    overflows any fixed 1e6 pin at scale (Spark's floor→long saturates
    at 2^63); RMSE is scale-stable.

    Each segment reduces to five exact integer sums at
    DECIMAL(38,0)/HUGEINT width in ONE map-side-combined aggregate
    (segment id is just a group key); every SSE is
    SYY − SXY²/SXX over exact-integer-derived doubles and F pins
    once. A segment with n < 3 or zero x-variance reports
    NULL-by-contract."""
    src = df.select(x.cast("long").alias("__x"),
                    y.cast("long").alias("__y"),
                    is_second.cast("int").alias("__g2")).filter(
        F.col("__x").isNotNull() & F.col("__y").isNotNull()
        & F.col("__g2").isNotNull())

    x, y = F.col("__x"), F.col("__y")
    terms = {"x": dec(x), "y": dec(y), "xx": dec_sq(x),
             "xy": dec(x) * dec(y), "yy": dec_sq(y)}

    def sums(pred, tag):
        n = _masked_sum(pred, F.lit(1)).cast("long").alias(f"n{tag}")
        return [n] + [_masked_sum(pred, c).alias(f"__s{k}{tag}")
                      for k, c in terms.items()]

    agg = src.agg(*(sums(F.col("__g2") == 0, "1")
                    + sums(F.col("__g2") == 1, "2")
                    + sums(F.lit(True), "p")))

    def sse(tag):
        n = F.col(f"n{tag}").cast("double")
        # ANSI null-safe divisors: Spark 4 raises DIVIDE_BY_ZERO even
        # for doubles, and the `ok` CONDITION below evaluates these
        # eagerly — an empty segment must yield NULL-by-contract (the
        # docstring's promise), not a crash.  When the guard passes the
        # value is token-identical to the oracle's unguarded division.
        nsafe = F.when(n > 0, n)

        def cov(a, b):
            return _cov(f"__s{a}{b}{tag}", f"__s{a}{tag}", f"__s{b}{tag}",
                        nsafe)

        sxx, sxy = cov("x", "x"), cov("x", "y")
        return cov("y", "y") - sxy * sxy / F.when(sxx != 0, sxx), sxx

    sse1, sxx1 = sse("1")
    sse2, sxx2 = sse("2")
    ssep, sxxp = sse("p")
    n = (F.col("n1") + F.col("n2")).cast("double")
    fstat = ((ssep - sse1 - sse2) / 2) / ((sse1 + sse2) / (n - 4))
    ok = ((F.col("n1") > 2) & (F.col("n2") > 2)
          & (sxx1 > 0) & (sxx2 > 0) & (sxxp > 0))
    okf = ok & (sse1 + sse2 > 0)
    return agg.select(
        "n1", "n2",
        F.when(ok, pin(F.sqrt(ssep / n))).alias("rmse_pooled"),
        F.when(ok, pin(F.sqrt((sse1 + sse2) / n))).alias("rmse_split"),
        F.when(okf, pin(fstat)).alias("f"))


def levene_bf(df: DataFrame, value: Column,
              group_col: str) -> DataFrame:
    """(k, n, f): the Brown–Forsythe (median-centered Levene) test for
    VARIANCE homogeneity across groups — the assumption check behind
    q277's ANOVA (whose F trusts equal variances) and the spread
    sibling of q278's mean effect. Per-group MEDIANS (lower/type-1,
    exact via the value-domain cumulative walk — the KS/threshold
    contract, bounded by distinct values per group, never a sort of
    raw rows), then one-way ANOVA on the absolute deviations
    w = |v − med| — still exact integers.

    Two shuffles total: the (group, value) cell group-by and the
    final group-by; the deviations table reuses the cells (rows never
    rejoin raw data). Degenerate inputs (k < 2, n ≤ k, zero
    within-group deviation spread) report f NULL-by-contract."""
    src = group_values(df, group_col, value)
    cells = src.groupBy("__g", "__v").agg(
        F.count(F.lit(1)).cast("long").alias("__c"))
    wcum = (Window.partitionBy("__g").orderBy("__v")
            .rowsBetween(Window.unboundedPreceding, 0))
    wall = Window.partitionBy("__g")
    stepped = cells.select(
        "__g", "__v", "__c",
        F.sum("__c").over(wcum).alias("__cum"),
        F.sum("__c").over(wall).alias("__n"))
    med = (stepped.filter(2 * F.col("__cum") >= F.col("__n"))
           .groupBy("__g").agg(F.min("__v").alias("__med")))
    dev = (cells.join(med, "__g")
           .select("__g", F.abs(F.col("__v") - F.col("__med"))
                   .alias("__w"), "__c"))
    agg, f = _one_way_f(exact_moments(dev, "__w", weight="__c"))
    return agg.select("k", "n", f)


@query(
    "q301_mcnemar",
    oracle=f"""
    WITH s AS (
      SELECT CAST(l_returnflag = 'R' AS INT) AS a,
             CAST(l_discount >= 0.05 AS INT) AS b
      FROM lineitem
      WHERE l_returnflag IS NOT NULL AND l_discount IS NOT NULL
    ),
    agg AS (
      SELECT {_cells_sql("a", "b", "n{}{}")}
      FROM s
    ),
    ex AS (
      SELECT *, CAST(n01 AS DOUBLE) AS b, CAST(n10 AS DOUBLE) AS c FROM agg
    )
    SELECT n00, n01, n10, n11,
      CASE WHEN n01 + n10 > 0 THEN {pin_sql("(b - c) * (b - c) / (b + c)")}
      END AS chi2
    FROM ex
    """,
)
def q301_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired on the SAME lineitem: does 'returned' flip where 'deep
    discount' doesn't? McNemar's chi-square from the two discordant
    cells — one hash-checked (n00, n01, n10, n11, chi2) row."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isNotNull()
        & F.col("l_discount").isNotNull())
    return mcnemar_test(
        li, F.col("l_returnflag") == "R", F.col("l_discount") >= 0.05)


@query(
    "q302_mantel_haenszel",
    oracle=f"""
    WITH s AS (
      SELECT CAST(l_linenumber AS BIGINT) AS st,
             CAST(l_discount >= 0.05 AS INT) AS e,
             CAST(l_returnflag = 'R' AS INT) AS o
      FROM lineitem
      WHERE l_linenumber IS NOT NULL AND l_discount IS NOT NULL
        AND l_returnflag IS NOT NULL
    ),
    cells AS (
      SELECT st, {_cells_sql("e", "o", "n{}{}")}
      FROM s GROUP BY st
    ),
    t AS (
      SELECT n11 AS a, n10 AS b, n01 AS c, n00 AS d,
             CAST(n11 AS DOUBLE) AS ad, CAST(n10 AS DOUBLE) AS bd,
             CAST(n01 AS DOUBLE) AS cd, CAST(n00 AS DOUBLE) AS dd,
             CAST(n11 AS DOUBLE) + n10 + n01 + n00 AS n
      FROM cells
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS k_strata,
             CAST(sum(a + b + c + d) AS BIGINT) AS n,
             CAST(sum(a) AS BIGINT) AS sa,
             sum(CAST(floor(ad * dd / n * 1e12) AS BIGINT)) AS rn,
             sum(CAST(floor(bd * cd / n * 1e12) AS BIGINT)) AS rd,
             sum(CAST(floor((ad + bd) * (ad + cd) / n * 1e12)
                 AS BIGINT)) AS se,
             sum(CAST(floor((ad + bd) * (cd + dd) * ((ad + cd)
                 * (bd + dd)) / (n * n * (n - 1)) * 1e12)
                 AS BIGINT)) AS sv
      FROM t WHERE n > 1
    )
    SELECT k_strata, n,
      CASE WHEN rd > 0 THEN
        {pin_sql("CAST(rn AS DOUBLE) / rd")}
      END AS or_mh,
      CASE WHEN sv > 0 THEN
        {pin_sql("(CAST(sa AS DOUBLE) - se / 1e12)"
                 " * (CAST(sa AS DOUBLE) - se / 1e12)"
                 " / (sv / 1e12)")}
      END AS chi2_cmh
    FROM agg
    """,
)
def q302_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deep-discount vs returned, STRATIFIED by line number — the
    Mantel-Haenszel pooled odds ratio and CMH chi-square q135's
    pooled test cannot give (Simpson-proof) — one hash-checked
    (k_strata, n, or_mh, chi2_cmh) row."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_linenumber").isNotNull()
        & F.col("l_discount").isNotNull()
        & F.col("l_returnflag").isNotNull())
    return mantel_haenszel(
        li, F.col("l_linenumber"), F.col("l_discount") >= 0.05,
        F.col("l_returnflag") == "R")


def _partial_corr_oracle() -> str:
    def cov(i: str, j: str) -> str:
        return _cov_sql(f"s{i}{j}", f"s{i}", f"s{j}", "CAST(n AS DOUBLE)")

    sums = ",\n             ".join(
        [f"sum(CAST({k} AS HUGEINT)) AS s{k}" for k in "xyz"]
        + [f"sum(CAST({i} AS HUGEINT) * {j}) AS s{i}{j}"
           for i, j in ("xy", "xz", "yz", "xx", "yy", "zz")])
    rs = ",\n        ".join(
        f"{cov(i, j)}\n        / sqrt({cov(i, i)}\n"
        f"               * {cov(j, j)}) AS r{i}{j}"
        for i, j in ("xy", "xz", "yz"))
    vs = ",\n        ".join(f"{cov(k, k)} AS v{k}" for k in "xyz")
    return f"""
    WITH s AS (
      SELECT {cents_sql("l_extendedprice")} AS x,
             {cents_sql("l_extendedprice * (1 - l_discount)")} AS y,
             CAST(floor(l_quantity) AS BIGINT) AS z
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_discount IS NOT NULL
        AND l_quantity IS NOT NULL
    ),
    a AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             {sums}
      FROM s
    ),
    ex AS (
      SELECT n,
        {rs},
        {vs}
      FROM a
    ),
    fin AS (
      SELECT n, rxy, rxz, ryz,
             (n > 2 AND vx > 0 AND vy > 0 AND vz > 0) AS ok,
             (rxy - rxz * ryz)
             / sqrt((1 - rxz * rxz) * (1 - ryz * ryz)) AS part
      FROM ex
    )
    SELECT n,
      CASE WHEN ok THEN {pin_sql("rxy")} END AS r_xy,
      CASE WHEN ok THEN {pin_sql("rxz")} END AS r_xz,
      CASE WHEN ok THEN {pin_sql("ryz")} END AS r_yz,
      CASE WHEN ok AND rxz * rxz < 1 AND ryz * ryz < 1 THEN
        {pin_sql("part")}
      END AS r_partial
    FROM fin
    """


@query("q303_partial_correlation", oracle=_partial_corr_oracle())
def q303_partial_correlation(spark: SparkSession, sf_dir: str
                             ) -> DataFrame:
    """Is the price~revenue correlation just both tracking quantity?
    First-order partial correlation of price and discounted revenue
    controlling for quantity — one hash-checked
    (n, r_xy, r_xz, r_yz, r_partial) row."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice").isNotNull()
        & F.col("l_discount").isNotNull()
        & F.col("l_quantity").isNotNull())
    return partial_correlation(
        li, cents("l_extendedprice"),
        cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
        F.floor(F.col("l_quantity")))


@query(
    "q304_grubbs",
    oracle=f"""
    WITH s AS (
      SELECT {cents_sql("o_totalprice")} AS v
      FROM orders WHERE o_totalprice IS NOT NULL
    ),
    a AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(CAST(v AS HUGEINT)) AS sv,
             sum(CAST(v AS HUGEINT) * v) AS qv
      FROM s
    ),
    m AS (
      SELECT n, sv, qv,
             max(abs(CAST(v AS HUGEINT) * n - sv)) AS maxdev
      FROM s, a GROUP BY n, sv, qv
    ),
    ex AS (
      SELECT n, maxdev,
        {_css_sql("qv", "sv", "CAST(n AS DOUBLE)")}
          / (CAST(n AS DOUBLE) - 1) AS var
      FROM m
    )
    SELECT n,
      CASE WHEN n >= 3 AND var > 0 THEN
        {pin_sql("CAST(maxdev AS DOUBLE) / CAST(n AS DOUBLE)")}
      END AS max_abs_dev,
      CASE WHEN n >= 3 AND var > 0 THEN
        {pin_sql("CAST(maxdev AS DOUBLE) / CAST(n AS DOUBLE) / sqrt(var)")}
      END AS g
    FROM ex
    """,
)
def q304_grubbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is even the single worst order total surprising? Grubbs' G =
    max|v - mean|/s with the argmax on exact integers |v*n - S| — one
    hash-checked (n, max_abs_dev, g) row."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull())
    return grubbs_test(o, cents("o_totalprice"))


_CHOW_SEGMENTS = {"1": "g2 = 0", "2": "g2 = 1", "p": "TRUE"}


def _chow_oracle() -> str:
    def cov(i: str, j: str, t: str) -> str:
        return _cov_sql(f"s{i}{j}{t}", f"s{i}{t}", f"s{j}{t}",
                        f"CAST(n{t} AS DOUBLE)")

    sums = ",\n        ".join(
        f"{_count_sql(m)} AS n{t},\n"
        + ",\n".join(
            f"        {_masked_sum_sql(m, *f)} AS s{''.join(f)}{t}"
            for f in (("x",), ("y",), ("x", "x"), ("x", "y"), ("y", "y")))
        for t, m in _CHOW_SEGMENTS.items())
    sses = ",\n        ".join(
        f"{cov('x', 'x', t)} AS cxx{t},\n"
        f"        {cov('y', 'y', t)}\n"
        f"        - {cov('x', 'y', t)}\n"
        f"          * {cov('x', 'y', t)}\n"
        f"          / {cov('x', 'x', t)} AS sse{t}"
        for t in _CHOW_SEGMENTS)
    return f"""
    WITH s AS (
      SELECT CAST(floor(l_quantity) AS BIGINT) AS x,
             {cents_sql("l_extendedprice")} AS y,
             CAST(l_shipdate >= DATE '1998-01-01' AS INT) AS g2
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        AND l_shipdate IS NOT NULL
    ),
    a AS (
      SELECT
        {sums}
      FROM s
    ),
    ex AS (
      SELECT n1, n2,
        {sses}
      FROM a
    ),
    fin AS (
      SELECT n1, n2, sse1, sse2, ssep,
        (n1 > 2 AND n2 > 2 AND cxx1 > 0 AND cxx2 > 0 AND cxxp > 0)
          AS ok
      FROM ex
    )
    SELECT n1, n2,
      CASE WHEN ok THEN {pin_sql("sqrt(ssep / CAST(n1 + n2 AS DOUBLE))")}
      END AS rmse_pooled,
      CASE WHEN ok THEN
        {pin_sql("sqrt((sse1 + sse2) / CAST(n1 + n2 AS DOUBLE))")}
      END AS rmse_split,
      CASE WHEN ok AND sse1 + sse2 > 0 THEN
        {pin_sql("((ssep - sse1 - sse2) / 2)"
                 " / ((sse1 + sse2) / (CAST(n1 + n2 AS DOUBLE) - 4))")}
      END AS f
    FROM fin
    """


@query("q305_chow", oracle=_chow_oracle())
def q305_chow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Did the price~quantity RELATIONSHIP change at the 1998
    boundary? The Chow structural-break F over pooled vs per-segment
    OLS — one hash-checked (n1, n2, rmse_pooled, rmse_split, f) row."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").isNotNull()
        & F.col("l_extendedprice").isNotNull()
        & F.col("l_shipdate").isNotNull())
    return chow_test(
        li, F.floor(F.col("l_quantity")), cents("l_extendedprice"),
        F.col("l_shipdate") >= F.lit("1998-01-01").cast("date"))


@query(
    "q306_levene_bf",
    oracle=f"""
    WITH s AS ({_FLAG_CENTS_SQL}),
    cells AS (
      SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM s GROUP BY g, v
    ),
    stepped AS (
      SELECT g, v, c,
             sum(c) OVER (PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             sum(c) OVER (PARTITION BY g) AS n
      FROM cells
    ),
    med AS (
      SELECT g, min(v) AS med FROM stepped
      WHERE 2 * cum >= n GROUP BY g
    ),
    dev AS (
      SELECT cells.g, abs(v - med) AS w, c
      FROM cells JOIN med ON cells.g = med.g
    ),
    per AS ({moments_sql("dev", "w", weight="c")}),
    {_one_way_f_sql("per")}
    SELECT k, n, f FROM fx
    """,
)
def q306_levene_bf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is price SPREAD homogeneous across return flags? The
    Brown-Forsythe (median-centered Levene) F — the variance-
    homogeneity assumption check behind q277's ANOVA — one
    hash-checked (k, n, f) row."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isNotNull()
        & F.col("l_extendedprice").isNotNull())
    return levene_bf(li, cents("l_extendedprice"), "l_returnflag")


def _cell_variances(df: DataFrame, value: Column,
                    group_col: str) -> DataFrame:
    """(__ng, __mean, __s2): each group's size, mean and sample
    variance s² = (Σv² − (Σv)²/n)/(n − 1) from its exact moments. Groups
    with n < 2 or s² = 0 cannot carry a weight or enter a log and are
    DROPPED (documented by welch_anova and bartlett_test)."""
    ngd = F.col("__ng").cast("double")
    return (exact_moments(group_values(df, group_col, value))
            .filter(F.col("__ng") >= 2)
            .select("__ng", (F.col("__sg").cast("double") / ngd)
                    .alias("__mean"),
                    (_css("__ssg", "__sg", "__ng") / (ngd - 1))
                    .alias("__s2"))
            .filter(F.col("__s2") > 0))


# ``_cell_variances`` in DuckDB SQL: the CTEs s, perg and cells(ng,
# mean, s2) over the return-flag revenue source.
_CELL_VARIANCES_SQL = f"""s AS ({_FLAG_CENTS_SQL}),
    perg AS ({moments_sql("s")}),
    cells AS (
      SELECT ng, CAST(sg AS DOUBLE) / ng AS mean,
             {_css_sql("ssg", "sg", "ng")} / (ng - 1) AS s2
      FROM perg
      WHERE ng >= 2 AND {_css_sql("ssg", "sg", "ng")} / (ng - 1) > 0
    )"""


# ---------------------------------------------------------------------------
# Welch's heteroscedastic one-way ANOVA (Welch 1951): the mean test
# you run when q306's Levene/Brown-Forsythe REJECTS variance
# homogeneity — q277's classic F pools variances and is anti-
# conservative under unequal spreads; Welch weights each group by
# n_i/s_i^2 and adjusts the denominator df.  Completes the trio:
# q277 (equal-variance F) / q306 (is that assumption true?) / q318
# (the F that doesn't need it).
#
# Scale shape: _cell_variances' one group-by, then a k-row frame (k =
# #groups) — a 1-row broadcast of the weight totals joins back for the
# second moment pass; k reports the cells used.
def welch_anova(df: DataFrame, value: Column,
                group_col: str) -> DataFrame:
    """(k, n, f_star, df2): Welch's F* across groups with
    Satterthwaite-style denominator df.  k < 2 surviving cells
    reports f_star/df2 NULL-by-contract (one row either way)."""
    cells = _cell_variances(df, value, group_col).select(
        "__ng", "__mean",
        (F.col("__ng").cast("double") / F.col("__s2")).alias("__w"))
    tot = cells.agg(F.sum("__w").alias("__sw"),
                    F.sum(F.col("__w") * F.col("__mean"))
                    .alias("__swm"))
    j = cells.join(F.broadcast(tot))
    mw = F.col("__swm") / F.col("__sw")
    agg = j.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("__ng").cast("long").alias("n"),
        F.max("__sw").alias("__sw"),
        F.sum(F.col("__w") * (F.col("__mean") - mw)
              * (F.col("__mean") - mw)).alias("__a"),
        F.sum((F.lit(1.0) - F.col("__w") / F.col("__sw"))
              * (F.lit(1.0) - F.col("__w") / F.col("__sw"))
              / (F.col("__ng") - 1)).alias("__lam"))
    kd = F.col("k").cast("double")
    a = F.col("__a") / (kd - 1)
    b = F.lit(2.0) * (kd - 2) / (kd * kd - 1) * F.col("__lam")
    ok = (F.col("k") >= 2) & (F.col("__lam") > 0)
    return agg.select(
        "k", "n",
        F.when(ok, pin(a / (F.lit(1.0) + b))).alias("f_star"),
        F.when(ok, pin((kd * kd - 1) / (F.lit(3.0) * F.col("__lam"))))
        .alias("df2"))


@query(
    "q318_welch_anova",
    oracle=f"""
    WITH {_CELL_VARIANCES_SQL},
    wc AS (SELECT ng, mean, CAST(ng AS DOUBLE) / s2 AS w FROM cells),
    tot AS (SELECT sum(w) AS sw, sum(w * mean) AS swm FROM wc),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(ng) AS BIGINT) AS n,
             max(sw) AS sw,
             sum(w * (mean - swm / sw) * (mean - swm / sw)) AS a,
             sum((1.0 - w / sw) * (1.0 - w / sw) / (ng - 1)) AS lam
      FROM wc, tot
    )
    SELECT k, n,
           CASE WHEN k >= 2 AND lam > 0 THEN
             {pin_sql("a / (k - 1.0) / (1.0 + 2.0 * (k - 2.0)"
                      " / (CAST(k AS DOUBLE) * k - 1) * lam)")}
           END AS f_star,
           CASE WHEN k >= 2 AND lam > 0 THEN
             {pin_sql("(CAST(k AS DOUBLE) * k - 1) / (3.0 * lam)")}
           END AS df2
    FROM agg
    """,
)
def q318_welch_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's heteroscedasticity-robust ANOVA of revenue cents across
    return-flag cohorts — the mean test that survives q306's Levene
    rejection; one hash-checked (k, n, f_star, df2) row."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isNotNull()
        & F.col("l_extendedprice").isNotNull())
    return welch_anova(li, cents("l_extendedprice"), "l_returnflag")


# ---------------------------------------------------------------------------
# Bartlett's test for variance homogeneity: the LIKELIHOOD-RATIO
# sibling of q306's Levene/Brown-Forsythe — more powerful when the
# data is near-normal, famously sensitive when it is not (which is
# exactly why both belong in the tier: Levene robust, Bartlett
# sharp; disagreement between them is itself a normality signal).
#
#     M = (N-k) ln(s_p^2) - SUM (n_i-1) ln(s_i^2)
#     C = 1 + (SUM 1/(n_i-1) - 1/(N-k)) / (3(k-1))
#     chi2 = M / C   on k-1 df
#
# Same _cell_variances shape as q318; ln() over identical pinned
# double inputs is the q109 PMI precedent.
def bartlett_test(df: DataFrame, value: Column,
                  group_col: str) -> DataFrame:
    """(k, n, chi2): Bartlett's statistic across groups; k < 2
    surviving cells or a zero pooled variance reports chi2
    NULL-by-contract (one row either way)."""
    cells = _cell_variances(df, value, group_col)
    agg = cells.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("__ng").cast("long").alias("n"),
        F.sum((F.col("__ng") - 1) * F.col("__s2")).alias("__pool"),
        F.sum((F.col("__ng") - 1) * F.log("__s2")).alias("__slog"),
        F.sum(F.lit(1.0) / (F.col("__ng") - 1)).alias("__sinv"))
    nd, kd = F.col("n").cast("double"), F.col("k").cast("double")
    sp2 = F.col("__pool") / (nd - kd)
    m_stat = (nd - kd) * F.log(sp2) - F.col("__slog")
    c_corr = (F.lit(1.0)
              + (F.col("__sinv") - F.lit(1.0) / (nd - kd))
              / (F.lit(3.0) * (kd - 1)))
    ok = (F.col("k") >= 2) & (F.col("n") > F.col("k")) \
        & (F.col("__pool") > 0)
    return agg.select(
        "k", "n", F.when(ok, pin(m_stat / c_corr)).alias("chi2"))


@query(
    "q319_bartlett",
    oracle=f"""
    WITH {_CELL_VARIANCES_SQL},
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(ng) AS BIGINT) AS n,
             sum((ng - 1) * s2) AS pool,
             sum((ng - 1) * ln(s2)) AS slog,
             sum(1.0 / (ng - 1)) AS sinv
      FROM cells
    )
    SELECT k, n,
           CASE WHEN k >= 2 AND n > k AND pool > 0 THEN
             {pin_sql("((CAST(n AS DOUBLE) - k)"
                      " * ln(pool / (CAST(n AS DOUBLE) - k)) - slog)"
                      " / (1.0 + (sinv - 1.0 / (CAST(n AS DOUBLE) - k))"
                      " / (3.0 * (CAST(k AS DOUBLE) - 1)))")}
           END AS chi2
    FROM agg
    """,
)
def q319_bartlett(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's variance-homogeneity chi-square of revenue cents
    across return-flag cohorts — the likelihood-ratio sibling of
    q306's Levene; one hash-checked (k, n, chi2) row."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isNotNull()
        & F.col("l_extendedprice").isNotNull())
    return bartlett_test(li, cents("l_extendedprice"), "l_returnflag")


def _block_cells(df: DataFrame, value: Column, block_col: str,
                 treatment_col: str, *aggs: Column) -> DataFrame:
    """The (__b, __t) cells of a blocked design: block, treatment and
    the BIGINT value with NULLs dropped, aggregated by `aggs`.

    r15 optimization: the cells (blocks × treatments rows — small by
    construction) feed several downstream subtrees; unpersisted, each
    re-ran the source scan + cell groupBy — 9 source scans in the
    plan. Persist SIZE-GATED (keep(source=...)): the unconditional
    persist measured ~2x SLOWER at sf0.1 (paired A/B, q320 0.98 vs
    1.92 s, q325 0.79 vs 1.69 s — the cache barrier beats re-reading
    a 3 MB source), while at production source sizes the saved scans
    dominate."""
    src = df.select(F.col(block_col).alias("__b"),
                    F.col(treatment_col).alias("__t"),
                    value.cast("long").alias("__v")).filter(
        F.col("__b").isNotNull() & F.col("__t").isNotNull()
        & F.col("__v").isNotNull())
    return keep(src.groupBy("__b", "__t").agg(*aggs), source=src)


def _complete_blocks(cells: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(kfr, complete): the treatment count k as a one-row frame (__k)
    and the blocks (__b) that hold all k treatments."""
    kfr = cells.agg(F.count_distinct("__t").cast("long").alias("__k"))
    complete = (cells.groupBy("__b")
                .agg(F.count(F.lit(1)).cast("long").alias("__nb"))
                .join(F.broadcast(kfr))
                .filter(F.col("__nb") == F.col("__k"))
                .select("__b"))
    return kfr, complete


# The oracles' blocked design of q320/q325 — users as blocks, event
# types as treatments, value in integer cents — and its complete blocks.
_BLOCKS_SRC_SQL = f"""src AS (
      SELECT user_id AS b, event_type AS t, {cents_sql("value")} AS v
      FROM events
      WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        AND value IS NOT NULL
    )"""
_COMPLETE_BLOCKS_SQL = """kfr AS (
      SELECT CAST(count(DISTINCT t) AS BIGINT) AS k FROM cells
    ),
    complete AS (
      SELECT b FROM cells, kfr GROUP BY b, k
      HAVING CAST(count(*) AS BIGINT) = k
    )"""


# ---------------------------------------------------------------------------
# Friedman test (Friedman 1937): the nonparametric repeated-measures
# ANOVA — b blocks each score the same k treatments; rank WITHIN each
# block and ask whether some treatment consistently ranks high.  The
# blocked sibling of q276's Kruskal-Wallis (which pools all rows into
# one ranking and so confounds block effects with treatment effects).
#
# Exactness: the per-cell score is floor(mean * 1e4) — an exact
# integer in both engines; average ranks are carried DOUBLED
# (2*rank + ties - 1, an exact integer), so every rank sum, squared
# rank sum, and the tie-correction SUM(t^3 - t) is exact BIGINT
# arithmetic; chi2 = 3*SUM(R2_j^2)/(b*k*(k+1)) - 3*b*(k+1) (the /4
# from the doubling cancels into 12/4) pins once.  Only COMPLETE
# blocks (all k treatments present) enter — the textbook contract.
# Scale shape: cell group-by, then every frame is (blocks x k) rows;
# the treatment-count frame is a 1-row broadcast.
def friedman_test(df: DataFrame, value: Column, block_col: str,
                  treatment_col: str) -> DataFrame:
    """(k, b, chi2, chi2_adj): Friedman's statistic over complete
    blocks with average-rank ties and the tie-corrected variant
    (chi2_adj = chi2 / (1 - SUM(t^3-t)/(b*k*(k^2-1)))).  b < 2,
    k < 2, or an all-tied layout (correction <= 0) reports
    NULL-by-contract (one row either way)."""
    cells = _block_cells(
        df, value, block_col, treatment_col,
        F.floor(F.sum("__v").cast("double") / F.count(F.lit(1))
                * F.lit(1e4)).cast("long").alias("__score"))
    kfr, complete = _complete_blocks(cells)
    kept = cells.join(complete, "__b")
    wr = Window.partitionBy("__b").orderBy("__score")
    wt = Window.partitionBy("__b", "__score")
    ranked = kept.select(
        "__b", "__t",
        (F.lit(2) * F.rank().over(wr)
         + F.count(F.lit(1)).over(wt) - 1).alias("__r2"))
    pert = ranked.groupBy("__t").agg(
        F.sum("__r2").cast("long").alias("__r2j"))
    ties = (kept.groupBy("__b", "__score")
            .agg(F.count(F.lit(1)).cast("long").alias("__c"))
            .agg(F.sum(F.col("__c") * F.col("__c") * F.col("__c")
                       - F.col("__c")).cast("long").alias("__tcorr")))
    nblocks = complete.agg(F.count(F.lit(1)).cast("long").alias("b"))
    agg = (pert.agg(dec(F.sum(F.col("__r2j") * F.col("__r2j"))).alias("__sr2"))
           .join(F.broadcast(kfr))
           .join(F.broadcast(nblocks))
           .join(F.broadcast(ties)))
    kd = F.col("__k").cast("double")
    bd = F.col("b").cast("double")
    chi2 = (F.lit(3.0) * F.col("__sr2").cast("double")
            / (bd * kd * (kd + 1)) - F.lit(3.0) * bd * (kd + 1))
    corr = (F.lit(1.0) - F.col("__tcorr").cast("double")
            / (bd * kd * (kd * kd - 1)))
    ok = (F.col("b") >= 2) & (F.col("__k") >= 2)
    return agg.select(
        F.col("__k").alias("k"), "b",
        F.when(ok, pin(chi2)).alias("chi2"),
        F.when(ok & (corr > 0), pin(chi2 / corr)).alias("chi2_adj"))


@query(
    "q320_friedman",
    oracle=f"""
    WITH {_BLOCKS_SRC_SQL},
    cells AS (
      SELECT b, t,
             CAST(floor(CAST(sum(v) AS DOUBLE) / count(*) * 1e4)
                  AS BIGINT) AS score
      FROM src GROUP BY b, t
    ),
    {_COMPLETE_BLOCKS_SQL},
    kept AS (
      SELECT cells.* FROM cells JOIN complete USING (b)
    ),
    ranked AS (
      SELECT b, t,
             2 * rank() OVER (PARTITION BY b ORDER BY score)
               + count(*) OVER (PARTITION BY b, score) - 1 AS r2
      FROM kept
    ),
    pert AS (
      SELECT t, CAST(sum(r2) AS BIGINT) AS r2j
      FROM ranked GROUP BY t
    ),
    ties AS (
      SELECT CAST(sum(c * c * c - c) AS BIGINT) AS tcorr
      FROM (SELECT b, score, CAST(count(*) AS BIGINT) AS c
            FROM kept GROUP BY b, score)
    ),
    nblocks AS (
      SELECT CAST(count(*) AS BIGINT) AS nb FROM complete
    ),
    agg AS (
      -- scalar subquery (not a cross join over pert): pert is EMPTY
      -- when no complete blocks exist, and the engine's global agg
      -- still emits its one-row-of-NULLs contract there; kfr /
      -- nblocks / ties are global aggs (always exactly one row), so
      -- this CTE is one row unconditionally, matching the engine.
      SELECT (SELECT sum(CAST(r2j AS HUGEINT) * r2j) FROM pert) AS sr2,
             k, nb, tcorr
      FROM kfr, nblocks, ties
    ),
    ex AS (
      SELECT k, nb,
             3.0 * CAST(sr2 AS DOUBLE) / (CAST(nb AS DOUBLE) * k * (k + 1))
             - 3.0 * CAST(nb AS DOUBLE) * (k + 1) AS chi2,
             1.0 - CAST(tcorr AS DOUBLE)
             / (CAST(nb AS DOUBLE) * k * (CAST(k AS DOUBLE) * k - 1))
               AS corr
      FROM agg
    )
    SELECT k, nb AS b,
           CASE WHEN nb >= 2 AND k >= 2 THEN {pin_sql("chi2")} END AS chi2,
           CASE WHEN nb >= 2 AND k >= 2 AND corr > 0 THEN
             {pin_sql("chi2 / corr")} END AS chi2_adj
    FROM ex
    """,
)
def q320_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman's blocked rank test: does some event type consistently
    carry higher mean value WITHIN users?  Blocks = users (complete
    blocks only), treatments = event types; one hash-checked
    (k, b, chi2, chi2_adj) row."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
        & F.col("value").isNotNull())
    return friedman_test(ev, cents("value"), "user_id", "event_type")


# ---------------------------------------------------------------------------
# Cochran's Q test (Cochran 1950): the BINARY Friedman — b blocks
# give a 0/1 verdict on each of k treatments; Q asks whether success
# rates differ across treatments net of block effects.  Here the
# verdict is "does this event type run HOT for this user" (cell mean
# above the user's own overall mean) — a question q320's rank test
# blurs and a pooled 2-proportion test (q262) confounds with user
# effects.
#
#     Q = (k-1) * (k*SUM C_j^2 - N^2) / (k*N - SUM R_i^2)
#
# Exactness: the hot/cold verdict is an INTEGER CROSS-MULTIPLICATION
# (sum_cell * n_user > sum_user * n_cell — no division, no pinning,
# no float anywhere); C_j, R_i, N and therefore Q's numerator and
# denominator are exact integers; ONE double division at the end.
# Complete blocks only (the q320 contract).  Scale shape: two cell
# group-bys, then (blocks x k) rows.
def cochran_q(df: DataFrame, value: Column, block_col: str,
              treatment_col: str) -> DataFrame:
    """(k, b, n_success, q_stat): Cochran's Q over complete blocks.
    b < 2, k < 2, or a degenerate layout (every block all-hot or
    all-cold: denominator 0) reports q_stat NULL-by-contract."""
    # The block totals come FROM cells (sum of per-cell exact
    # sums/counts — identical decimal/long values), not a second pass
    # over the source.
    cells = _block_cells(df, value, block_col, treatment_col,
                         dec(F.sum("__v")).alias("__cs"),
                         F.count(F.lit(1)).cast("long").alias("__cn"))
    blocks = cells.groupBy("__b").agg(
        dec(F.sum("__cs")).alias("__bs"),
        F.sum("__cn").cast("long").alias("__bn"))
    kfr, complete = _complete_blocks(cells)
    marked = (cells.join(complete, "__b").join(blocks, "__b")
              .select("__b", "__t",
                      # hot <=> mean_cell > mean_block, decided by
                      # exact integer cross-multiplication
                      (F.col("__cs") * F.col("__bn")
                       > F.col("__bs") * F.col("__cn"))
                      .cast("long").alias("__x")))
    pert = marked.groupBy("__t").agg(
        F.sum("__x").cast("long").alias("__cj"))
    perb = marked.groupBy("__b").agg(
        F.sum("__x").cast("long").alias("__ri"))
    tot_t = pert.agg(
        F.sum("__cj").cast("long").alias("n_success"),
        F.sum(F.col("__cj") * F.col("__cj")).cast("long")
        .alias("__sc2"))
    tot_b = perb.agg(
        F.count(F.lit(1)).cast("long").alias("b"),
        F.sum(F.col("__ri") * F.col("__ri")).cast("long")
        .alias("__sr2"))
    agg = tot_t.join(F.broadcast(tot_b)).join(F.broadcast(kfr))
    k, n = F.col("__k"), F.col("n_success")
    den = k * n - F.col("__sr2")
    num = (k - 1) * (k * F.col("__sc2") - n * n)
    ok = (F.col("b") >= 2) & (k >= 2) & (den > 0)
    return agg.select(
        k.alias("k"), "b", "n_success",
        F.when(ok, pin(num.cast("double") / den)).alias("q_stat"))


@query(
    "q325_cochran_q",
    oracle=f"""
    WITH {_BLOCKS_SRC_SQL},
    cells AS (
      SELECT b, t, sum(CAST(v AS HUGEINT)) AS cs,
             CAST(count(*) AS BIGINT) AS cn
      FROM src GROUP BY b, t
    ),
    blocks AS (
      SELECT b, sum(CAST(v AS HUGEINT)) AS bs,
             CAST(count(*) AS BIGINT) AS bn
      FROM src GROUP BY b
    ),
    {_COMPLETE_BLOCKS_SQL},
    marked AS (
      SELECT cells.b, cells.t,
             CAST(cells.cs * blocks.bn > blocks.bs * cells.cn
                  AS BIGINT) AS x
      FROM cells JOIN complete USING (b) JOIN blocks USING (b)
    ),
    pert AS (
      SELECT t, CAST(sum(x) AS BIGINT) AS cj FROM marked GROUP BY t
    ),
    perb AS (
      SELECT b, CAST(sum(x) AS BIGINT) AS ri FROM marked GROUP BY b
    ),
    agg AS (
      SELECT (SELECT CAST(sum(cj) AS BIGINT) FROM pert) AS n_success,
             (SELECT CAST(sum(cj * cj) AS BIGINT) FROM pert) AS sc2,
             (SELECT CAST(count(*) AS BIGINT) FROM perb) AS b,
             (SELECT CAST(sum(ri * ri) AS BIGINT) FROM perb) AS sr2,
             (SELECT k FROM kfr) AS k
    )
    SELECT k, b, n_success,
           CASE WHEN b >= 2 AND k >= 2
                AND k * n_success - sr2 > 0 THEN
             {pin_sql("CAST((k - 1) * (k * sc2 - n_success * n_success)"
                      " AS DOUBLE) / (k * n_success - sr2)")} END AS q_stat
    FROM agg
    """,
)
def q325_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q: do event types differ in how often they run hot
    (above the user's own mean) across users?  Complete blocks only,
    verdicts by exact integer cross-multiplication; one hash-checked
    (k, b, n_success, q_stat) row."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
        & F.col("value").isNotNull())
    return cochran_q(ev, cents("value"), "user_id", "event_type")


# ---------------------------------------------------------------------------
# Wilcoxon signed-rank test (Wilcoxon 1945): the PAIRED complement of
# q275's Mann–Whitney — two measurements on the SAME unit (here the
# sensor value and its props.k channel per event row), ranks of |d|
# with signs.  Mann–Whitney compares two independent samples; using it
# on paired data throws away the pairing and most of the power.
#
#     W+ = sum of avg-ranks of |d_i| where d_i > 0   (zeros dropped)
#     z  = (W+ - n(n+1)/4) / sqrt(n(n+1)(2n+1)/24 - SUM(t^3-t)/48)
#
# Exactness (the q320 doubled-rank discipline): avg ranks are
# half-integers, so everything is carried DOUBLED — r2 = 2*rank(|d|)
# + tiecount - 1 is an exact integer, W2+ = SUM r2 over positive d,
# mu2 = n(n+1)/2, and the doubled variance numerator
# 2n(n+1)(2n+1) - SUM(t^3-t) is an exact integer (the tie sum folds
# into the SAME window pass via SUM(t^3-t) = SUM_rows(c^2-1)); one
# double sqrt/division at the end, pinned 1e-6.  ONE window pass +
# one aggregate; no UDF, no driver math.  Tie terms accumulate in
# decimal(38,0) (the round-13 headroom rule — c^2-1 reaches ~1e12 per
# row on degenerate all-tied series).
# ---------------------------------------------------------------------------


def wilcoxon_signed_rank(df: DataFrame, group_col: str, x_value: Column,
                         y_value: Column) -> DataFrame:
    """(group, n, w_plus, z): Wilcoxon signed-rank over the pairwise
    differences x - y per group.  Zero differences drop (the standard
    reduced-sample convention); n < 10 (normal-approx floor) or zero
    variance (all |d| tied AND the correction cancels) reports z
    NULL-by-contract; groups with no nonzero pair emit no row."""
    src = df.select(
        F.col(group_col).alias("__g"),
        (x_value.cast("long") - y_value.cast("long")).alias("__d")
    ).filter(F.col("__d").isNotNull() & (F.col("__d") != 0))
    wr = Window.partitionBy("__g").orderBy(F.abs(F.col("__d")))
    wt = Window.partitionBy("__g", F.abs(F.col("__d")))
    ranked = src.select(
        "__g", "__d",
        (F.lit(2) * F.rank().over(wr)
         + F.count(F.lit(1)).over(wt) - 1).alias("__r2"),
        F.count(F.lit(1)).over(wt).alias("__c"))
    per = ranked.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.coalesce(
            F.sum(F.when(F.col("__d") > 0, F.col("__r2"))),
            F.lit(0)).cast("long").alias("__w2p"),
        F.sum(dec(F.col("__c") * F.col("__c") - F.lit(1))).alias("__tcorr"))
    nd = F.col("n").cast("double")
    mu2 = nd * (nd + 1) / 2.0
    var2 = (F.lit(2.0) * nd * (nd + 1) * (2 * nd + 1)
            - F.col("__tcorr").cast("double")) / F.lit(12.0)
    ok = (F.col("n") >= 10) & (var2 > 0)
    return per.select(
        F.col("__g").alias(group_col), "n",
        (F.col("__w2p").cast("double") / 2.0).alias("w_plus"),
        F.when(ok, pin((F.col("__w2p").cast("double") - mu2)
                       / F.sqrt(var2))).alias("z"))


_WILCOXON_ORACLE = f"""
    WITH src AS (
      SELECT user_id AS g,
             {cents_sql("value")}
               - CAST(json_extract_string(props, '$.k') AS BIGINT) AS d
      FROM events
      WHERE value IS NOT NULL
        AND json_extract_string(props, '$.k') IS NOT NULL
    ),
    nz AS (SELECT g, d FROM src WHERE d != 0),
    ranked AS (
      SELECT g, d,
             2 * rank() OVER (PARTITION BY g ORDER BY abs(d))
               + count(*) OVER (PARTITION BY g, abs(d)) - 1 AS r2,
             count(*) OVER (PARTITION BY g, abs(d)) AS c
      FROM nz
    ),
    per AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n,
             CAST(coalesce(sum(CASE WHEN d > 0 THEN r2 END), 0)
                  AS BIGINT) AS w2p,
             sum(CAST(c * c - 1 AS HUGEINT)) AS tcorr
      FROM ranked GROUP BY g
    )
    SELECT g AS user_id, n,
           CAST(w2p AS DOUBLE) / 2.0 AS w_plus,
           CASE WHEN n >= 10 AND var2 > 0 THEN
             {pin_sql("(CAST(w2p AS DOUBLE) - n * (n + 1.0) / 2.0)"
                      " / sqrt(var2)")} END AS z
    FROM (SELECT *, (2.0 * n * (n + 1) * (2 * n + 1)
                     - CAST(tcorr AS DOUBLE)) / 12.0 AS var2 FROM per)
    """


@query("q331_wilcoxon_signed_rank", oracle=_WILCOXON_ORACLE)
def q331_wilcoxon_signed_rank(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Per-user Wilcoxon signed-rank of value (cents) against the
    paired props.k channel — the PAIRED location test q275's
    Mann–Whitney cannot be (it would discard the per-event pairing);
    every (user, n, w_plus, z) row hash-checked over exact
    doubled-rank integers."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & F.get_json_object("props", "$.k").isNotNull())
    return wilcoxon_signed_rank(
        ev, "user_id", cents("value"),
        F.get_json_object("props", "$.k").cast("long"))
