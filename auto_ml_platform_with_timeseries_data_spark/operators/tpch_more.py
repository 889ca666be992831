"""Wider relational coverage: the TPC-H query shapes the first
relational batch (relational.py) didn't exercise — scan-level range
predicates (Q6), aggregate-join-back with HAVING (Q18), conditional
aggregation (Q14), OR-of-ANDs multi-predicate joins (Q19), distinct
aggregation over a join (Q16), scalar-subquery + NOT EXISTS (Q22),
grouping sets, and a returned-items top-k (Q10).

The reference has no joins at all (SURVEY.md §2.3) — this module is
part of the beyond-reference extension surface (SURVEY.md §7/M6),
where Catalyst gives the physical strategies (broadcast vs shuffle
join, partial aggregation, AQE) for free once the plan is declared.

Scale notes (100 TB):
- Dimension tables (nation/region/customer/part/supplier) stay
  broadcast-able far beyond these SFs; lineitem/orders joins shuffle
  on the orderkey, which is uniform — no salting needed.
- Q6/Q14-style scans push every predicate into the parquet reader
  (`PushedFilters` on l_shipdate/l_discount/l_quantity) and prune to
  the 3-4 referenced columns; at 100 TB that is the difference
  between scanning TBs and scanning everything.
- The Q18 HAVING subquery aggregates lineitem BEFORE joining back to
  orders — partial (map-side) aggregation shrinks the shuffle to one
  row per orderkey, and the filtered aggregate (few surviving keys)
  broadcast-joins back.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from auto_ml_platform_with_timeseries_data_spark.registry import query
from auto_ml_platform_with_timeseries_data_spark.tables import keep, load_table

# Exact-decimal forms of the price expressions (see q26_pricing_summary:
# accumulation must be order-independent for distributed determinism AND
# oracle parity). Lazy (functions, not module constants): building Column
# objects needs an active SparkContext, and this module must be importable
# before the driver has created one.


def _price_d():
    return F.col("l_extendedprice").cast("decimal(12,4)")


def _disc_d():
    return F.col("l_discount").cast("decimal(8,4)")


def _disc_price_d():
    return _price_d() * (F.lit(1) - F.col("l_discount")).cast("decimal(8,4)")


# ---------------------------------------------------------------------------
# Q6 — forecast revenue change: pure scan + range predicates + one agg
# ---------------------------------------------------------------------------


@query(
    "q61_forecast_revenue",
    oracle="""
    SELECT CAST(ROUND(sum(CAST(l_extendedprice AS DECIMAL(12,4)) *
                          CAST(l_discount AS DECIMAL(8,4))), 2) AS DOUBLE)
             AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
)
def q61_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: every predicate is parquet-pushable (shipdate,
    discount, quantity are raw columns), projection prunes to 4 columns,
    and the single global agg is a partial-then-final two-stage with a
    1-row shuffle. The 100 TB cost is exactly the pruned scan."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(_price_d() * _disc_d()), 2).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Q10 — returned items: 4-table join + top-k by aggregated revenue
# ---------------------------------------------------------------------------


@query(
    "q62_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(ROUND(sum(CAST(l_extendedprice AS DECIMAL(12,4)) *
                          CAST(1 - l_discount AS DECIMAL(8,4))), 2) AS DOUBLE)
             AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q62_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape. Join order matters at scale: filter orders by
    date FIRST (year predicate kills ~85%), join filtered orders to
    lineitem on orderkey (both shuffle on the same key), then hang the
    small dims (customer broadcast at these SFs, nation always) off the
    fact result. Deterministic top-k: revenue DESC, custkey tie-break."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(_disc_price_d()), 2).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q14 — promo revenue: conditional aggregation over a fact⋈dim join
# ---------------------------------------------------------------------------


@query(
    "q63_promo_revenue",
    oracle="""
    SELECT ROUND(100.0 * CAST(sum(CASE WHEN p.p_type = 'PROMO'
                    THEN CAST(l_extendedprice AS DECIMAL(12,4)) *
                         CAST(1 - l_discount AS DECIMAL(8,4))
                    ELSE CAST(0 AS DECIMAL(20,8)) END) AS DOUBLE)
                 / CAST(sum(CAST(l_extendedprice AS DECIMAL(12,4)) *
                            CAST(1 - l_discount AS DECIMAL(8,4))) AS DOUBLE),
                 6) AS promo_revenue_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-06-01 00:00:00'
    """,
)
def q63_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: CASE-WHEN conditional aggregate computing a
    ratio in one pass (no second scan for the denominator). part is a
    dim — broadcast, so the fact table never shuffles. Both sums stay
    exact DECIMAL until the final double division, which is identical
    arithmetic on both engines."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-06-01 00:00:00").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    # part is SF-linear — no broadcast hint (see relational.q27)
    joined = li.join(p, li["l_partkey"] == p["p_partkey"])
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", _disc_price_d())
        .otherwise(F.lit(0).cast("decimal(20,8)"))
    ).cast("double")
    total = F.sum(_disc_price_d()).cast("double")
    return joined.agg(
        F.round(F.lit(100.0) * promo / total, 6).alias("promo_revenue_pct")
    )


# ---------------------------------------------------------------------------
# Q18 — large-quantity orders: HAVING on an aggregate, joined back
# ---------------------------------------------------------------------------


@query(
    "q64_large_orders",
    oracle="""
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           CAST(ROUND(o.o_totalprice, 2) AS DOUBLE) AS o_totalprice,
           CAST(ROUND(t.sum_qty, 2) AS DOUBLE) AS sum_qty
    FROM (SELECT l_orderkey, sum(l_quantity) AS sum_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING sum(l_quantity) > 140) t
    JOIN orders o   ON t.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def q64_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate lineitem per orderkey FIRST (partial
    agg shrinks the shuffle to one row per order), filter with HAVING,
    then join the few survivors back to orders/customer — at scale the
    filtered aggregate is small enough that AQE converts both joins to
    broadcasts at runtime. l_quantity sums are integers-valued doubles,
    so plain double sum is order-independent (no decimal needed)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__sq"))
        .filter(F.col("__sq") > 140)
    )
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.round("__sq", 2).alias("sum_qty"),
        )
    )


# ---------------------------------------------------------------------------
# Q19 — OR-of-ANDs predicate join (brand × size × quantity bands)
# ---------------------------------------------------------------------------


@query(
    "q65_brand_revenue_bands",
    oracle="""
    SELECT CAST(ROUND(sum(CAST(l_extendedprice AS DECIMAL(12,4)) *
                          CAST(1 - l_discount AS DECIMAL(8,4))), 2) AS DOUBLE)
             AS revenue,
           count(*) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 21)
       OR (p.p_brand = 'Brand#9' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity >= 10 AND l.l_quantity <= 40)
       OR (p.p_brand = 'Brand#20' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity >= 20 AND l.l_quantity <= 50)
    """,
)
def q65_brand_revenue_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive bands across BOTH
    join sides. Catalyst extracts the common single-side implications
    (brand ∈ {...}, size ≤ 50, quantity bounds) as pushable pre-join
    filters; the full OR evaluates post-join. part broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    # part is SF-linear — no broadcast hint (see relational.q27)
    j = li.join(p, li["l_partkey"] == p["p_partkey"])
    band = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 21))
        | ((F.col("p_brand") == "Brand#9") & F.col("p_size").between(10, 30)
           & F.col("l_quantity").between(10, 40))
        | ((F.col("p_brand") == "Brand#20") & F.col("p_size").between(20, 50)
           & F.col("l_quantity").between(20, 50))
    )
    return j.filter(band).agg(
        F.round(F.sum(_disc_price_d()), 2).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


# ---------------------------------------------------------------------------
# Q16 — supplier breadth per part family: COUNT(DISTINCT) over a join
# ---------------------------------------------------------------------------


@query(
    "q66_supplier_breadth",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_type NOT LIKE 'PROMO%'
      AND p.p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q66_supplier_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (partsupp absent from the fixtures; lineitem is
    the part↔supplier link). COUNT DISTINCT over a join: Spark plans
    it as a two-phase expand-aggregate — partial distinct on
    (group, suppkey) map-side, then the final count; the negated
    predicates (≠, NOT LIKE, IN) all push to the part scan, and part
    broadcasts so lineitem never shuffles before the aggregate."""
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & ~F.col("p_type").startswith("PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        # filtered part is SF-linear — no broadcast hint
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# Q22 — dormant high-balance customers: scalar subquery + NOT EXISTS
# ---------------------------------------------------------------------------


@query(
    "q67_dormant_customers",
    oracle="""
    SELECT c.c_mktsegment, count(*) AS numcust,
           CAST(ROUND(sum(CAST(c.c_acctbal AS DECIMAL(12,4))), 2) AS DOUBLE)
             AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (SELECT avg(c_acctbal) FROM customer
                         WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY c.c_mktsegment
    """,
)
def q67_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar aggregate subquery as a filter bound +
    NOT EXISTS decorrelated to a left-anti join ("high balance, no
    recent orders"). The scalar avg rides in as a 1-row broadcast
    cross-join (no driver collect, the plan stays whole for Catalyst);
    the anti-join's right side is just the o_custkey column of the
    recent orders, both the date filter and the projection pushed to
    the orders scan."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("__avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__avg_bal"))
        .join(o.select("o_custkey"),
              F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(12,4)")), 2)
            .cast("double").alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# GROUPING SETS — explicit multi-granularity aggregate (beyond cube/rollup)
# ---------------------------------------------------------------------------


@query(
    "q68_grouping_sets",
    oracle="""
    SELECT coalesce(n.n_name, 'ALL') AS nation,
           coalesce(o.o_orderpriority, 'ALL') AS priority,
           count(*) AS n_orders,
           CAST(ROUND(sum(CAST(o.o_totalprice AS DECIMAL(14,4))), 2) AS DOUBLE)
             AS total_price
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    GROUP BY GROUPING SETS ((n.n_name, o.o_orderpriority), (n.n_name),
                            (o.o_orderpriority))
    """,
)
def q68_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS (not derivable from rollup/cube: the
    empty set is deliberately absent). Spark plans one scan + Expand
    (3 replicas tagged per set) + single aggregate — same shuffle
    count as a plain groupBy, 3× the rows. NULL group keys from Expand
    are re-labeled 'ALL' to distinguish them from genuine null data."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    j = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
    )
    return (
        j.groupingSets(
            [["n_name", "o_orderpriority"], ["n_name"], ["o_orderpriority"]],
            "n_name", "o_orderpriority",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(14,4)")), 2)
            .cast("double").alias("total_price"),
        )
        .select(
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders", "total_price",
        )
    )


# ---------------------------------------------------------------------------
# Q4 — priority check: correlated-EXISTS with a NON-EQUI condition
# ---------------------------------------------------------------------------


@query(
    "q95_late_order_priority",
    oracle="""
    SELECT o.o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate >= o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o.o_orderpriority
    """,
)
def q95_late_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (lateness adapted to the fixture's columns:
    shipped ≥ 60 days after order date). The correlated EXISTS
    decorrelates to a LEFT SEMI join whose condition mixes the equi key
    (orderkey — drives the shuffle/hash) with a non-equi residual
    (shipdate vs orderdate — evaluated as the join filter); each order
    is emitted at most once no matter how many late lines it has."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (
        (o["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] >= o["o_orderdate"] + F.expr("INTERVAL 60 DAYS"))
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# Q15 — top supplier: aggregate joined against its own maximum
# ---------------------------------------------------------------------------


@query(
    "q96_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             sum(CAST(l_extendedprice AS DECIMAL(12,4)) *
                 CAST(1 - l_discount AS DECIMAL(8,4))) AS total_rev
      FROM lineitem GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           CAST(ROUND(r.total_rev, 2) AS DOUBLE) AS total_rev
    FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
    WHERE r.total_rev = (SELECT max(total_rev) FROM rev)
    """,
)
def q96_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: an aggregate compared against the MAX of the
    same aggregate (revenue view + scalar subquery). The revenue table
    aggregates once and is joined against its own 1-row max via a
    broadcast cross join — no recomputation, no driver collect; the
    equality compare happens on the exact DECIMAL (order-independent),
    so ties are bit-stable on any engine."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.sum(_disc_price_d()).alias("__rev"))
    )
    mx = rev.agg(F.max("__rev").alias("__mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("__rev") == F.col("__mx"))
        # supplier is SF-linear (and the argmax side is tiny) — no hint
        .join(s, F.col("l_suppkey") == s["s_suppkey"])
        .select("s_suppkey", "s_name",
                F.round("__rev", 2).cast("double").alias("total_rev"))
    )


# ---------------------------------------------------------------------------
# Q21 — suppliers solely responsible for late multi-supplier orders
# ---------------------------------------------------------------------------


@query(
    "q97_sole_late_supplier",
    oracle="""
    WITH L AS (
      SELECT l.l_orderkey, l.l_suppkey,
             CASE WHEN l.l_shipdate >= o.o_orderdate + INTERVAL 60 DAY
                  THEN 1 ELSE 0 END AS late
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
    )
    SELECT s.s_name, count(DISTINCT l1.l_orderkey) AS numwait
    FROM L l1 JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE l1.late = 1
      AND EXISTS (SELECT 1 FROM L l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM L l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.late = 1)
    GROUP BY s.s_name
    """,
)
def q97_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS + NOT EXISTS self-joins over the fact
    table — "the only late supplier in a multi-supplier order". The
    lateness flag is computed ONCE into a slim (orderkey, suppkey,
    late) relation that is persisted and reused by all three roles
    (candidate / other-supplier EXISTS / other-late NOT EXISTS): three
    shuffles on the same orderkey, no re-read of lineitem, and the
    semi/anti joins carry the suppkey inequality as their residual."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F")
    lat = keep(
        li.join(o.select("o_orderkey", "o_orderdate"),
                li["l_orderkey"] == F.col("o_orderkey"))
        .select(
            "l_orderkey", "l_suppkey",
            (F.col("l_shipdate")
             >= F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
            .cast("int").alias("late"),
        )
    )
    cand = lat.filter(F.col("late") == 1)
    other = lat.select(F.col("l_orderkey").alias("__ok"),
                       F.col("l_suppkey").alias("__sk"))
    other_late = lat.filter(F.col("late") == 1).select(
        F.col("l_orderkey").alias("__ok"), F.col("l_suppkey").alias("__sk"))
    s = load_table(spark, sf_dir, "supplier")
    filtered = (
        cand.join(
            other,
            (cand["l_orderkey"] == other["__ok"])
            & (cand["l_suppkey"] != other["__sk"]),
            "left_semi",
        )
        .join(
            other_late,
            (F.col("l_orderkey") == other_late["__ok"])
            & (F.col("l_suppkey") != other_late["__sk"]),
            "left_anti",
        )
    )
    return (
        # supplier is SF-linear — no broadcast hint
        filtered.join(s, F.col("l_suppkey") == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.countDistinct("l_orderkey").alias("numwait"))
    )
