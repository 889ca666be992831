"""Semantics for the data-quality constraint suite
(operators/validation.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from auto_ml_platform_with_timeseries_data_spark.operators import validation
from auto_ml_platform_with_timeseries_data_spark.operators.validation import (
    not_null_check,
    range_check,
    referential_check,
    unique_check,
)


def test_constraint_checks_count_violations(spark):
    child = spark.createDataFrame(
        [(1, 5.0), (2, 500.0), (2, None), (9, 1.0)], "k long, v double")
    parent = spark.createDataFrame([(1,), (2,)], "k long")

    r = range_check(child, "v_range", "v", 0.0, 100.0).first()
    assert (r["n_checked"], r["n_violations"], r["passed"]) == (4, 2, 0)
    # out-of-range 500.0 AND the null both violate a presence+range contract

    nn = not_null_check(child, "v_nn", "v").first()
    assert (nn["n_violations"], nn["passed"]) == (1, 0)

    u = unique_check(child, "k_unique", "k").first()
    assert (u["n_violations"], u["passed"]) == (1, 0)   # k=2 twice

    fk = referential_check(child, "k_fk", "k", parent, "k").first()
    assert (fk["n_checked"], fk["n_violations"], fk["passed"]) == (4, 1, 0)

    ok = range_check(child.filter("v is not null and v < 100"),
                     "ok", "v", 0.0, 100.0).first()
    assert ok["passed"] == 1 and ok["n_violations"] == 0


def test_gdpr_erasure_cascades_transitively(spark):
    from auto_ml_platform_with_timeseries_data_spark.operators.validation import (
        gdpr_erase,
    )

    cust = spark.createDataFrame([(1,), (2,), (3,)], "c_custkey long")
    orders = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 2), (13, 3)],
        "o_orderkey long, o_custkey long")
    li = spark.createDataFrame(
        [(10, 1), (11, 1), (11, 2), (12, 1), (13, 1)],
        "l_orderkey long, l_lineno long")
    keys = spark.createDataFrame([(2,)], "c_custkey long")
    got = {r["table_name"]: r for r in
           gdpr_erase(cust, orders, li, keys).collect()}
    assert got["customer"]["rows_deleted"] == 1
    assert got["orders"]["rows_deleted"] == 2          # orders 11, 12
    assert got["lineitem"]["rows_deleted"] == 3        # lines of 11, 12
    assert all(r["residual_refs"] == 0 for r in got.values())
    assert got["lineitem"]["rows_after"] == 2


def test_table_digest_order_independent_and_sensitive(spark):
    """The digest is invariant to row order/partitioning and flips on
    a single-field change in a single row."""
    from pyspark.sql import functions as F

    from auto_ml_platform_with_timeseries_data_spark.operators.validation import (
        table_digest,
    )

    rows = [(i, f"p{i % 2}", 100 + i) for i in range(50)]
    df = spark.createDataFrame(rows, "k long, part string, v long")
    canon = F.concat_ws("|", F.col("k").cast("string"),
                        F.col("v").cast("string"))
    base = {r["part"]: r for r in
            table_digest(df, "part", canon).collect()}
    shuffled = {r["part"]: r for r in
                table_digest(df.repartition(7).orderBy(F.desc("k")),
                             "part", canon).collect()}
    assert base.keys() == shuffled.keys()
    for p in base:
        assert base[p]["xor_digest"] == shuffled[p]["xor_digest"]
        assert base[p]["sum_digest"] == shuffled[p]["sum_digest"]

    mut = df.withColumn("v", F.when(F.col("k") == 13, F.col("v") + 1)
                        .otherwise(F.col("v")))
    changed = {r["part"]: r for r in
               table_digest(mut, "part", canon).collect()}
    assert changed["p1"]["xor_digest"] != base["p1"]["xor_digest"]
    assert changed["p1"]["sum_digest"] != base["p1"]["sum_digest"]
    assert changed["p0"]["xor_digest"] == base["p0"]["xor_digest"]


def test_bh_fdr_p_value_clamped(spark):
    """The clamped two-sided p can never leave [0, 1]: least(1.0, ·)
    caps it even if a polynomial variant puts sf(0) above 0.5 (this
    build's A&S form gives 2·sf(0) = 0.999999999, so the clamp is
    inactive there — pin both that value and the cap)."""
    rows = spark.createDataFrame(
        [(0.0,), (1e-9,), (0.5,), (6.0,)], "z double").select(
        "z",
        (F.floor(F.least(F.lit(1.0),
                         2 * validation._normal_sf(F.col("z")))
                 * 1e9 + F.lit(0.5)) / 1e9).alias("p")).collect()
    by_z = {r["z"]: r["p"] for r in rows}
    assert by_z[0.0] == 0.999999999
    assert all(0.0 <= p <= 1.0 for p in by_z.values())


def test_relabel_hash_structurally_distinct(spark):
    """The old scheme's collision — boot salt b+64 for id i equals
    boot salt b for the neighboring residue — must NOT relate the
    relabeling draws to the bootstrap's: for a sample of (id, salt)
    pairs the relabel u32 differs from the bootstrap u32 of EVERY
    salt in the 64-wide band for that id and its ±1 residue
    neighbors."""
    P, K, K2, M = (validation._BOOT_PREMOD, validation._BOOT_KNUTH,
                   validation._RELABEL_KNUTH, validation._BOOT_M32)

    def boot(i, b):
        return ((i % P) * 64 + b) % P * K % M

    def rel(i, b):
        return ((i % P) * 64 + b) % P * K2 % M

    for i in (1, 7, 123456, 999999999):
        for b in range(8):
            boots = {boot(j, bb)
                     for j in (i - 1, i, i + 1) for bb in range(64)}
            assert rel(i, b) not in boots
