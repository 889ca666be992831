"""Z-order layout: key correctness is oracle-checked (q155); here we
pin the property the layout exists for — parquet footer min/max
pruning on BOTH clustered dimensions — by measuring it on real files.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F


def _spans(dest: str, col: str) -> list[tuple]:
    import pyarrow.parquet as pq

    out = []
    for part in sorted(glob.glob(os.path.join(dest, "part-*.parquet"))):
        md = pq.ParquetFile(part).metadata
        idx = md.schema.names.index(col)
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        out.append((min(mins), max(maxs)))
    return out


def _files_hit(spans: list[tuple], probe) -> int:
    return sum(1 for mn, mx in spans if mn <= probe <= mx)


def test_zorder_write_prunes_both_dimensions(spark, sf_dir, tmp_path):
    from auto_ml_platform_with_timeseries_data_spark.operators.layout import (
        zorder_write,
    )
    from auto_ml_platform_with_timeseries_data_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id",
        F.floor(F.col("ts").cast("double")).cast("long").alias("epoch_s"),
    )
    # 16 files → ~4 Morton prefix bits at the range splits (2 per
    # dimension), so BOTH dimensions get sub-domain per-file spans
    nfiles = 16
    zdest = str(tmp_path / "zorder")
    tdest = str(tmp_path / "bytime")
    zorder_write(ev, zdest, "user_id", "epoch_s", nfiles)
    (ev.repartitionByRange(nfiles, "epoch_s")
     .sortWithinPartitions("epoch_s").write.mode("overwrite").parquet(tdest))

    probe_user = ev.approxQuantile("user_id", [0.5], 0.0)[0]
    probe_ts = ev.approxQuantile("epoch_s", [0.5], 0.0)[0]

    z_user = _files_hit(_spans(zdest, "user_id"), probe_user)
    t_user = _files_hit(_spans(tdest, "user_id"), probe_user)
    z_time = _files_hit(_spans(zdest, "epoch_s"), probe_ts)

    n_z = len(_spans(zdest, "user_id"))
    # time-sorted layout: every file spans ~the whole user domain → a
    # user probe reads everything
    assert t_user == len(_spans(tdest, "user_id"))
    # z-order: a user point probe skips at least half the files...
    assert z_user <= n_z // 2, (z_user, n_z)
    # ...while a time point probe ALSO skips (sampled range boundaries
    # rarely land exactly on bit boundaries, so allow straddlers; the
    # time-sorted layout's user-probe answer above is "read everything")
    assert z_time <= 3 * n_z // 4, (z_time, n_z)

    # layout changes bytes, not rows: content round-trips
    assert spark.read.parquet(zdest).count() == ev.count()


def test_compact_parquet_bin_packs(spark, sf_dir, tmp_path):
    import glob

    from auto_ml_platform_with_timeseries_data_spark.operators.layout import (
        compact_parquet,
    )
    from auto_ml_platform_with_timeseries_data_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    frag = str(tmp_path / "frag")
    comp = str(tmp_path / "comp")
    docs.write.option("maxRecordsPerFile", 10).parquet(frag)
    n_frag = len(glob.glob(frag + "/part-*"))
    compact_parquet(spark, frag, comp, target_bytes=512 * 1024)
    n_comp = len(glob.glob(comp + "/part-*"))
    assert n_comp < n_frag
    # content preserved exactly
    assert (spark.read.parquet(comp).exceptAll(docs).count() == 0
            and docs.exceptAll(spark.read.parquet(comp)).count() == 0)


def test_parquet_manifest_matches_footers(spark, sf_dir, tmp_path):
    from auto_ml_platform_with_timeseries_data_spark.operators.layout import (
        parquet_manifest,
        zorder_write,
    )
    from auto_ml_platform_with_timeseries_data_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id",
        F.floor(F.col("ts").cast("double")).cast("long").alias("epoch_s"),
    )
    dest = str(tmp_path / "z")
    zorder_write(ev, dest, "user_id", "epoch_s", nfiles=8)
    man = parquet_manifest(spark, dest, ["user_id", "epoch_s"]).collect()
    per_file_rows = {r["file"]: r["rows"] for r in man}
    assert sum(per_file_rows.values()) == ev.count()
    spans = _spans(dest, "user_id")
    got = sorted((int(r["min"]), int(r["max"])) for r in man
                 if r["col"] == "user_id")
    assert got == sorted(spans)


def test_scd2_apply_version_semantics(spark):
    """No-op change rows spawn no versions; real changes close the old
    row and open a new one; new keys open at ts; untouched keys stay
    open from 0."""
    from auto_ml_platform_with_timeseries_data_spark.operators.layout import (
        scd2_apply,
    )

    dim = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, name string, bal double")
    changes = spark.createDataFrame(
        [(2, "b", 20.0),      # no-op
         (3, "c", 99.0),      # real change
         (4, "d", 40.0)],     # new key
        "k long, name string, bal double")
    got = scd2_apply(dim, changes, "k", ["name", "bal"], ts=1).collect()
    rows = {(r["k"], r["valid_from"], r["valid_to"], r["is_current"],
             r["bal"]) for r in got}
    assert rows == {
        (1, 0, None, True, 10.0),     # untouched
        (2, 0, None, True, 20.0),     # no-op: still ONE open row
        (3, 0, 1, False, 30.0),       # closed old version
        (3, 1, None, True, 99.0),     # re-opened with new attrs
        (4, 1, None, True, 40.0),     # brand-new key
    }
    assert len(got) == 5


def test_snapshot_diff_statuses(spark):
    from auto_ml_platform_with_timeseries_data_spark.operators.layout import (
        snapshot_diff,
    )

    a = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "z")], "k long, v string")
    b = spark.createDataFrame(
        [(2, "y"), (3, "Z"), (4, "w")], "k long, v string")
    got = {r["k"]: r["status"] for r in
           snapshot_diff(a, b, "k", ["v"]).collect()}
    assert got == {1: "removed", 3: "changed", 4: "added"}  # 2 unchanged


def test_cdc_apply_last_writer_wins_and_tombstones(spark):
    from auto_ml_platform_with_timeseries_data_spark.operators.layout import (
        cdc_apply,
    )

    log = spark.createDataFrame(
        [
            (1, "I", 1, 10.0),
            (1, "U", 3, 30.0),   # out-of-order arrival: seq 3 before 2
            (1, "U", 2, 20.0),
            (2, "I", 1, 10.0),
            (2, "D", 2, 10.0),   # tombstone deletes key 2
            (3, "I", 1, 99.0),
            (4, "D", 1, 0.0),    # delete-before-insert: key never lands
        ],
        "k long, op string, seq long, v double")
    got = {r["k"]: r for r in cdc_apply(log, "k").collect()}
    assert set(got) == {1, 3}
    assert got[1]["v"] == 30.0 and got[1]["last_seq"] == 3
    assert got[3]["v"] == 99.0 and got[3]["last_seq"] == 1


def test_ivm_join_delta_equals_recompute(spark):
    """The three delta terms exactly cover the view growth: maintained
    view == one-shot join of the full tables, with no duplicate pairs,
    under a random 4-way split of both sides."""
    import random

    from auto_ml_platform_with_timeseries_data_spark.operators.layout import (
        ivm_join_delta,
    )

    rnd = random.Random(5)
    left = [(k, f"l{i}") for i, k in enumerate(
        rnd.choices(range(30), k=120))]
    right = [(k, f"r{i}") for i, k in enumerate(
        rnd.choices(range(30), k=150))]
    lo = spark.createDataFrame(left, "k long, lv string")
    ro = spark.createDataFrame(right, "k long, rv string")
    dl = lo.filter(F.length("lv") % 3 == 0)
    ol = lo.exceptAll(dl)
    dr = ro.filter(F.length("rv") % 2 == 0)
    orr = ro.exceptAll(dr)

    maintained = (ol.join(orr, "k")
                  .unionByName(ivm_join_delta(ol, orr, dl, dr, "k")))
    full = lo.join(ro, "k")
    assert maintained.count() == full.count()
    assert maintained.exceptAll(full).count() == 0
    assert full.exceptAll(maintained).count() == 0


def test_zorder_pruning_certificate_bounds_both_dimensions(spark, sf_dir):
    """The clustering claim, measured: a Morton layout answers a band
    probe on EITHER dimension from a bounded file fraction, while the
    id-ordered baseline must read almost everything for the dimension
    id does not correlate with."""
    from auto_ml_platform_with_timeseries_data_spark.operators.layout import (
        zorder_pruning_certificate,
    )
    from auto_ml_platform_with_timeseries_data_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id",
        F.floor(F.col("ts").cast("double")).cast("long").alias("ep"))
    got = {(r["layout"], r["probe"]): r for r in
           zorder_pruning_certificate(ev, "event_id", "user_id", "ep")
           .collect()}
    assert len(got) == 4
    for k, r in got.items():
        assert 0 < r["files_hit"] <= r["files_total"]
    # zorder prunes BOTH dimensions to a minority of files
    assert got[("zorder", "x_band")]["files_hit"] * 2 < \
        got[("zorder", "x_band")]["files_total"]
    assert got[("zorder", "y_band")]["files_hit"] * 2 < \
        got[("zorder", "y_band")]["files_total"]
    # the baseline reads ~all files for the uncorrelated dimension
    assert got[("id_ordered", "x_band")]["files_hit"] > \
        got[("zorder", "x_band")]["files_hit"]


def test_bucketed_join_plan_has_zero_exchanges(spark, sf_dir):
    """q258's layout contract: the bucketed lineitem⋈orders join plans
    with NO Exchange on either side (bucket i reads against bucket i),
    while the same join over plain parquet shuffles both sides — the
    bucketing, not the data size, removes the shuffle."""
    from auto_ml_platform_with_timeseries_data_spark.operators.layout import (
        bucketed_join,
        write_bucketed,
    )
    from auto_ml_platform_with_timeseries_data_spark.staging import (
        staging_dir,
    )
    from auto_ml_platform_with_timeseries_data_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority")
    write_bucketed(li, "l_orderkey", "t_bkt_li",
                   staging_dir("t_bkt_li"))
    write_bucketed(o, "o_orderkey", "t_bkt_o", staging_dir("t_bkt_o"))
    # the contract is about the BIG-BIG path: at fixture scale the
    # planner would broadcast the small side (bypassing bucketed
    # reads entirely), so disable auto-broadcast to plan the join the
    # way a 100 TB fact-fact join plans
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bucketed = bucketed_join(spark, "t_bkt_li", "t_bkt_o",
                                 "l_orderkey", "o_orderkey")
        plan = bucketed._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 0, plan
        # the join itself must still be there (not optimized away)
        assert ("SortMergeJoin" in plan
                or "ShuffledHashJoin" in plan), plan
        assert "Bucketed: true" in plan, plan

        # control: the identical join over non-bucketed inputs
        # shuffles both sides
        plain = li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        pplan = plain._jdf.queryExecution().executedPlan().toString()
        assert pplan.count("Exchange") >= 2, pplan
        # and the bucketed values match the plain join
        assert bucketed.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_hilbert_keys_preserves_caller_dunder_columns(spark):
    from auto_ml_platform_with_timeseries_data_spark.operators.layout import (
        hilbert_keys,
    )

    df = spark.createDataFrame(
        [(1, 10, 20, 7), (2, 30, 40, 8), (3, 50, 60, 9)],
        "id long, x long, y long, __epoch long")
    out = hilbert_keys(df, "x", "y")
    # caller columns (including the "__"-prefixed one) survive; only
    # hkey is added and no scratch column leaks
    assert set(out.columns) == {"id", "x", "y", "__epoch", "hkey"}
    got = {r["id"]: r["__epoch"] for r in out.collect()}
    assert got == {1: 7, 2: 8, 3: 9}
