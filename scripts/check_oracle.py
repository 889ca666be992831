"""Local stand-in for the driver's correctness gate: run every registered
query through Spark AND its DuckDB oracle, canonicalize (sort rows by all
columns, round doubles), and compare row counts + values.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _kind(s: pd.Series) -> str:
    """Value-family of a column for the driver-style exact compare.

    The driver hashes canonicalized VALUES, so an integer 10000 and a
    float 10000.0 hash differently (the round-2 q125 red row: DuckDB
    widened sum(BIGINT) to HUGEINT → pandas float64).  Width within a
    family (int32 vs int64, float32 vs float64) does not change the
    canonical value; crossing families does.
    """
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    return "object"


def canonicalize(pdf: pd.DataFrame) -> tuple[pd.DataFrame, dict[str, str]]:
    out = pdf.copy()
    out.columns = [str(c) for c in out.columns]
    out = out[sorted(out.columns)]
    kinds: dict[str, str] = {}
    for c in out.columns:
        s = out[c]
        k = _kind(s)
        kinds[c] = k
        if k == "datetime":
            out[c] = s.astype("datetime64[us]").astype("int64")
        elif k == "int":
            out[c] = s.astype("Int64")  # nullable: ints with NULLs survive
        elif k == "float":
            out[c] = s.astype("float64")
        elif k == "object":
            out[c] = s.map(lambda v: str(v) if v is not None else None)
    out = out.sort_values(by=list(out.columns), na_position="last").reset_index(drop=True)
    return out, kinds


def compare(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> tuple[bool, str]:
    """Mirror the driver's gate EXACTLY: row count, sorted column names,
    then an exact (not tolerance-based) compare of canonicalized values.
    Queries are responsible for pinning floats (round/floor on BOTH the
    Spark and oracle side) — a 1e-9 tolerance here would pass results the
    driver's value hash rejects (the round-2 q125 lesson)."""
    if len(spark_pdf) != len(duck_pdf):
        return False, f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}"
    a, akinds = canonicalize(spark_pdf)
    b, bkinds = canonicalize(duck_pdf)
    if list(a.columns) != list(b.columns):
        return False, f"columns spark={list(a.columns)} duck={list(b.columns)}"
    for c in a.columns:
        if akinds[c] != bkinds[c]:
            return False, (f"dtype family differs in column {c}: "
                           f"spark={akinds[c]} duck={bkinds[c]} "
                           f"(would break the driver's value hash)")
        av, bv = a[c], b[c]
        if akinds[c] == "float":
            ok = np.array_equal(av.to_numpy(), bv.to_numpy(), equal_nan=True)
        else:
            # astype("string") first: nullable Int64 rejects fillna(str)
            ok = (av.astype("string").fillna("<NULL>")
                  .equals(bv.astype("string").fillna("<NULL>")))
        if not ok:
            diff = None
            try:
                mism = (av.astype(str) != bv.astype(str))
                idx = mism[mism].index[:3].tolist()
                diff = [(i, av[i], bv[i]) for i in idx]
            except Exception:
                pass
            return False, f"values differ in column {c}: {diff}"
    return True, "ok"


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--hostile"]
    hostile = "--hostile" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    from auto_ml_platform_with_timeseries_data_spark import registry

    if hostile:
        # Simulate the correctness driver's session: vanilla confs,
        # non-UTC timezone, default 200 shuffle partitions — the engine's
        # tune() must repair everything it depends on at load_table time.
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[16]")
            .appName("check-oracle-hostile")
            .config("spark.sql.session.timeZone", "America/New_York")
            .config("spark.ui.enabled", "false")
            # not a correctness conf: progress bars would overwrite the
            # PASS/FAIL lines this script prints
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
    else:
        from auto_ml_platform_with_timeseries_data_spark.session import get_spark

        spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs, oracles = registry.queries(), registry.oracles()
    n_pass = n_fail = 0
    for name in sorted(qs):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf_dir)
            spark_pdf = sdf.toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS {name}: {len(spark_pdf)} rows (rows-only, "
                  f"{time.time()-t0:.1f}s)")
            n_pass += 1 if len(spark_pdf) >= 0 else 0
            continue
        try:
            duck_pdf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        ok, msg = compare(spark_pdf, duck_pdf)
        status = "PASS" if ok else "FAIL"
        if ok:
            n_pass += 1
        else:
            n_fail += 1
        print(f"{status} {name}: {msg} ({len(spark_pdf)} rows, {time.time()-t0:.1f}s)")
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
