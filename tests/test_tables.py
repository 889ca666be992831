"""Table handles start no Spark job once a file's schema is known, and
query intermediates have one owner: ``tables.keep`` persists or
checkpoints them, the registry releases them when the thread's next
query starts, and nothing else in the package persists. The operators
also share one exact-statistics vocabulary (``operators.timeseries``):
no operator or streaming module writes the 1e-6 readout, an exact
square or the half-up cents by hand."""

from __future__ import annotations

import ast
import os
import re
import sys
from concurrent.futures import ThreadPoolExecutor
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

import auto_ml_platform_with_timeseries_data_spark as pkg
from auto_ml_platform_with_timeseries_data_spark import registry, tables
from auto_ml_platform_with_timeseries_data_spark.operators import timeseries


@pytest.fixture
def no_schemas(monkeypatch):
    monkeypatch.setattr(tables, "_SCHEMAS", {})


def test_second_load_starts_no_job(spark, sf_dir, no_schemas,
                                  jobs_started):
    def load():
        return tables.load_table(spark, sf_dir, "orders")

    assert jobs_started("tables-cold-load", load) >= 1
    assert jobs_started("tables-warm-load", load) == 0


def test_rewritten_file_is_read_afresh(spark, tmp_path, no_schemas):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert tables.load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = tables.load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y")]


def test_overwritten_directory_is_read_afresh(spark, tmp_path, no_schemas):
    path = str(tmp_path / "d.parquet")
    spark.range(3).write.parquet(path)
    assert tables.load_table(spark, str(tmp_path), "d").columns == ["id"]
    (spark.range(3).withColumn("twice", F.col("id") * 2)
     .write.mode("overwrite").parquet(path))
    df = tables.load_table(spark, str(tmp_path), "d")
    assert df.columns == ["id", "twice"]
    assert sorted(df.collect()) == [(0, 0), (1, 2), (2, 4)]


def test_cached_schema_keeps_events_ts_normalization(spark, sf_dir,
                                                     no_schemas):
    cold = tables.load_table(spark, sf_dir, "events")
    warm = tables.load_table(spark, sf_dir, "events")
    assert len(tables._SCHEMAS) == 1
    assert dict(cold.dtypes)["ts"] == dict(warm.dtypes)["ts"] == "timestamp"
    assert cold.count() == warm.count() > 0
    assert cold.exceptAll(warm).count() == 0
    assert warm.exceptAll(cold).count() == 0


def test_concurrent_loads_get_the_right_schema(spark, sf_dir, no_schemas):
    names = ("events", "orders", "lineitem", "customer")
    want = {n: tables.load_table(spark, sf_dir, n).schema for n in names}
    tables._SCHEMAS.clear()
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=4) as pool:
            futures = [pool.submit(tables.load_table, spark, sf_dir, n)
                       for _ in range(4) for n in names]
            got = [f.result(timeout=120).schema for f in futures]
    finally:
        sys.setswitchinterval(old)
    assert got == [want[n] for _ in range(4) for n in names]
    assert len(tables._SCHEMAS) == len(names)


def _persistent(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


@pytest.mark.parametrize("name", [
    "q130_pagerank",            # per-round persists (pagerank)
    "q202_triangle_count",      # oriented edges + result persist
    "q240_k_core",              # per-round local checkpoints
    "q248_coreness",            # per-round local checkpoints
    "q177_margin_mining",       # candidate-pair persist
    "q217_spearman_matrix",     # ordinal spans persist
    "q335_snaive_detected",     # lag-index persists
    "q341_image_screen_capped",  # fingerprint local checkpoint
    "q55_dedup_components",     # connected-components rounds
    "q175_ann_recall_gate",     # nested q35 call
    "q250_margin_mining_scaled",  # pair persists from worker threads
])
def test_query_leaves_no_persistent_rdds(spark, sf_dir, name):
    qs = registry.queries()
    # releases whatever an earlier test's query kept on this thread
    qs["q14_min_max"](spark, sf_dir).collect()
    before = _persistent(spark)
    qs[name](spark, sf_dir).collect()
    qs["q14_min_max"](spark, sf_dir).collect()
    assert _persistent(spark) == before


def test_nested_registry_call_keeps_callers_frames(spark, monkeypatch):
    monkeypatch.setattr(registry, "QUERIES", {})

    @registry.query("inner")
    def inner(spark, sf_dir):
        return spark.range(3)

    @registry.query("outer")
    def outer(spark, sf_dir):
        kept = tables.keep(spark.range(5), checkpoint=True)
        registry.QUERIES["inner"](spark, sf_dir)
        return kept

    registry.QUERIES["inner"](spark, "")
    before = _persistent(spark)
    df = registry.QUERIES["outer"](spark, "")
    assert df.count() == 5
    assert _persistent(spark) == before + 1
    registry.QUERIES["inner"](spark, "")
    assert _persistent(spark) == before
    assert registry.QUERIES["outer"].__wrapped__ is outer


def test_release_frees_kept_frames_in_place(spark):
    tables.release_all()
    before = _persistent(spark)
    cp = tables.keep(spark.range(4), checkpoint=True)
    p = tables.keep(spark.range(6))
    assert p.count() == 6
    assert _persistent(spark) == before + 2
    tables.release(cp, p)
    assert _persistent(spark) == before
    tables.release(cp)                        # already released: no-op


def test_release_frees_a_frame_kept_on_another_thread(spark):
    """A frame kept on a worker thread (an HTTP request's) is freed by
    release() from any thread; release_all() frees only the calling
    thread's own frames."""
    tables.release_all()
    before = _persistent(spark)
    with ThreadPoolExecutor(max_workers=1) as pool:
        kept = pool.submit(tables.keep, spark.range(7)).result(timeout=60)
    assert kept.count() == 7
    assert _persistent(spark) == before + 1
    tables.release_all()
    assert _persistent(spark) == before + 1
    tables.release(kept)
    assert _persistent(spark) == before
    tables.release(kept)                      # already released: no-op


class _Frame:
    # a stopped context: release() drops the record and frees nothing
    sparkSession = SimpleNamespace(sparkContext=SimpleNamespace(_jsc=None))

    def persist(self):
        return self


def test_on_caller_records_every_worker_keep():
    """Worker threads sharing the caller's list lose no handle."""
    tables.release_all()
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        keep = tables.on_caller(
            lambda n: [tables.keep(_Frame()) for _ in range(n)])
        with ThreadPoolExecutor(max_workers=16) as pool:
            futures = [pool.submit(keep, 200) for _ in range(32)]
            assert all(len(f.result(timeout=60)) == 200 for f in futures)
        assert len(tables._KEPT.frames) == 32 * 200
    finally:
        sys.setswitchinterval(old)
        tables._KEPT.frames.clear()


def test_concurrent_keeps_and_cross_thread_releases_lose_no_handle():
    """Releases from other threads while workers keep onto the same
    list drop exactly the released handles."""
    tables.release_all()
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        keep = tables.on_caller(
            lambda n: [tables.keep(_Frame()) for _ in range(n)])
        with ThreadPoolExecutor(max_workers=16) as pool:
            batches = [f.result(timeout=60)
                       for f in [pool.submit(keep, 100) for _ in range(16)]]
            futures = ([pool.submit(tables.release, *b[:50]) for b in batches]
                       + [pool.submit(keep, 100) for _ in range(16)])
            later = [f.result(timeout=60) for f in futures][16:]
        released = {id(f) for b in batches for f in b[:50]}
        left = {id(f) for f, _ in tables._KEPT.frames}
        assert len(tables._KEPT.frames) == 16 * 50 + 16 * 100
        assert not left & released
        assert left == {id(f) for b in batches + later for f in b} - released
    finally:
        sys.setswitchinterval(old)
        tables._KEPT.frames.clear()


def test_release_skips_frames_of_a_stopped_context():
    """A frame kept before spark.stop() must not fail the next query:
    the stopped context already dropped its blocks."""
    stopped = SimpleNamespace(sparkContext=SimpleNamespace(_jsc=None))
    frame = SimpleNamespace(sparkSession=stopped, unpersist=None, _jdf=None)
    tables.release_all()
    tables._KEPT.frames += [(frame, False), (frame, True)]
    tables.release_all()
    assert tables._KEPT.frames == []


def _persist_calls(path: str) -> list[str]:
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    return [f"{path}:{node.lineno} .{node.func.attr}("
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("persist", "cache", "localCheckpoint")]


def test_only_tables_persists():
    """Every persist, cache or localCheckpoint goes through tables.keep,
    so the registry can release it."""
    root = os.path.dirname(pkg.__file__)
    found = []
    for dirpath, _, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            if f.endswith(".py") and path != tables.__file__:
                found += _persist_calls(path)
    assert found == []


# the hand-written copies of the shared vocabulary: the 1e-6 readout in
# SQL (pin_sql), in Spark (pin) and on the driver (pin_float), the
# exact square dec(x) * dec(x) (dec_sq, which exact_moments sums) and
# the half-up cents x * 100 + 0.5 (cents, cents_sql)
_MICRO = r"(?:1e6|1_000_000|1000000)"
_HAND_COPIES = (
    re.compile(rf"\*\s*{_MICRO}\s*\+\s*0\.5\)\s*/\s*{_MICRO}"),
    re.compile(rf"\*\s*{_MICRO}\s*\+\s*F\.lit\(0\.5\)\)\s*/\s*{_MICRO}"),
    re.compile(r"dec\((?P<x>[^()]*(?:\([^()]*\))*[^()]*)\)"
               r"\s*\*\s*dec\((?P=x)\)"),
    re.compile(r"\*\s*100\s*\+\s*0\.5"),
    re.compile(r"\*\s*100\s*\+\s*F\.lit\(0\.5\)"),
)
_VOCABULARY = {"pin", "pin_sql", "pin_float", "dec_sq", "cents", "cents_sql"}


def _hand_copies(path: str) -> list[str]:
    """Hand-written vocabulary in one module (outside the vocabulary's
    own definitions) and any local function or variable named pin."""
    with open(path, encoding="utf-8") as fh:
        src = fh.read()
    tree = ast.parse(src, path)
    own = [range(n.lineno, n.end_lineno + 1) for n in tree.body
           if path == timeseries.__file__
           and isinstance(n, ast.FunctionDef) and n.name in _VOCABULARY]
    found = [f"{path}:{src.count(chr(10), 0, m.start()) + 1} {m.group(0)}"
             for pat in _HAND_COPIES for m in pat.finditer(src)
             if not any(src.count(chr(10), 0, m.start()) + 1 in r
                        for r in own)]
    pins = [n.lineno for n in ast.walk(tree)
            if (isinstance(n, ast.FunctionDef) and n.name == "pin"
                and path != timeseries.__file__)
            or (isinstance(n, ast.Name) and n.id == "pin"
                and isinstance(n.ctx, ast.Store))]
    return found + [f"{path}:{line} local pin" for line in pins]


def test_operators_use_the_exact_statistics_vocabulary():
    """No operator or streaming module writes floor(x * 1e6 + 0.5) /
    1e6, dec(x) * dec(x) or x * 100 + 0.5 by hand, or defines its own
    pin."""
    found = []
    for root in (os.path.dirname(timeseries.__file__),
                 os.path.join(os.path.dirname(pkg.__file__), "streaming")):
        for f in sorted(os.listdir(root)):
            if f.endswith(".py"):
                found += _hand_copies(os.path.join(root, f))
    assert found == []
