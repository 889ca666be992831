"""Query intermediates have one owner: ``tables.keep`` persists or
checkpoints them, the registry releases them when the thread's next
query starts, and nothing else in the package persists."""

from __future__ import annotations

import ast
import os
import sys
from concurrent.futures import ThreadPoolExecutor
from types import SimpleNamespace

import pytest

import auto_ml_platform_with_timeseries_data_spark as pkg
from auto_ml_platform_with_timeseries_data_spark import registry, tables


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


class _Frame:
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
