"""The session contract: the driver-memory default, every engine conf on
the get_spark() session, the error when a correctness-critical conf
does not apply, and the warnings when another conf does not apply or
the package cannot be shipped to the Python workers."""

from __future__ import annotations

import os
import warnings
from types import SimpleNamespace

import pytest

from auto_ml_platform_with_timeseries_data_spark import session, tables

_GIB = 2 ** 30


def _fake_phys(monkeypatch, total_bytes: int) -> None:
    page = 4096
    real = os.sysconf
    monkeypatch.setattr(session.os, "sysconf", lambda name: {
        "SC_PAGE_SIZE": page,
        "SC_PHYS_PAGES": total_bytes // page,
    }.get(name) or real(name))


@pytest.mark.parametrize("phys_gib, want", [
    (1, "1g"),          # never below 1g
    (15.7, "7g"),       # half, rounded down to whole GiB
    (16, "8g"),
    (64, "32g"),
    (96, "48g"),
    (512, "48g"),       # capped at 48g
])
def test_driver_memory_is_half_of_physical_capped(monkeypatch, phys_gib,
                                                  want):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    _fake_phys(monkeypatch, int(phys_gib * _GIB))
    assert session._driver_memory() == want


def test_driver_memory_env_overrides(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "2g")
    _fake_phys(monkeypatch, 512 * _GIB)
    assert session._driver_memory() == "2g"


def test_get_spark_session_carries_every_engine_conf(spark, sf_dir):
    """Every conf the engine sets, pinned on the get_spark() test
    session (conftest)."""
    want = dict(session._RUNTIME_CONFS)
    del want["spark.sql.shuffle.partitions"]
    want["spark.python.sql.dataFrameDebugging.enabled"] = "false"
    assert {k: spark.conf.get(k) for k in want} == want
    # get_spark's explicit width (conftest: 8) holds: tune() applies the
    # defaults once per session, not on every load_table
    tables.load_table(spark, sf_dir, "events")
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"


class _StaticConf:
    def set(self, key, value):
        if key == "spark.sql.codegen.hugeMethodLimit":
            raise RuntimeError("static conf")


def test_tune_warns_once_naming_confs_that_did_not_apply(monkeypatch):
    monkeypatch.setattr(session, "_TUNE_WARNED", False)
    monkeypatch.setattr(session, "_ship_package", lambda spark: None)
    fake = SimpleNamespace(conf=_StaticConf())
    with pytest.warns(RuntimeWarning) as got:
        session.tune(fake)
    assert len(got) == 1
    msg = str(got[0].message)
    assert "spark.sql.codegen.hugeMethodLimit=8000" in msg
    assert "spark.sql.session.timeZone" not in msg
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        session.tune(fake)


class _RefusingConf:
    def __init__(self, refused: str) -> None:
        self.refused = refused

    def set(self, key, value):
        if key == self.refused:
            raise RuntimeError("static conf")


@pytest.mark.parametrize("key", session._CRITICAL_CONFS)
def test_tune_raises_when_a_correctness_conf_does_not_apply(monkeypatch,
                                                            key):
    """A session whose timezone or timestamp inference cannot be pinned
    would give different results, so tune() refuses it (a stub session:
    no second SparkContext)."""
    shipped = []
    monkeypatch.setattr(session, "_ship_package", shipped.append)
    fake = SimpleNamespace(conf=_RefusingConf(key))
    with pytest.raises(RuntimeError, match=key):
        session.tune(fake)
    assert not getattr(fake, "_sparkgraft_tuned", False)
    assert shipped == []


class _NoShipContext:
    def addPyFile(self, path):
        raise OSError("disk full")


def test_ship_package_warns_once_naming_the_exception(monkeypatch):
    monkeypatch.setattr(session, "_SHIP_WARNED", False)
    monkeypatch.delenv("SPARK_GRAFT_NO_SHIP", raising=False)
    fake = SimpleNamespace(sparkContext=_NoShipContext())
    with pytest.warns(RuntimeWarning) as got:
        session._ship_package(fake)
    assert len(got) == 1
    assert "OSError: disk full" in str(got[0].message)
    # marked as handled, so the same context is not retried
    assert fake.sparkContext._sparkgraft_pkg_shipped
    other = SimpleNamespace(sparkContext=_NoShipContext())
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        session._ship_package(other)
