"""The driver-memory default, checked without starting a session."""

from __future__ import annotations

import os

import pytest

from auto_ml_platform_with_timeseries_data_spark import session

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
