"""Seeded generator of C-MAPSS-shaped run-to-failure data (numpy only).

Mimics NASA C-MAPSS FD001: one operating condition, one fault mode,
per-unit lifetimes of a few hundred cycles, 3 operating settings and 21
sensors of which seven are constant (setting_3, sensor_1, sensor_5,
sensor_10, sensor_16, sensor_18, sensor_19), plus one all-NaN column and
the per-row label RUL (remaining useful life in cycles). Degrading
sensors drift linearly over the last ONSET cycles of a unit's life (the
piecewise-linear degradation usually assumed for C-MAPSS). Train units
run to failure; test units are cut at a random cycle, and their RUL
counts from each cycle to the unit's hidden end of life.
"""

from __future__ import annotations

import os

import numpy as np

SETTINGS = ["setting_1", "setting_2", "setting_3"]
SENSORS = [f"sensor_{i}" for i in range(1, 22)]
NAN_COLUMN = "sensor_22"
COLUMNS = ["unit", "cycle", *SETTINGS, *SENSORS, NAN_COLUMN, "RUL"]

# FD001 sensor levels at the start of life, and the drift each degrading
# sensor reaches at failure (0 = flat). Constant columns have no noise.
_BASE = np.array([518.67, 642.0, 1585.0, 1400.0, 14.62, 21.6, 554.0,
                  2388.0, 9050.0, 1.3, 47.3, 522.0, 2388.0, 8140.0,
                  8.42, 0.03, 392.0, 2388.0, 100.0, 38.9, 23.3])
_DRIFT = np.array([0.0, 1.5, 25.0, 40.0, 0.0, 0.05, -4.0, 0.15, 30.0,
                   0.0, 1.1, -3.5, 0.15, 25.0, 0.08, 0.0, 4.0, 0.0,
                   0.0, -1.0, -0.6])
_NOISE = np.array([0.0, 0.5, 6.0, 9.0, 0.0, 0.001, 0.9, 0.07, 20.0,
                   0.0, 0.27, 0.7, 0.07, 19.0, 0.04, 0.0, 1.5, 0.0,
                   0.0, 0.18, 0.1])
ONSET = 200.0
CONSTANT_COLUMNS = ["setting_3"] + [s for s, n in zip(SENSORS, _NOISE) if n == 0]


def _unit_rows(rng: np.random.Generator, unit: int, life: int,
               stop: int) -> np.ndarray:
    """Rows for cycles 1..stop of a unit that fails at cycle `life`."""
    cycle = np.arange(1, stop + 1, dtype=np.float64)
    # wear grows linearly over the last ONSET cycles before failure
    wear = np.clip(1.0 - (life - cycle) / ONSET, 0.0, 1.0)
    sensors = (_BASE + rng.normal(0.0, 0.002, 21) * _BASE * (_NOISE > 0)
               + np.outer(wear, _DRIFT)
               + rng.normal(size=(stop, 21)) * _NOISE)
    settings = np.column_stack([
        rng.normal(0.0, 0.0022, stop).round(4),
        rng.normal(0.0, 0.0003, stop).round(4),
        np.full(stop, 100.0),
    ])
    return np.column_stack([
        np.full(stop, unit, dtype=np.float64), cycle, settings,
        sensors.round(4), np.full(stop, np.nan), life - cycle,
    ])


def generate(seed: int, units: int) -> tuple[np.ndarray, np.ndarray]:
    """(train, test) row arrays in COLUMNS order for `units` units each."""
    rng = np.random.default_rng(seed)
    train = [_unit_rows(rng, u, life, life)
             for u, life in enumerate(rng.integers(128, 363, units), 1)]
    test = []
    for u, life in enumerate(rng.integers(128, 363, units), 1):
        test.append(_unit_rows(rng, u, life, int(rng.integers(31, life - 6))))
    return np.vstack(train), np.vstack(test)


def write_csv(rows: np.ndarray, path: str) -> int:
    """Write rows with a header: unit, cycle and RUL as integers, NaN as
    an empty field. Returns the file size in bytes."""
    import pandas as pd

    df = pd.DataFrame(rows, columns=COLUMNS)
    for c in ("unit", "cycle", "RUL"):
        df[c] = df[c].astype(np.int64)
    df.to_csv(path, index=False, na_rep="", float_format="%.4f")
    return os.path.getsize(path)
