"""Canonical access to the driver-generated parquet tables (TESTDATA.md),
and the one owner of query intermediates (``keep``/``release``).

All fixtures are columnar parquet; reading through here guarantees the
session is tuned (UTC timezone, AQE, Arrow) before any plan is built, so
oracle comparisons are deterministic regardless of who built the session.
"""

from __future__ import annotations

import os
import threading
import warnings
from collections.abc import Callable
from typing import TypeVar

try:  # the stats probe goes through py4j; absent under Spark Connect
    from py4j.protocol import Py4JError as _Py4JError
except ImportError:  # pragma: no cover
    class _Py4JError(Exception):
        pass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from auto_ml_platform_with_timeseries_data_spark.session import tune

T = TypeVar("T")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Numeric lineitem columns used as the "feature matrix" stand-in
# (FIXTURES.md §3: label=l_extendedprice, features=quantity/discount/tax/...).
LINEITEM_LABEL = "l_extendedprice"
LINEITEM_FEATURES = ("l_quantity", "l_discount", "l_tax",
                     "l_partkey", "l_suppkey", "l_linenumber")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    tune(spark)
    # events.parquet stores TIMESTAMP(NANOS), which the vectorized parquet
    # reader rejects; read nanos as long and truncate to microseconds —
    # exactly what DuckDB's TIMESTAMP_NS→TIMESTAMP cast does, so both
    # engines see identical values.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for field in df.schema.fields:
        if field.name == "ts" and field.dataType.simpleString() == "bigint":
            # integer `div`, NOT `/` — nanos (~1.7e18) overflow a double's
            # 53-bit mantissa, so float division would corrupt low digits
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif field.dataType.simpleString() == "timestamp_ntz":
            # Session built before tune() could apply inferTimestampNTZ=false
            # (static conf): normalize NTZ → LTZ. Under the UTC session tz
            # this is value-preserving and matches the oracle's naive epoch.
            df = df.withColumn(field.name,
                               F.col(field.name).cast("timestamp"))
    return df


class _Kept(threading.local):
    def __init__(self) -> None:
        self.frames: list[tuple[DataFrame, bool]] = []


# Per-thread record of kept frames; registry.query releases a thread's
# frames when its next query starts.
_KEPT = _Kept()
PERSIST_SRC_MB_ENV = "SPARK_GRAFT_PERSIST_SRC_MB"
_PERSIST_SRC_MB_DEFAULT = 256.0
_PROBE_WARNED = False


def keep(frame: DataFrame, *, source: DataFrame | None = None,
         checkpoint: bool = False) -> DataFrame:
    """Persist ``frame`` (or, with ``checkpoint``, localCheckpoint it
    eagerly) for the rest of the current query and return the handle to
    read from. The persist adds no action.

    ``source`` size-gates the persist on the optimizer's size of the
    source whose N-1 re-scans it saves (``frame`` itself is small by
    construction; unknown statistics report Long.MaxValue and so
    persist, the safe default at scale). Below $SPARK_GRAFT_PERSIST_SRC_MB
    (default 256 MB) re-reading page-cached parquet beats the cache
    barrier: at sf0.1 (events ≈ 3 MB, paired A/B, r15) the
    unconditional persist made friedman/cochran_q ~2x slower. Plan
    tests set it to 0 to assert the at-scale single-scan shape."""
    if source is not None and not _scan_heavy(source):
        return frame
    frame = frame.localCheckpoint(eager=True) if checkpoint \
        else frame.persist()
    _KEPT.frames.append((frame, checkpoint))
    return frame


def release(*frames: DataFrame) -> None:
    """Free kept frames now: a loop's previous round, or what a caller
    outside a registry query kept. Frames keep() did not record (a
    size-gated no-op, or already released) are ignored."""
    ids = {id(f) for f in frames}
    kept = _KEPT.frames
    gone = [h for h in kept if id(h[0]) in ids]
    kept[:] = [h for h in kept if id(h[0]) not in ids]
    for frame, checkpoint in gone:
        if frame.sparkSession.sparkContext._jsc is None:
            continue  # the stopped context took the blocks with it
        if checkpoint:
            # A local checkpoint's blocks belong to the RDD under its
            # LogicalRDD, not to the cache manager: unpersist() and
            # catalog.clearCache() never free them.
            frame._jdf.queryExecution().analyzed().rdd().unpersist(False)
        else:
            frame.unpersist()


def release_all() -> None:
    """Free every frame this thread kept."""
    release(*[frame for frame, _ in _KEPT.frames])


def on_caller(fn: Callable[..., T]) -> Callable[..., T]:
    """``fn`` to run on a worker thread: what it keeps is recorded on
    the calling thread, so the caller's query releases it."""
    kept = _KEPT.frames

    def run(*args, **kwargs) -> T:
        _KEPT.frames = kept
        return fn(*args, **kwargs)
    return run


def _scan_heavy(source: DataFrame) -> bool:
    try:
        mb = float(os.environ.get(PERSIST_SRC_MB_ENV,
                                  _PERSIST_SRC_MB_DEFAULT))
    except ValueError:
        mb = _PERSIST_SRC_MB_DEFAULT
    try:
        size = int(str(source._jdf.queryExecution().optimizedPlan()
                       .stats().sizeInBytes()))
    except (AttributeError, TypeError, ValueError, _Py4JError) as exc:
        # No _jdf (Spark Connect) or a probe-shape change: fall back to
        # the at-scale-safe unconditional persist, but say so ONCE — a
        # silently disabled gate reverts every call site to the
        # measured ~2x-slower small-scale persist with no signal.
        global _PROBE_WARNED
        if not _PROBE_WARNED:
            _PROBE_WARNED = True
            warnings.warn(
                "tables.keep: source-size probe unavailable "
                f"({type(exc).__name__}: {exc}); persisting "
                "unconditionally from now on", RuntimeWarning)
        return True
    return size >= mb * 1024 * 1024
