"""Canonical access to the driver-generated parquet tables (TESTDATA.md),
and the one owner of query intermediates (``keep``/``release``).

All fixtures are columnar parquet; reading through here guarantees the
session is tuned (UTC timezone, AQE, Arrow) before any plan is built, so
oracle comparisons are deterministic regardless of who built the session.

``load_table`` remembers each file's inferred schema. A plain
``spark.read.parquet`` runs one Spark job per call only to infer a
schema that does not change between reads; a later read of the same
file passes the remembered schema and starts no job (Spark still lists
the path, so a deleted file fails as before). The cache key is the
path, one Hadoop ``FileSystem.getFileStatus`` of it (length and
modification time; any scheme) and the two confs that shape inference,
so a rewritten file or a conf change infers afresh. Limit: a directory's
status changes when entries are added or removed, which is what a Spark
overwrite does on a local or HDFS path, but an object store without
directory modification times (S3, GCS) reports the same status after
an overwrite, and the old schema is used.
"""

from __future__ import annotations

import os
import threading
import warnings
from collections.abc import Callable
from typing import TypeVar

try:  # py4j carries the stats probe and file stat; absent under Spark Connect
    from py4j.protocol import Py4JError as _Py4JError
except ImportError:  # pragma: no cover
    class _Py4JError(Exception):
        pass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from auto_ml_platform_with_timeseries_data_spark.session import tune

T = TypeVar("T")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Numeric lineitem columns used as the "feature matrix" stand-in
# (FIXTURES.md §3: label=l_extendedprice, features=quantity/discount/tax/...).
LINEITEM_LABEL = "l_extendedprice"
LINEITEM_FEATURES = ("l_quantity", "l_discount", "l_tax",
                     "l_partkey", "l_suppkey", "l_linenumber")


# Inferred schemas by _schema_key. No lock: a race between threads at
# worst infers the same schema twice.
_SCHEMAS: dict[tuple, StructType] = {}
_INFERENCE_CONFS = ("spark.sql.legacy.parquet.nanosAsLong",
                    "spark.sql.parquet.inferTimestampNTZ.enabled")


def _schema_key(spark: SparkSession, path: str) -> tuple | None:
    """What the schema Spark infers for ``path`` depends on, or None when
    the path cannot be stat'ed (the read then raises Spark's own error)."""
    hpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    try:
        status = hpath.getFileSystem(
            spark.sparkContext._jsc.hadoopConfiguration()
        ).getFileStatus(hpath)
    except _Py4JError:
        return None
    return (path, status.getLen(), status.getModificationTime(),
            *(spark.conf.get(k) for k in _INFERENCE_CONFS))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    tune(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = _schema_key(spark, path)
    schema = _SCHEMAS.get(key)
    df = (spark.read if schema is None
          else spark.read.schema(schema)).parquet(path)
    if schema is None and key is not None:
        _SCHEMAS[key] = df.schema
    # events.parquet stores TIMESTAMP(NANOS), read as long under the
    # nanosAsLong conf tune() sets; truncate to microseconds, exactly what
    # DuckDB's TIMESTAMP_NS→TIMESTAMP cast does.
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
# frames when its next query starts. Each kept handle also carries the
# list that records it (_OWNER), so release() finds it from any thread.
_KEPT = _Kept()
_OWNER = "_sparkgraft_kept_by"
_RELEASE_LOCK = threading.Lock()
PERSIST_SRC_MB_ENV = "SPARK_GRAFT_PERSIST_SRC_MB"
_PERSIST_SRC_MB_DEFAULT = 256.0
_PROBE_WARNED = False


def keep(frame: DataFrame, *, source: DataFrame | None = None,
         checkpoint: bool = False) -> DataFrame:
    """Persist ``frame`` (or, with ``checkpoint``, localCheckpoint it
    eagerly) for the rest of the current query and return the handle to
    read from. The persist adds no action. An owner that outlives the
    query (a catalog Task's upload) releases the handle itself, from
    whichever thread.

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
    kept = _KEPT.frames
    kept.append((frame, checkpoint))
    setattr(frame, _OWNER, kept)
    return frame


def release(*frames: DataFrame) -> None:
    """Free kept frames now, whichever thread kept them: a loop's
    previous round, or what a caller outside a registry query kept.
    Frames keep() did not record (a size-gated no-op, or already
    released) are ignored."""
    gone = []
    with _RELEASE_LOCK:
        for frame in frames:
            # vars(): a DataFrame's __getattr__ would resolve a missing
            # attribute as a column, one py4j round trip per call
            kept = vars(frame).get(_OWNER, _KEPT.frames)
            at = next((i for i, (f, _) in enumerate(kept) if f is frame),
                      None)
            if at is not None:
                gone.append(kept.pop(at))
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
