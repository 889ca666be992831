"""SparkSession factory tuned for this engine.

Local-mode testing runs in one JVM (``local[N]``), but every conf here is
chosen to also be correct on a multi-executor cluster: AQE handles runtime
partition coalescing and skew joins, Arrow is enabled for every pandas
boundary, and the session timezone is pinned to UTC so results are
byte-comparable with the DuckDB oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

# Confs that are safe to (re)apply to an existing session at runtime.
_RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    # Fixture parquet stores naive timestamp[us]; read it as TIMESTAMP_LTZ
    # (not NTZ) so epoch arithmetic (cast to double, unix_timestamp) works
    # and matches DuckDB's epoch() of naive timestamps under the UTC
    # session timezone above. load_table() also normalizes defensively.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # events.parquet stores TIMESTAMP(NANOS), which the vectorized parquet
    # reader rejects; read nanos as long, and load_table() truncates them
    # to microseconds so both engines see identical values.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Streaming state-store stages take their partition count from this
    # (AQE never coalesces them), so a default-200 driver session runs
    # 200-task micro-batches over fixture-sized state. Runtime-settable,
    # perf-only — results are identical either way.
    "spark.sql.shuffle.partitions": str(os.environ.get("SPARK_GRAFT_CPUS", 32)),
    # Align whole-stage-codegen fallback with what HotSpot will actually
    # JIT: methods over 8000 bytecode are never compiled
    # (-XX:DontCompileHugeMethods), so a fused stage between 8 KB and
    # Spark's 64 KB default runs INTERPRETED bytecode — slower than the
    # non-fused path it replaced. Measured r16 (sf0.1, warm, min-of-2):
    # q309 3.92→1.76 s, q343 2.45→1.94, q217 4.28→3.41, q268 2.42→2.05,
    # everything else neutral. Scale-independent (a property of the
    # generated code size, not the data); the wide-aggregate forecast
    # kernels are exactly the shape that trips it.
    "spark.sql.codegen.hugeMethodLimit": "8000",
}


# Confs whose absence changes results, not speed: tune() raises when
# either does not apply.
_CRITICAL_CONFS = ("spark.sql.session.timeZone",
                   "spark.sql.parquet.inferTimestampNTZ.enabled")

_TUNE_WARNED = False
_SHIP_WARNED = False


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally created session,
    once per SparkSession.

    The correctness driver hands us its own SparkSession; pinning the
    timezone + AQE + Arrow here keeps engine semantics independent of how
    the session was built. Later calls leave the session as they find
    it, so a conf set after the first call (get_spark's
    ``shuffle_partitions``, a caller's override) holds. A conf the
    session refuses (static on this build) keeps the session's value,
    and the first such call warns, naming every conf that did not apply.
    A refused correctness-critical conf (_CRITICAL_CONFS) raises
    RuntimeError instead, and the session stays untuned.
    """
    if getattr(spark, "_sparkgraft_tuned", False):
        return spark
    failed, critical = [], []
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as exc:
            (critical if k in _CRITICAL_CONFS else failed).append(
                f"{k}={v} ({type(exc).__name__})")
    if critical:
        raise RuntimeError("session.tune: correctness-critical confs did "
                           "not apply: " + ", ".join(critical))
    global _TUNE_WARNED
    if failed and not _TUNE_WARNED:
        _TUNE_WARNED = True
        warnings.warn("session.tune: confs did not apply: "
                      + ", ".join(failed), RuntimeWarning)
    _ship_package(spark)
    spark._sparkgraft_tuned = True
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable inside Python workers.

    Module-level pandas-UDF kernels (mapInPandas/applyInPandas) are
    cloudpickled BY REFERENCE (module + qualname), so the worker process
    must be able to `import` the package. When the driver process was
    started from a different cwd (the correctness driver's session, a
    notebook), the repo dir is only on the driver's sys.path — workers
    fail with ModuleNotFoundError. Shipping a zip via addPyFile puts the
    package on every executor's python path, exactly how the engine
    would be deployed to a real cluster (--py-files). If shipping
    fails, the first failure warns, naming the exception: driver-side
    imports still work and only remote workers are affected.
    """
    sc = spark.sparkContext
    if getattr(sc, "_sparkgraft_pkg_shipped", False):
        return
    if os.environ.get("SPARK_GRAFT_NO_SHIP"):
        sc._sparkgraft_pkg_shipped = True
        return
    try:
        import shutil
        import tempfile

        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        base = tempfile.mkdtemp(prefix="sparkgraft_pyfiles_")
        zip_path = shutil.make_archive(
            os.path.join(base, os.path.basename(pkg_dir)), "zip",
            root_dir=os.path.dirname(pkg_dir),
            base_dir=os.path.basename(pkg_dir),
        )
        sc.addPyFile(zip_path)
    except Exception as exc:
        global _SHIP_WARNED
        if not _SHIP_WARNED:
            _SHIP_WARNED = True
            warnings.warn(
                "session._ship_package: package not shipped to the Python "
                f"workers ({type(exc).__name__}: {exc}); kernels that run "
                "on remote workers may fail with ModuleNotFoundError",
                RuntimeWarning)
    sc._sparkgraft_pkg_shipped = True


def _driver_memory() -> str:
    """$SPARK_DRIVER_MEMORY, else half the machine's physical memory
    in whole GiB (at least 1g, at most 48g). The driver JVM grows past
    its heap (metaspace, Arrow and shuffle buffers), and the Python
    workers and the OS need the rest: a fixed 48g heap on a 16 GB box
    let the JVM grow until the kernel's OOM killer ended it."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        return "48g"
    return f"{max(1, min(48, phys // 2 ** 31))}g"


def get_spark(app_name: str = "auto_ml_platform_with_timeseries_data_spark",
              cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Create (or fetch) the engine's SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all local cores. Shuffle
    partitions default to the core count — correct for local mode; on a
    real cluster AQE coalescing makes the initial number non-critical.
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    shuffle_partitions = shuffle_partitions or cores
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        # Static conf (builder-only; tune() cannot retrofit it onto a
        # foreign session): skip PySpark's per-API-call call-site
        # capture — it stack-walks + py4j-ships an error-origin string
        # on EVERY functions/DataFrame call, costing 0.3-1.4 s of pure
        # driver time per query BUILD at this plan width (measured r16:
        # q17 build 1.84→0.46 s, q309 0.83→0.50 s). Only error-message
        # origin decoration is lost; results and plans are unchanged.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    # explicit argument wins over the _RUNTIME_CONFS default
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tuned = tune(spark)
    tuned.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return tuned
