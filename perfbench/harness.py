"""Run environment, Spark session set-up and measurement helpers shared by
the workloads."""

from __future__ import annotations

import json
import os
import shlex
import statistics
import subprocess
import sys
import tempfile
import urllib.error
import urllib.request
from urllib.parse import urlencode

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEMORY = "2g"
INITIAL_HEAP = "1g"
JOB_GROUP_PREFIX = "perfbench-op-"


def pin_environment(work: str, trace: bool) -> None:
    """Pin cores, driver memory and every scratch location under `work`,
    and turn the event log on for a traced run; before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # JVMs write /tmp/hsperfdata_<user> unless perf data is off
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    conf = {
        # -Xms: the heap starts at INITIAL_HEAP, which every workload
        # outgrows, so peak RSS follows how much heap it uses more than
        # when G1 decides to grow the heap (which follows GC timing).
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{INITIAL_HEAP}",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": f"file://{log_dir}",
                     "spark.eventLog.compress": "false"})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"


def describe_environment(seed: int) -> dict:
    import pyspark

    java = subprocess.run(["java", "-XX:-UsePerfData", "-version"],
                          capture_output=True, text=True)
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_DRIVER_MEMORY": os.environ.get("SPARK_DRIVER_MEMORY"),
        "driver_initial_heap": INITIAL_HEAP,
        "pyspark": pyspark.__version__,
        "java": (java.stderr.splitlines() or ["?"])[0],
        "python": sys.version.split()[0],
        "seed": seed,
        "commit": _commit(),
    }


def _commit() -> str:
    """The checked-out commit, or a digest of the program sources when the
    checkout is not a git repository."""
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    import hashlib

    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "auto_ml_platform_with_timeseries_data_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return "src-sha256:" + h.hexdigest()[:16]


def peak_rss_mb(spark) -> dict[str, float]:
    """Peak resident memory (VmHWM) in MB of this Python process and of
    the driver JVM it launched."""
    out = {}
    pids = {"python": os.getpid()}
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        pids["jvm"] = proc.pid
    for name, pid in pids.items():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[name] = int(line.split()[1]) / 1024.0
        except OSError:
            pass
    return out


def persistent_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def percentile(values: list[float], q: float) -> float:
    """Inclusive linear-interpolation percentile, q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def geomean_metric(values_s: list[float]) -> dict:
    """Geometric mean of latencies in ms, with its sample count. Every
    sample moves it, so it is steadier run to run than a percentile of a
    few dozen mixed operations, and no single stall dominates it."""
    return {"value": statistics.geometric_mean(values_s) * 1000.0,
            "unit": "ms", "samples": len(values_s)}


def latency_metrics(prefix: str, values_s: list[float]) -> dict:
    """`prefix`_p50_ms and the highest of p90/p75 that has at least ten
    samples beyond it, each with its unit and sample count."""
    n = len(values_s)
    out = {f"{prefix}_p50_ms": {"value": percentile(values_s, 50) * 1000.0,
                                "unit": "ms", "samples": n}}
    for q in (90, 75):
        if n * (100 - q) / 100.0 >= 10:
            out[f"{prefix}_p{q}_ms"] = {"value": percentile(values_s, q) * 1000.0,
                                        "unit": "ms", "samples": n}
            break
    return out


class Client:
    """JSON-over-HTTP client for one api.ApiServer."""

    def __init__(self, port: int) -> None:
        self.base = f"http://127.0.0.1:{port}"

    def call(self, method: str, path: str, body: dict,
             timeout: float = 170.0) -> tuple[int, dict]:
        if method == "GET":
            req = urllib.request.Request(f"{self.base}{path}?{urlencode(body)}")
        else:
            req = urllib.request.Request(
                self.base + path, data=json.dumps(body).encode(),
                method="POST", headers={"Content-Type": "application/json"})
        try:
            with urllib.request.urlopen(req, timeout=timeout) as r:
                return r.status, json.loads(r.read())
        except urllib.error.HTTPError as e:
            return e.code, json.loads(e.read() or b"{}")
