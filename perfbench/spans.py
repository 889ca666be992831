"""Per-layer tracing for the benchmark's traced run.

Spans are recorded from outside the program: `Tracer.wrap` replaces a
public function or method with one that records a span (name, start,
end, parent, operation) around each call. The program's own code is
untouched. Spark-side layers come from Spark's event log, which the
traced run turns on (uncompressed, so the stdlib can read it), and from
the job group the benchmark sets for each operation. Jobs that the
program starts from its own worker threads carry no job group; they are
attributed to the operation whose span contains their submission time.
"""

from __future__ import annotations

import functools
import glob
import inspect
import json
import os
import re
import threading
import time
from collections import Counter, defaultdict

# Physical operators whose stages run rows through Python workers.
_PYTHON_OPS = re.compile(r"ArrowEvalPython|BatchEvalPython|InPandas|InArrow|"
                         r"PythonUDTF|ArrowWindowPython|PythonRDD|"
                         r"ApplyInPandasWithState|PythonMapInArrow")


class Tracer:
    """Spans and counters kept in memory, reported when the run ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self.overhead_s = 0.0  # time spent in tracer bookkeeping
        self.enabled = False
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0

    # -- spans ---------------------------------------------------------------
    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def charge(self, seconds: float) -> None:
        """Count `seconds` of tracer work done on the measured path."""
        with self._lock:
            self.overhead_s += seconds

    def begin(self, layer: str, name: str) -> dict:
        t = time.perf_counter()
        stack = self._stack()
        with self._lock:
            self._next_id += 1
            span = {"id": self._next_id, "layer": layer, "name": name,
                    "parent": stack[-1]["id"] if stack else None,
                    "op": stack[0]["id"] if stack else self._next_id,
                    "start": time.time(), "t0": time.perf_counter()}
            self.spans.append(span)
        stack.append(span)
        self.charge(time.perf_counter() - t)
        return span

    def end(self, span: dict) -> None:
        t = time.perf_counter()
        span["dur"] = t - span.pop("t0")
        span["end"] = span["start"] + span["dur"]
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()
        self.charge(time.perf_counter() - t)

    # -- wrapping ------------------------------------------------------------
    def wrap(self, owner: object, attr: str, layer: str,
             on_enter=None) -> None:
        """Record a `layer` span around every call of owner.attr while the
        tracer is enabled. `on_enter(span)` runs inside the span first."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return original(*args, **kwargs)
            span = tracer.begin(layer, attr)
            try:
                if on_enter is not None:
                    t = time.perf_counter()
                    on_enter(span)
                    tracer.charge(time.perf_counter() - t)
                return original(*args, **kwargs)
            finally:
                tracer.end(span)

        setattr(owner, attr, traced)

    def wrap_module(self, module, layer: str) -> None:
        """Wrap every public function defined in `module`, registry query
        functions (q<N>_...) excepted."""
        for name, fn in list(vars(module).items()):
            if (inspect.isfunction(fn) and fn.__module__ == module.__name__
                    and not name.startswith("_")
                    and not re.match(r"q\d+_", name)):
                self.wrap(module, name, layer)

    # -- roll-ups ------------------------------------------------------------
    def busy(self, layer: str) -> tuple[float, int]:
        """(seconds, calls) of the outermost `layer` spans: nested calls of
        the same layer are not counted twice."""
        by_id = {s["id"]: s for s in self.spans}
        total, calls = 0.0, 0
        for s in self.spans:
            if s["layer"] != layer or "dur" not in s:
                continue
            p = by_id.get(s["parent"])
            while p is not None and p["layer"] != layer:
                p = by_id.get(p["parent"])
            if p is None:
                total += s["dur"]
                calls += 1
        return total, calls

    def self_time(self, layer: str, child_layer: str) -> float:
        """Sum over `layer` spans of duration minus the time covered by
        their direct `child_layer` children."""
        child = defaultdict(float)
        for s in self.spans:
            if s["layer"] == child_layer and "dur" in s:
                child[s["parent"]] += s["dur"]
        return sum(s["dur"] - child[s["id"]] for s in self.spans
                   if s["layer"] == layer and "dur" in s)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    """Events of every application logged under `log_dir`, in file order.
    Handles single files and Spark 4's rolling eventlog_v2_* directories."""
    def index(path: str) -> tuple:
        m = re.search(r"events_(\d+)_", os.path.basename(path))
        return (os.path.dirname(path), int(m.group(1)) if m else 0)

    files = [p for p in glob.glob(os.path.join(log_dir, "**", "*"),
                                  recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith(
                 ("appstatus_", "."))]
    events = []
    for path in sorted(files, key=index):
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    try:
                        events.append(json.loads(line))
                    except json.JSONDecodeError:  # torn last line
                        pass
    return events


def spark_layers(events: list[dict], t0: float, t1: float, cores: int,
                 ops: list[dict], group_prefix: str) -> tuple[dict, dict]:
    """Roll the event log up over jobs submitted in [t0, t1] (epoch s):
    (per-layer metrics, per-operation breakdown).

    `ops` are the traced operations (top-level spans); a job whose group
    is `group_prefix` + op id belongs to that op, and a job with no group
    belongs to the longest op whose span contains its submission time.
    """
    jobs, stage_job, stage_sub, stage_py = {}, {}, {}, set()
    tasks = []
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            sub = e["Submission Time"] / 1000.0
            if t0 <= sub <= t1:
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                jobs[e["Job ID"]] = {"sub": sub, "end": None, "group": group}
                for sid in e.get("Stage IDs", []):
                    stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            stage_sub[key] = (info.get("Submission Time") or 0) / 1000.0
            names = " ".join(str(r.get("Scope", "")) + " " + str(r.get("Name", ""))
                             for r in info.get("RDD Info", []))
            if _PYTHON_OPS.search(names):
                stage_py.add(key)
        elif kind == "SparkListenerTaskEnd" and e.get("Stage ID") in stage_job:
            tasks.append(e)

    by_id = {op["id"]: op for op in ops}
    window_attributed = 0
    for job in jobs.values():
        op = None
        if job["group"] and job["group"].startswith(group_prefix):
            op = by_id.get(int(job["group"][len(group_prefix):]))
        elif job["group"] is None:
            inside = [o for o in ops if o["start"] <= job["sub"] <= o["end"]]
            if inside:
                op = max(inside, key=lambda o: o["dur"])
                window_attributed += 1
        job["op"] = op

    per_op: dict[str, Counter] = defaultdict(Counter)
    totals: Counter = Counter()
    stages = set()
    for t in tasks:
        info, m = t.get("Task Info", {}), t.get("Task Metrics") or {}
        key = (t["Stage ID"], t.get("Stage Attempt ID", 0))
        stages.add(key)
        run_s = m.get("Executor Run Time", 0) / 1000.0
        wait = info.get("Launch Time", 0) / 1000.0 - stage_sub.get(key, 0)
        sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
        c = Counter({
            "tasks": 1,
            "tasks_failed": int(bool(info.get("Failed"))
                                or t.get("Task End Reason", {}).get("Reason")
                                not in (None, "Success")),
            "run_s": run_s,
            "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
            "gc_s": m.get("JVM GC Time", 0) / 1000.0,
            "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
            + sr.get("Local Bytes Read", 0),
            "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
            "spill_bytes": m.get("Memory Bytes Spilled", 0)
            + m.get("Disk Bytes Spilled", 0),
            "python_run_s": run_s if key in stage_py else 0.0,
            "task_wait_s": max(wait, 0.0) if key in stage_sub else 0.0,
        })
        totals.update(c)
        op = jobs[stage_job[t["Stage ID"]]]["op"]
        per_op[op["name"] if op else "(unattributed)"].update(c)

    intervals = sorted((j["sub"], j["end"] or j["sub"]) for j in jobs.values())
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in intervals:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    for job in jobs.values():
        name = job["op"]["name"] if job["op"] else "(unattributed)"
        per_op[name]["jobs"] += 1

    wall = max(t1 - t0, 1e-9)
    return {
        "spark.action_s": busy,
        "spark.executor.run_s": totals["run_s"],
        "spark.executor.cpu_s": totals["cpu_s"],
        "spark.executor.gc_s": totals["gc_s"],
        "spark.shuffle.write_bytes": totals["shuffle_write_bytes"],
        "spark.shuffle.read_bytes": totals["shuffle_read_bytes"],
        "spark.spill_bytes": totals["spill_bytes"],
        "spark.python_worker.run_s": totals["python_run_s"],
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": totals["tasks"],
        "spark.tasks_failed": totals["tasks_failed"],
        "spark.slot_util": totals["run_s"] / (wall * cores),
        "spark.scheduler.task_wait_s": totals["task_wait_s"],
        "spark.jobs_window_attributed": window_attributed,
    }, {k: {m: round(v, 6) for m, v in c.items()} for k, c in per_op.items()}
