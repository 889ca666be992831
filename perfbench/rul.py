"""Workload `rul_automl`: the reference's own demo session over HTTP.

One demo client, closed loop, drives api.ApiServer through the C-MAPSS
RUL flow: upload, preview, pre-analyze, supervised options, a histogram
and a scatter for every sensor, the label correlation, AutoML training
(fast grid), test upload and evaluation at RUL threshold 100. While the
model trains, two independent users preview a second, already-ingested
task on a fixed open-loop schedule; their latency is timed from each
request's due time, and the generator's lateness is recorded. The
end-to-end op latency of this workload covers every profiling request,
the demo client's and theirs; theirs shows how long a small interactive
job waits while training holds the cores. Each user sends a
fixed number of requests from the start of training, so the operation
count does not depend on how long training takes.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time

import numpy as np

import cmapss
import harness

UNITS = 20
USERS = 2
USER_PERIOD_S = 0.8  # each user sends one request per period
# Requests per user: a fixed count, so that every run attempts the same
# number of operations. Their schedule (20 s) ends before the fast-grid
# training does (26-30 s on a 4-core host), so every request meets it.
USER_REQUESTS = 25
THRESHOLD = 100
WARMUP_COLUMNS = ("sensor_2",)


class Session:
    """Inputs, server and expected values for one seed."""

    def __init__(self, seed: int, work: str) -> None:
        train, test = cmapss.generate(seed, UNITS)
        self.train_csv = os.path.join(work, "train_FD001.csv")
        self.test_csv = os.path.join(work, "test_FD001.csv")
        self.inputs = {
            "train_FD001.csv": {"rows": len(train),
                                "bytes": cmapss.write_csv(train, self.train_csv)},
            "test_FD001.csv": {"rows": len(test),
                               "bytes": cmapss.write_csv(test, self.test_csv)},
        }
        label = cmapss.COLUMNS.index("RUL")
        self.train_rows, self.test_rows = len(train), len(test)
        self.mean_rmse = float(np.sqrt(np.mean(
            (test[:, label] - train[:, label].mean()) ** 2)))
        self.storage = os.path.join(work, "task_storage")


def _checked(errors: list, name: str, code: int, body: dict, check) -> bool:
    """Record an error for a non-200 response or a failed output check."""
    if code != 200:
        errors.append({"op": name, "error": f"HTTP {code}: {body.get('error', '')[:160]}"})
        return False
    try:
        problem = check(body)
    except (KeyError, TypeError, ValueError, IndexError) as e:
        problem = f"malformed response: {type(e).__name__}: {e}"
    if problem:
        errors.append({"op": name, "error": problem, "wrong_output": True})
        return False
    return True


def _histogram_ok(rows: int):
    def check(body):
        bins = body["histogram"]
        if not bins or set(bins[0]) != {"bin", "bin_lo", "bin_hi", "cnt"}:
            return "histogram schema"
        if sum(b["cnt"] for b in bins) != rows:
            return "histogram counts do not sum to the row count"
    return check


def _scatter_ok(rows: int, feature: str):
    def check(body):
        pts = body["scatter"]
        if len(pts) != rows or set(pts[0]) != {feature, "RUL"}:
            return "scatter schema or length"
    return check


def _preview_ok(body):
    return None if len(body["rows"]) == 5 else "preview length"


class Users:
    """Open-loop traffic from independent users: each previews the users'
    task once per USER_PERIOD_S, USER_REQUESTS times."""

    def __init__(self, client: harness.Client) -> None:
        self.client = client
        self.latencies: list[float] = []
        self.lateness: list[float] = []
        self.errors: list[dict] = []
        self.attempted = 0
        self._lock = threading.Lock()
        self._threads: list[threading.Thread] = []

    def _user(self, t0: float) -> None:
        for k in range(USER_REQUESTS):
            due = t0 + k * USER_PERIOD_S
            time.sleep(max(due - time.perf_counter(), 0.0))
            sent = time.perf_counter()
            code, out = self.client.call("GET", "/display-data", {"taskname": "users"})
            done = time.perf_counter()
            ok = _checked(errs := [], "/display-data", code, out, _preview_ok)
            with self._lock:
                self.attempted += 1
                self.lateness.append(sent - due)
                if ok:
                    self.latencies.append(done - due)
                self.errors.extend(errs)

    def start(self) -> None:
        t0 = time.perf_counter()
        for u in range(USERS):
            # users' schedules are offset by an equal share of the period
            t = threading.Thread(target=self._user,
                                 args=(t0 + u * USER_PERIOD_S / USERS,),
                                 name=f"user-{u}", daemon=True)
            t.start()
            self._threads.append(t)

    def join(self) -> None:
        for t in self._threads:
            t.join(timeout=170)


def setup(seed: int, work: str) -> tuple:
    """Start the session and server, generate inputs, ingest the users'
    task and warm the profiling path. Returns (spark, server, client,
    session, get_spark seconds)."""
    from auto_ml_platform_with_timeseries_data_spark import session as sess
    from auto_ml_platform_with_timeseries_data_spark.api import ApiServer

    t = time.perf_counter()
    spark = sess.get_spark()
    get_spark_s = time.perf_counter() - t
    s = Session(seed, work)
    server = ApiServer(spark, storage_dir=s.storage)
    client = harness.Client(server.start())
    for path, body in (("/upload", {"train_data_path": s.train_csv}),
                       ("/pre-analyze", {}),
                       ("/set-supervised-options",
                        {"label": "RUL", "excluded_features": ["unit", "cycle"]}),
                       ("/display-data", {}),
                       *[("/generate_histogram", {"column": c}) for c in WARMUP_COLUMNS],
                       *[("/generate_scatter", {"feature": c}) for c in WARMUP_COLUMNS]):
        method = "GET" if path in server._GET else "POST"
        code, out = client.call(method, path, dict(body, taskname="users"))
        if code != 200:
            raise RuntimeError(f"warm-up {path} failed: {out}")
    return spark, server, client, s, get_spark_s


def measure(client: harness.Client, s: Session, expected: dict | None) -> dict:
    """One demo session with the users' traffic during training."""
    errors: list[dict] = []
    lat: dict[str, list[float]] = {}
    attempted = 0
    task = {"taskname": "demo"}

    def call(method, path, body, check):
        nonlocal attempted
        attempted += 1
        t = time.perf_counter()
        code, out = client.call(method, path, dict(body, **task))
        dt = time.perf_counter() - t
        if _checked(errors, path, code, out, check):
            lat.setdefault(path, []).append(dt)
        return code, out

    columns = cmapss.COLUMNS
    t0 = time.perf_counter()
    call("POST", "/upload", {"train_data_path": s.train_csv},
         lambda b: None if b["columns"] == columns else "upload columns")
    call("GET", "/display-data", {},
         lambda b: None if len(b["rows"]) == 5 and list(b["rows"][0]) == columns
         else "preview schema")
    call("GET", "/pre-analyze", {},
         lambda b: None if b["nan_columns"] == [cmapss.NAN_COLUMN] else "nan columns")
    call("POST", "/set-supervised-options",
         {"label": "RUL", "excluded_features": ["unit", "cycle"]},
         lambda b: None if b["effective_excluded"] == sorted(
             ["unit", "cycle", cmapss.NAN_COLUMN]) else "effective excluded")
    for col in cmapss.SENSORS:
        call("GET", "/generate_histogram", {"column": col}, _histogram_ok(s.train_rows))
        call("GET", "/generate_scatter", {"feature": col}, _scatter_ok(s.train_rows, col))
    features = cmapss.SETTINGS + cmapss.SENSORS
    call("GET", "/generate_correlation", {},
         lambda b: None if sorted(r["feature"] for r in b["correlation"])
         == sorted(features) else "correlation features")
    call("POST", "/start_ml", {"mode": "regression"},
         lambda b: None if b["label"] == "RUL" and b["mode"] == "regression"
         else "start_ml echo")

    users = Users(client)
    users.start()
    t_train = time.perf_counter()
    _, trained = call("POST", "/confirm_training", {"fast": True},
                      lambda b: None if sum(f["is_best"] for f in b["families"]) == 1
                      and all(math.isfinite(f["cv_metric"]) for f in b["families"])
                      else "training result")
    train_s = time.perf_counter() - t_train
    users.join()

    call("POST", "/upload-test-data", {"test_data_path": s.test_csv},
         lambda b: None if b["columns"] == columns else "test columns")
    best = next((f["family"] for f in trained.get("families", []) if f["is_best"]), None)

    def evaluate_ok(b):
        c = b["confusion"]
        if c["tp"] + c["fp"] + c["fn"] + c["tn"] != s.test_rows:
            return "confusion counts do not sum to the test rows"
        if not 0.0 <= b["f1"] <= 1.0:
            return "f1 outside [0, 1]"
        if not b["rmse"] < s.mean_rmse:
            return f"test RMSE {b['rmse']} does not beat the train-mean RMSE {s.mean_rmse:.4f}"
        if expected and (expected["family"], expected["rmse"]) != (best, b["rmse"]):
            return f"selection {best}/{b['rmse']} differs from an earlier pass {expected}"
    _, evaluated = call("POST", "/evaluate", {"threshold": THRESHOLD}, evaluate_ok)
    wall_s = time.perf_counter() - t0

    demo_interactive = [x for p in ("/display-data", "/generate_histogram",
                                    "/generate_scatter", "/generate_correlation")
                        for x in lat.get(p, [])]
    return {
        "wall_s": wall_s,
        "train_s": train_s,
        "attempted": attempted + users.attempted,
        "errors": errors + users.errors,
        "demo_interactive_s": demo_interactive,
        "users_s": users.latencies,
        "lateness_s": users.lateness,
        "family": best,
        "test_rmse": evaluated.get("rmse"),
        "f1": evaluated.get("f1"),
        "mean_rmse": s.mean_rmse,
        "per_endpoint_s": {p: sum(v) for p, v in lat.items()},
    }


def load_expected(path: str, seed: int) -> dict | None:
    try:
        with open(path) as f:
            return json.load(f).get(str(seed))
    except (OSError, ValueError):
        return None


def store_expected(path: str, seed: int, family: str, rmse: float) -> None:
    try:
        with open(path) as f:
            known = json.load(f)
    except (OSError, ValueError):
        known = {}
    known.setdefault(str(seed), {"family": family, "rmse": rmse})
    with open(path, "w") as f:
        json.dump(known, f)
