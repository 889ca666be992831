"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload rul_automl --seed 1 --seconds 10 --trace 0

Workloads (see rul.py and query_mix.py):
  rul_automl  the C-MAPSS RUL demo session over HTTP, with two open-loop
              users profiling a second task while the model trains
  query_mix   the cheapest registry query of every operator module plus
              staging writers, on seeded tables, two passes in one
              long-lived session

Inputs are generated from --seed inside the checkout (.bench_work/), and
the program is imported from the checkout's own sources. Each workload
measures a fixed amount of work (one demo session; two passes over the
queries), so runs compare like for like; --seconds is accepted for the
common interface and not used. The last line
of standard output is one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with --trace 0, the
per-layer metrics from a traced run with --trace 1. The line before it
is a report: every figure the workload measures by name, with unit and
sample count, the failed operations, the generated inputs and the pinned
run environment. `correct` is false only when an operation returned a
wrong output; an operation that errors counts in `failed`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

WORKLOADS = ("rul_automl", "query_mix")
SETUPS = 3  # set-ups per run; setup_s is their median

END_TO_END_UNITS = {"setup_s": "s", "wall_s": "s", "op_geomean_ms": "ms",
                    "peak_rss_mb": "MB"}
PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "sources.readers.read_any_s": "s",
    "api.self_s": "s",
    "operators.profile.busy_s": "s",
    "operators.profile.calls": "count",
    "ml.automl.automl_s": "s",
    "ml.automl.fits": "count",
    "operators.evaluation.busy_s": "s",
    "registry.build_s": "s",
    "spark.catalyst.plan_s": "s",
    "spark.action_s": "s",
    "spark.executor.run_s": "s",
    "spark.executor.cpu_s": "s",
    "spark.executor.gc_s": "s",
    "spark.shuffle.write_bytes": "bytes",
    "spark.shuffle.read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.python_worker.run_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "spark.slot_util": "ratio",
    "spark.scheduler.task_wait_s": "s",
    "spark.jobs_window_attributed": "count",
    "spark.cache.residual_rdds": "count",
    "tracing.overhead_s": "s",
}


def install_tracer(tracer, spark) -> None:
    """Wrap the program's public layer boundaries (program files are not
    changed; the wrappers live only in this process)."""
    from pyspark.ml import Pipeline

    from auto_ml_platform_with_timeseries_data_spark.api import ApiServer
    from auto_ml_platform_with_timeseries_data_spark.catalog import Task
    from auto_ml_platform_with_timeseries_data_spark.ml import automl
    from auto_ml_platform_with_timeseries_data_spark.operators import evaluation, profile
    from auto_ml_platform_with_timeseries_data_spark.sources import readers

    def job_group(span):
        spark.sparkContext.setJobGroup(
            f"{harness.JOB_GROUP_PREFIX}{span['op']}", span["name"])

    for fn in sorted({*ApiServer._GET.values(), *ApiServer._POST.values()}):
        tracer.wrap(ApiServer, fn, "api", on_enter=job_group)
    for fn in ("ingest", "ingest_test", "preview", "pre_analyze",
               "set_supervised_options", "histogram", "correlation", "acf",
               "ts_lines", "train", "evaluate"):
        tracer.wrap(Task, fn, "catalog.Task")
    tracer.wrap(readers, "read_any", "sources.readers.read_any")
    tracer.wrap_module(profile, "operators.profile")
    tracer.wrap_module(evaluation, "operators.evaluation")
    tracer.wrap(automl, "automl", "ml.automl")
    tracer.wrap(Pipeline, "_fit", "ml.automl.fit")
    tracer.job_group = job_group


def shutdown() -> None:
    """Stop the active Spark context, then the driver JVM, and wait for
    the JVM to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits at end of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def layer_metrics(tracer, spark_metrics: dict, get_spark_s: float,
                  residual: int) -> dict:
    prof_s, prof_calls = tracer.busy("operators.profile")
    fits = sum(1 for s in tracer.spans if s["layer"] == "ml.automl.fit")
    out = {
        "session.get_spark_s": get_spark_s,
        "sources.readers.read_any_s": tracer.busy("sources.readers.read_any")[0],
        "api.self_s": tracer.self_time("api", "catalog.Task"),
        "operators.profile.busy_s": prof_s,
        "operators.profile.calls": prof_calls,
        "ml.automl.automl_s": tracer.busy("ml.automl")[0],
        "ml.automl.fits": fits,
        "operators.evaluation.busy_s": tracer.busy("operators.evaluation")[0],
        "registry.build_s": tracer.busy("registry")[0],
        "spark.catalyst.plan_s": tracer.counts["spark.catalyst.plan_s"],
        "spark.cache.residual_rdds": residual,
        "tracing.overhead_s": tracer.overhead_s,
    }
    out.update(spark_metrics)
    return out


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


def run_rul(seed: int, seconds: int, tracer, work: str) -> dict:
    import rul

    setups, get_spark_times = [], []
    for i in range(SETUPS):
        t = time.perf_counter()
        spark, server, client, s, gs = rul.setup(seed, work)
        setups.append(time.perf_counter() - t)
        get_spark_times.append(gs)
        if i < SETUPS - 1:
            server.stop()
            spark.stop()
    expected_path = os.path.join(os.path.dirname(work), "rul_selection.json")
    expected = rul.load_expected(expected_path, seed)
    try:
        if tracer is not None:
            install_tracer(tracer, spark)
            tracer.enabled = True
        rdds0 = harness.persistent_rdds(spark)
        t0 = time.time()
        m = rul.measure(client, s, expected)
        t1 = time.time()
        if tracer is not None:
            tracer.enabled = False
        residual = harness.persistent_rdds(spark) - rdds0
        rss = harness.peak_rss_mb(spark)
    finally:
        server.stop()
    if m["test_rmse"] is not None and not any(e.get("wrong_output") for e in m["errors"]):
        rul.store_expected(expected_path, seed, m["family"], m["test_rmse"])
    ops = m["demo_interactive_s"] + m["users_s"]
    return {
        "attempted": m["attempted"], "errors": m["errors"],
        "metrics": {
            "setup_s": {"value": statistics.median(setups), "unit": "s",
                        "samples": len(setups)},
            "wall_s": {"value": m["wall_s"], "unit": "s", "samples": 1},
            "op_geomean_ms": harness.geomean_metric(ops),
            **harness.latency_metrics("op", ops),
            "peak_rss_mb": {"value": sum(rss.values()), "unit": "MB", "samples": 1},
            "train_s": {"value": m["train_s"], "unit": "s", "samples": 1},
            **harness.latency_metrics("interactive", m["demo_interactive_s"]),
            **harness.latency_metrics("users", m["users_s"]),
            **harness.latency_metrics("late", m["lateness_s"]),
            "test_rmse": {"value": m["test_rmse"], "unit": "RUL_cycles",
                          "samples": 1},
        },
        "details": {
            "op": "every profiling request of the session: interactive and users",
            "interactive": "the demo client's profiling requests (closed loop)",
            "users": "the two open-loop users' previews during training, "
                     "timed from due time",
            "family": m["family"], "train_mean_rmse": m["mean_rmse"],
            "earlier_selection": expected, "f1_at_100": m["f1"],
            "per_endpoint_s": m["per_endpoint_s"], "setups_s": setups,
            "peak_rss_by_process_mb": rss,
            "inputs": s.inputs,
        },
        "window": (t0, t1), "get_spark_s": statistics.median(get_spark_times),
        "residual_rdds": residual,
    }


def run_query_mix(seed: int, seconds: int, tracer, work: str) -> dict:
    import query_mix as qm

    from auto_ml_platform_with_timeseries_data_spark import registry
    from auto_ml_platform_with_timeseries_data_spark import session as sess

    qs, oracles = registry.queries(), registry.oracles()
    setups, get_spark_times = [], []
    for i in range(SETUPS):
        t = time.perf_counter()
        spark = sess.get_spark()
        get_spark_times.append(time.perf_counter() - t)
        s = qm.Session(seed, work)
        for name in qm.WARMUP:
            qm.run_query(spark, qs[name], s.data, None)
        setups.append(time.perf_counter() - t)
        if i < SETUPS - 1:
            spark.stop()
    sys.path.insert(0, os.path.join(harness.ROOT, "scripts"))
    errors, latencies, passes, per_query = [], [], [], {}
    first: dict[str, tuple] = {}
    attempted = residual = 0
    if tracer is not None:
        install_tracer(tracer, spark)
        tracer.enabled = True
    rdds_before = harness.persistent_rdds(spark)
    t0 = time.time()
    # Every query runs PASSES times: its first run in the session pays
    # one-time costs (module imports, code generation, JIT), the later
    # ones show its steady cost. Timing both makes a run long enough that
    # a short host stall moves it little.
    for _ in range(qm.PASSES):
        pass_s = 0.0
        for name in s.names:
            attempted += 1
            span = tracer.begin("op", name) if tracer else None
            if span is not None:
                tracer.job_group(span)
                r0 = harness.persistent_rdds(spark)
            try:
                pdf, dt = qm.run_query(spark, qs[name], s.data, tracer)
            except Exception as e:  # a failed query is a failed operation
                errors.append({"op": name, "error": f"{type(e).__name__}: {str(e)[:160]}"})
                continue
            finally:
                if span is not None:
                    tracer.end(span)
                    residual += harness.persistent_rdds(spark) - r0
            latencies.append(dt)
            per_query.setdefault(name, []).append(dt)
            pass_s += dt
            problem = qm.check(name, pdf, first, oracles, s.duck)
            if problem:
                errors.append({"op": name, "error": problem, "wrong_output": True})
        passes.append(pass_s)
    t1 = time.time()
    if tracer is not None:
        tracer.enabled = False
    else:
        residual = harness.persistent_rdds(spark) - rdds_before
    rss = harness.peak_rss_mb(spark)
    return {
        "attempted": attempted, "errors": errors,
        "metrics": {
            "setup_s": {"value": statistics.median(setups), "unit": "s",
                        "samples": len(setups)},
            "wall_s": {"value": sum(passes), "unit": "s", "samples": len(passes)},
            "op_geomean_ms": harness.geomean_metric(latencies),
            **harness.latency_metrics("query", latencies),
            "peak_rss_mb": {"value": sum(rss.values()), "unit": "MB", "samples": 1},
        },
        "details": {
            "op": "one registry query: build and collect",
            "wall": f"{qm.PASSES} passes over the queries in a fresh session",
            "per_query_s": per_query,
            "passes_s": passes,
            "oracle_checked": sorted(n for n in first if n in oracles),
            "setups_s": setups,
            "peak_rss_by_process_mb": rss,
            "inputs": s.inputs,
        },
        "window": (t0, t1), "get_spark_s": statistics.median(get_spark_times),
        "residual_rdds": residual,
    }


# ---------------------------------------------------------------------------


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.perf_counter()

    bench_root = os.path.join(harness.ROOT, ".bench_work")
    work = os.path.join(bench_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    harness.pin_environment(work, bool(args.trace))
    sys.path.insert(0, harness.ROOT)
    try:
        import auto_ml_platform_with_timeseries_data_spark as program
        problem = (None if program.__file__.startswith(harness.ROOT + os.sep)
                   else f"found {program.__file__} instead")
    except ImportError as e:
        problem = str(e)
    if problem:
        print(f"perfbench: the program is not importable from {harness.ROOT}: {problem}",
              file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    env = harness.describe_environment(args.seed)
    # Spark's console logging goes to a file; the real stderr is kept for
    # the benchmark's own error report.
    stderr_log = os.path.join(work, "stderr.log")
    saved = os.dup(2)
    with open(stderr_log, "w") as f:
        os.dup2(f.fileno(), 2)
    tracer = None
    if args.trace:
        from spans import Tracer

        tracer = Tracer()
    try:
        run = run_rul if args.workload == "rul_automl" else run_query_mix
        res = run(args.seed, args.seconds, tracer, work)
        shutdown()  # flushes the event log
        if tracer is not None:
            from spans import read_event_log, spark_layers

            ops = [s for s in tracer.spans if s["layer"] in ("api", "op")]
            spark_m, per_op = spark_layers(
                read_event_log(os.path.join(work, "eventlog")), *res["window"],
                int(env["SPARK_GRAFT_CPUS"]), ops, harness.JOB_GROUP_PREFIX)
            layers = layer_metrics(tracer, spark_m, res["get_spark_s"],
                                   res["residual_rdds"])
            res["details"]["per_op_spark"] = per_op
            metrics = {k: {"value": layers[k], "unit": u}
                       for k, u in PER_LAYER_UNITS.items()}
        else:
            metrics = {k: {"value": res["metrics"][k]["value"], "unit": u}
                       for k, u in END_TO_END_UNITS.items()}
    except Exception:
        shutdown()
        os.dup2(saved, 2)
        traceback.print_exc()
        try:
            with open(stderr_log) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
        except OSError:
            pass
        shutil.rmtree(work, ignore_errors=True)
        return 1
    os.dup2(saved, 2)
    os.close(saved)
    shutil.rmtree(work, ignore_errors=True)

    failed = len(res["errors"])  # at most one error per operation
    res["metrics"]["failed_frac"] = {"value": failed / res["attempted"],
                                     "unit": "ratio", "samples": res["attempted"]}
    report = {"workload": args.workload, "trace": args.trace,
              "seconds": args.seconds, "environment": env,
              "metrics": res["metrics"], "errors": res["errors"],
              **res["details"], "run_s": time.perf_counter() - started}
    print(json.dumps(report, default=str))
    print(json.dumps({"correct": not any(e.get("wrong_output") for e in res["errors"]),
                      "attempted": res["attempted"], "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
