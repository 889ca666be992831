"""Thin HTTP layer mirroring the reference's 10 endpoints (SURVEY.md
§2.12; app.py:19-207) over the Task API — endpoint-for-endpoint parity.

Differences by design:
- stdlib http.server + JSON bodies (Flask isn't in this image; multipart
  uploads become {"train_data_path": ...} referencing files already on
  disk — the reference saves uploads to disk and reads them back anyway,
  app.py:49 → data_analysis.py:18).
- Responses carry the NUMBERS behind each plot (histogram bins, ACF
  values, correlation series) instead of PNG files; rendering is
  presentation, not engine (SURVEY §1.1 "Result artifacts").
- Tasks are keyed by taskname — concurrent tasks can't clobber each
  other the way the reference's single global DataAnalysis object does
  (app.py:17), and models are per-task (auto_machine_learning.py:12's
  global cache bug, fixed by design).

Usage:
    server = ApiServer(spark)
    port = server.start()          # background thread
    ... POST http://localhost:{port}/upload ...
    server.stop()                  # also frees every task's kept upload
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import SparkSession

from auto_ml_platform_with_timeseries_data_spark.catalog import Task


class ApiServer:
    def __init__(self, spark: SparkSession, storage_dir: str = "task_storage"):
        self.spark = spark
        self.storage_dir = storage_dir
        self.tasks: dict[str, Task] = {}
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    # -- endpoint implementations (name → reference endpoint) ---------------

    def _task(self, params: dict) -> Task:
        name = params.get("taskname")
        if not name:
            raise ValueError("taskname required")
        if name not in self.tasks:
            self.tasks[name] = Task(self.spark, name, self.storage_dir)
        return self.tasks[name]

    def upload(self, body: dict) -> dict:                  # POST /upload
        task = self._task(body)
        task.ingest(body["train_data_path"])
        return {"taskname": task.config.taskname,
                "columns": task.df.columns}

    def display_data(self, params: dict) -> dict:          # GET /display-data
        task = self._task(params)
        pdf = task.preview()
        out = {"rows": json.loads(pdf.to_json(orient="records"))}
        if params.get("format") == "html":
            out["html"] = pdf.to_html()                    # app.py:58 parity
        return out

    def pre_analyze(self, params: dict) -> dict:           # GET /pre-analyze
        task = self._task(params)
        return {"nan_columns": task.pre_analyze()}

    def set_supervised_options(self, body: dict) -> dict:  # POST /set-supervised-options
        task = self._task(body)
        task.set_supervised_options(
            label=body["label"],
            excluded_features=body.get("excluded_features", []),
            is_time_series=bool(body.get("is_time_series", False)),
            group_by=body.get("group_by"),
            order_by=body.get("order_by"),
        )
        return {"effective_excluded": task.effective_excluded}

    def generate_histogram(self, params: dict) -> dict:    # GET /generate_histogram
        task = self._task(params)
        if task.config.is_time_series:                     # app.py:98 branch
            feats = params.get("features")
            cols = feats.split(",") if feats else task.feature_columns()[:1]
            pdf = task.ts_lines(cols).toPandas()
            return {"ts_lines": json.loads(pdf.to_json(orient="records"))}
        column = params["column"]
        pdf = task.histogram(column, int(params.get("bins", 10))).toPandas()
        return {"histogram": json.loads(pdf.to_json(orient="records"))}

    def generate_scatter(self, params: dict) -> dict:      # GET /generate_scatter
        task = self._task(params)
        if task.config.is_time_series:                     # app.py:115 branch
            pdf = task.acf(params["feature"],
                           int(params.get("max_lag", 10))).toPandas()
            return {"acf": json.loads(pdf.to_json(orient="records"))}
        feature = params["feature"]
        pdf = (task.df.select(feature, task.config.label)
               .toPandas())                                # scatter data
        return {"scatter": json.loads(pdf.to_json(orient="records"))}

    def generate_correlation(self, params: dict) -> dict:  # GET /generate_correlation
        task = self._task(params)
        pdf = task.correlation().toPandas()
        return {"correlation": json.loads(pdf.to_json(orient="records"))}

    def start_ml(self, body: dict) -> dict:                # POST /start_ml
        task = self._task(body)
        task.config.mode = body.get("mode", "regression")
        cfg = task.config                                  # app.py:142-156 echo
        return {"taskname": cfg.taskname, "label": cfg.label,
                "mode": cfg.mode, "is_time_series": cfg.is_time_series,
                "group_by": cfg.group_by,
                "excluded_features": task.effective_excluded}

    def confirm_training(self, body: dict) -> dict:        # POST /confirm_training
        task = self._task(body)
        result = task.train(mode=task.config.mode,
                            fast=bool(body.get("fast", True)))
        return {"families": [
            {"family": r.family, "params": {k: str(v) for k, v in r.best_params.items()},
             "cv_metric": r.cv_metric,
             "is_best": r.family == result.best.family}
            for r in result.all_results
        ]}

    def upload_test_data(self, body: dict) -> dict:        # POST /upload-test-data
        task = self._task(body)
        task.ingest_test(body["test_data_path"])
        return {"taskname": task.config.taskname,
                "columns": task.test_df.columns}

    def evaluate(self, body: dict) -> dict:                # POST /evaluate
        task = self._task(body)
        out = task.evaluate(threshold=body.get("threshold"))
        resp = {"rmse": out["rmse"].first()["rmse"]}   # 1-row DataFrame (A11)
        if "importances" in out:
            resp["importances"] = [
                {"feature": f, "importance": v} for f, v in out["importances"]
            ]
        if "f1_confusion" in out:
            row = out["f1_confusion"].first().asDict()   # tp fp fn tn f1
            resp["f1"] = row.pop("f1")
            resp["confusion"] = row
        return resp

    # -- plumbing -----------------------------------------------------------

    _GET = {"/display-data": "display_data", "/pre-analyze": "pre_analyze",
            "/generate_histogram": "generate_histogram",
            "/generate_scatter": "generate_scatter",
            "/generate_correlation": "generate_correlation"}
    _POST = {"/upload": "upload",
             "/set-supervised-options": "set_supervised_options",
             "/start_ml": "start_ml", "/confirm_training": "confirm_training",
             "/upload-test-data": "upload_test_data", "/evaluate": "evaluate"}

    def start(self, port: int = 0) -> int:
        server = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def _send(self, code: int, payload: dict) -> None:
                body = json.dumps(payload).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _dispatch(self, table: dict, params: dict) -> None:
                path = urlparse(self.path).path
                fn = table.get(path)
                if fn is None:
                    self._send(404, {"error": f"no route {path}"})
                    return
                try:
                    self._send(200, getattr(server, fn)(params))
                except KeyError as e:
                    self._send(400, {"error": f"missing field {e}"})
                except Exception as e:  # engine errors surface as 500 JSON
                    self._send(500, {"error": f"{type(e).__name__}: {e}"})

            def do_GET(self):
                q = parse_qs(urlparse(self.path).query)
                self._dispatch(Handler._get_table,
                               {k: v[0] for k, v in q.items()})

            def do_POST(self):
                n = int(self.headers.get("Content-Length", 0))
                body = json.loads(self.rfile.read(n) or b"{}")
                self._dispatch(Handler._post_table, body)

            _get_table = self._GET
            _post_table = self._POST

        self._httpd = ThreadingHTTPServer(("127.0.0.1", port), Handler)
        self._thread = threading.Thread(target=self._httpd.serve_forever,
                                        daemon=True)
        self._thread.start()
        return self._httpd.server_address[1]

    def stop(self) -> None:
        """Stop serving and free every task's kept upload."""
        if self._httpd:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None
        for task in self.tasks.values():
            task.release()
