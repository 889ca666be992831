"""HTTP layer E2E (SURVEY.md §2.12): the reference's 10-endpoint flow
(upload → preview → pre-analyze → options → visualization data →
start_ml → confirm_training → upload-test-data → evaluate) driven over
real HTTP against the stdlib server, on a CSV written from the
fixtures."""

from __future__ import annotations

import json
import urllib.request

import pytest

from auto_ml_platform_with_timeseries_data_spark.api import ApiServer
from auto_ml_platform_with_timeseries_data_spark.tables import load_table


def _call(port: int, path: str, body: dict | None = None) -> dict:
    url = f"http://127.0.0.1:{port}{path}"
    if body is None:
        req = urllib.request.Request(url)
    else:
        req = urllib.request.Request(
            url, data=json.dumps(body).encode(),
            headers={"Content-Type": "application/json"})
    with urllib.request.urlopen(req, timeout=120) as r:
        return json.loads(r.read())


@pytest.fixture(scope="module")
def csvs(spark, sf_dir, tmp_path_factory):
    """Train/test CSVs from lineitem (the C-MAPSS-shaped stand-in), with
    an all-null column so /pre-analyze has something to drop."""
    from pyspark.sql import functions as F

    base = tmp_path_factory.mktemp("api_csv")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_quantity", "l_discount", "l_tax", "l_extendedprice")
        .withColumn("all_null", F.lit(None).cast("double"))
        .limit(400)
    )
    train, test = str(base / "train.csv"), str(base / "test.csv")
    li.limit(300).toPandas().to_csv(train, index=False)
    li.toPandas().tail(100).to_csv(test, index=False)
    return train, test


def test_api_full_flow(spark, csvs):
    train_csv, test_csv = csvs
    server = ApiServer(spark)
    port = server.start()
    try:
        up = _call(port, "/upload",
                   {"taskname": "t1", "train_data_path": train_csv})
        assert "l_extendedprice" in up["columns"]

        head = _call(port, "/display-data?taskname=t1")
        assert len(head["rows"]) == 5

        pre = _call(port, "/pre-analyze?taskname=t1")
        assert pre["nan_columns"] == ["all_null"]      # data_analysis.py:25

        opts = _call(port, "/set-supervised-options",
                     {"taskname": "t1", "label": "l_extendedprice",
                      "excluded_features": ["l_tax"]})
        assert opts["effective_excluded"] == ["all_null", "l_tax"]  # app.py:148

        hist = _call(port, "/generate_histogram?taskname=t1&column=l_quantity&bins=5")
        assert len(hist["histogram"]) == 5

        corr = _call(port, "/generate_correlation?taskname=t1")
        assert {r["feature"] for r in corr["correlation"]} == {
            "l_quantity", "l_discount"}

        ml = _call(port, "/start_ml", {"taskname": "t1", "mode": "regression"})
        assert ml["mode"] == "regression"

        trained = _call(port, "/confirm_training", {"taskname": "t1"})
        assert sum(f["is_best"] for f in trained["families"]) == 1

        _call(port, "/upload-test-data",
              {"taskname": "t1", "test_data_path": test_csv})

        ev = _call(port, "/evaluate",
                   {"taskname": "t1", "threshold": 30000.0})
        assert ev["rmse"] > 0
        conf = ev["confusion"]
        assert conf["tp"] + conf["fp"] + conf["fn"] + conf["tn"] == 100
        assert 0.0 <= ev["f1"] <= 1.0

        # second task doesn't clobber the first (the reference's global-
        # state bug, fixed by design)
        _call(port, "/upload",
              {"taskname": "t2", "train_data_path": test_csv})
        again = _call(port, "/display-data?taskname=t1")
        assert len(again["rows"]) == 5
    finally:
        server.stop()


def _persistent(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def test_upload_profile_serves_preview_and_pre_analyze_without_jobs(
        spark, csvs, jobs_started):
    """The upload's ingest profile answers the preview and the all-NaN
    check with no Spark job, and a histogram runs only its bucket
    aggregate. Endpoints are called on this thread so that the job
    group sees their jobs."""
    train_csv, _ = csvs
    server = ApiServer(spark)
    try:
        server.upload({"taskname": "p", "train_data_path": train_csv})
        t = {"taskname": "p"}
        out = {}
        assert jobs_started("api-preview",
                            lambda: out.update(server.display_data(t))) == 0
        assert len(out["rows"]) == 5
        assert jobs_started("api-pre-analyze",
                            lambda: out.update(server.pre_analyze(t))) == 0
        assert out["nan_columns"] == ["all_null"]
        assert jobs_started("api-histogram", lambda: out.update(
            server.generate_histogram(dict(t, column="l_quantity")))) <= 2
        assert sum(b["cnt"] for b in out["histogram"]) == 300
        hist = server.tasks["p"].histogram("l_quantity")
        plan = hist._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan
    finally:
        server.stop()


def test_reupload_replaces_the_profile_and_stop_frees_every_upload(
        spark, csvs, tmp_path):
    """A re-upload to the same task serves the new file's preview, nan
    columns and histogram and frees the old upload; the preview follows
    dropped columns; stop() frees every task's upload."""
    import pandas as pd

    train_csv, test_csv = csvs
    other = str(tmp_path / "other.csv")
    pd.DataFrame({"l_quantity": [100.0 + i for i in range(8)],
                  "k": list(range(8)), "empty": [None] * 8}).to_csv(
        other, index=False)
    before = _persistent(spark)
    server = ApiServer(spark)
    try:
        server.upload({"taskname": "r", "train_data_path": train_csv})
        server.upload({"taskname": "s", "train_data_path": test_csv})
        assert _persistent(spark) == before + 2
        t = {"taskname": "r"}
        first = (server.display_data(t)["rows"],
                 server.pre_analyze(t)["nan_columns"],
                 server.generate_histogram(dict(t, column="l_quantity")))
        server.set_supervised_options(
            dict(t, label="l_extendedprice", excluded_features=["l_tax"]))
        assert set(server.display_data(t)["rows"][0]) == {
            "l_quantity", "l_discount", "l_extendedprice"}

        server.upload(dict(t, train_data_path=other))
        assert _persistent(spark) == before + 2
        rows = server.display_data(t)["rows"]
        assert rows != first[0]
        assert rows[0] == {"l_quantity": 100.0, "k": 0, "empty": None}
        assert server.pre_analyze(t)["nan_columns"] == ["empty"] != first[1]
        hist = server.generate_histogram(dict(t, column="l_quantity"))
        assert hist != first[2]
        assert sum(b["cnt"] for b in hist["histogram"]) == 8
        assert min(b["bin_lo"] for b in hist["histogram"]) == 100.0
    finally:
        server.stop()
    assert _persistent(spark) == before


def test_api_errors(spark):
    server = ApiServer(spark)
    port = server.start()
    try:
        with pytest.raises(urllib.error.HTTPError) as ei:
            _call(port, "/display-data?taskname=ghost")
        assert ei.value.code == 500                     # no data ingested
        with pytest.raises(urllib.error.HTTPError) as ei:
            _call(port, "/nope")
        assert ei.value.code == 404
    finally:
        server.stop()


def test_api_time_series_branch(spark, tmp_path):
    """The TS visualization endpoints (app.py:98/:115 branches): grouped
    series data and ACF come back instead of histogram/scatter when
    is_time_series is set."""
    from pyspark.sql import functions as F

    from auto_ml_platform_with_timeseries_data_spark.tables import load_table

    ev = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .filter(F.col("user_id") <= 5)
        .select("user_id", F.col("ts").cast("string").alias("date"), "value")
    )
    csv = str(tmp_path / "ts.csv")
    ev.toPandas().to_csv(csv, index=False)

    server = ApiServer(spark)
    port = server.start()
    try:
        _call(port, "/upload", {"taskname": "ts1", "train_data_path": csv})
        _call(port, "/set-supervised-options",
              {"taskname": "ts1", "label": "value", "is_time_series": True,
               "group_by": "user_id", "order_by": "date"})
        lines = _call(port, "/generate_histogram?taskname=ts1&features=value")
        assert {r["user_id"] for r in lines["ts_lines"]} <= set(range(6))
        acf = _call(port, "/generate_scatter?taskname=ts1&feature=value&max_lag=5")
        rows = acf["acf"]
        assert len(rows) > 0
        lag0 = [r for r in rows if r["lag"] == 0]
        assert all(abs(r["acf"] - 1.0) < 1e-6 for r in lag0)  # acf(0) = 1
    finally:
        server.stop()
