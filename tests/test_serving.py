"""REST layer (S10) tests: real HTTP round-trips against the stdlib
server with a small fitted model, checking the reference's route
contract (`/root/reference/src/app.py:67-138`)."""

from __future__ import annotations

import json
import logging
import os
import sys
import threading
import urllib.request
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from bigdata_lab4_spark.engine import (
    _ARROW_PREDICTIONS_SCHEMA,
    PREDICTIONS_SCHEMA,
    _write_predictions_file,
    insert_prediction,
)
from bigdata_lab4_spark.ml.pipeline import (
    NEGATIVE,
    POSITIVE,
    SentimentPipeline,
)
from bigdata_lab4_spark.serving import SentimentAPI


def _call(port: int, method: str, path: str, body: dict | None = None):
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}",
        method=method,
        data=json.dumps(body).encode() if body is not None else None,
        headers={"Content-Type": "application/json"},
    )
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


@pytest.fixture(scope="module")
def tiny_model(spark):
    """A fast-to-fit model whose signal words are unambiguous, so
    route tests can assert exact sentiments."""
    rows = [
        (i, i % 2, ("great fine happy" if i % 2 else "awful sad bad") + f" filler{i % 7}")
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, ["id", "label", "text"])
    return SentimentPipeline(max_features=100, stop_words=None).fit(df)


@pytest.fixture()
def served(spark, tiny_model, tmp_path):
    api = SentimentAPI(spark, tiny_model, predictions_path=str(tmp_path / "preds"))
    server, _ = api.start_background()
    yield server.server_address[1]
    server.shutdown()


def test_predict_roundtrip_and_audit_trail(served, spark):
    port = served
    code, out = _call(port, "POST", "/predict/", {"message": "great happy day"})
    assert code == 200 and out == {"sentiment": POSITIVE}
    code, out = _call(port, "POST", "/predict/", {"message": "awful sad day"})
    assert code == 200 and out == {"sentiment": NEGATIVE}

    code, out = _call(port, "POST", "/predictions/?limit=10")
    assert code == 200
    preds = out["predictions"]
    assert len(preds) == 2
    # newest first, reference row shape
    assert set(preds[0]) == {"timestamp", "message", "prediction"}
    assert preds[0]["timestamp"] >= preds[1]["timestamp"]
    assert {p["prediction"] for p in preds} == {POSITIVE, NEGATIVE}

    code, out = _call(port, "POST", "/predictions/?limit=1")
    assert code == 200 and len(out["predictions"]) == 1


def test_empty_message_is_500_prediction_failed(served):
    code, out = _call(served, "POST", "/predict/", {"message": ""})
    assert code == 500 and out == {"detail": "Prediction failed"}


def test_health_ready_and_404(served):
    code, out = _call(served, "GET", "/health/")
    assert code == 200 and out == {
        "status": "healthy",
        "model_loaded": True,
        "database_connected": True,
    }
    code, out = _call(served, "GET", "/ready/")
    assert code == 200 and out == {"status": "OK"}
    code, _ = _call(served, "GET", "/nope/")
    assert code == 404


def test_no_store_mode(spark, tiny_model):
    api = SentimentAPI(spark, tiny_model, predictions_path=None)
    server, _ = api.start_background()
    port = server.server_address[1]
    try:
        code, out = _call(port, "GET", "/health/")
        assert code == 200 and out["database_connected"] is False
        # predictions unavailable → 503, like the reference without a DB
        code, out = _call(port, "POST", "/predictions/")
        assert code == 503 and out == {"detail": "Database not available"}
        # predict still works, store append skipped
        code, out = _call(port, "POST", "/predict/", {"message": "great happy"})
        assert code == 200 and out == {"sentiment": POSITIVE}
    finally:
        server.shutdown()


def test_invalid_limit_422_payloads_distinguish_type_and_range(served):
    """r22 (ADVICE): a non-integer limit is a type failure, a negative
    limit a range failure — both 422 but with self-consistent
    FastAPI-style msg/type fields, never a range error labeled
    type_error."""
    code, out = _call(served, "POST", "/predictions/?limit=abc")
    assert code == 422
    assert out["detail"][0]["type"] == "type_error.integer"
    code, out = _call(served, "POST", "/predictions/?limit=-1")
    assert code == 422
    assert out["detail"][0]["type"] == "value_error.number.not_ge"
    assert "greater than or equal" in out["detail"][0]["msg"]


def test_audit_failure_still_answers_and_is_counted(spark, tiny_model, tmp_path, caplog):
    """A store that cannot be written does not fail ``/predict`` (the
    reference answers 200 too), but the failure is logged and counted
    instead of being swallowed."""
    not_a_dir = tmp_path / "preds"
    not_a_dir.write_text("a regular file, not a parquet directory")
    api = SentimentAPI(spark, tiny_model, predictions_path=str(not_a_dir))
    server, _ = api.start_background()
    try:
        with caplog.at_level(logging.WARNING, logger="bigdata_lab4_spark.serving"):
            code, out = _call(server.server_address[1], "POST", "/predict/", {"message": "great happy"})
    finally:
        server.shutdown()
    assert code == 200 and out == {"sentiment": POSITIVE}
    assert api.audit_failures == 1
    warnings = [r for r in caplog.records if r.name == "bigdata_lab4_spark.serving"]
    assert len(warnings) == 1 and warnings[0].levelno == logging.WARNING


def test_concurrent_predicts_lose_no_audit_rows(spark, tiny_model, tmp_path):
    """4 clients x 25 ``/predict`` calls against one store keep every
    row. Each audit row is its own uniquely named file, so concurrent
    inserts share no state; the earlier Spark ``append`` write raced
    on the table's shared ``_temporary/0`` commit directory and lost
    acknowledged rows."""
    store = str(tmp_path / "preds")
    api = SentimentAPI(spark, tiny_model, predictions_path=store)
    server, _ = api.start_background()
    port = server.server_address[1]
    clients, calls = 4, 25
    failures: list = []

    def client(c: int) -> None:
        for i in range(calls):
            code, out = _call(port, "POST", "/predict/", {"message": f"great happy {c}-{i}"})
            if (code, out) != (200, {"sentiment": POSITIVE}):
                failures.append((c, i, code, out))

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=client, args=(c,)) for c in range(clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
        code, out = _call(port, "POST", "/predictions/?limit=10")
    finally:
        sys.setswitchinterval(switch)
        server.shutdown()
    assert failures == [] and api.audit_failures == 0
    stored = [r["message"] for r in spark.read.parquet(store).collect()]
    assert len(stored) == clients * calls
    assert set(stored) == {f"great happy {c}-{i}" for c in range(clients) for i in range(calls)}
    assert code == 200
    ts = [p["timestamp"] for p in out["predictions"]]
    assert len(ts) == 10 and ts == sorted(ts, reverse=True)


def test_predictions_before_first_predict_is_empty_not_500(spark, tiny_model, tmp_path):
    """A store no ``/predict`` has written yet reads as an empty table,
    as the reference's table created at startup does; a store path that
    cannot be read still answers 500."""
    api = SentimentAPI(spark, tiny_model, predictions_path=str(tmp_path / "not" / "yet"))
    not_a_dir = tmp_path / "preds"
    not_a_dir.write_text("a regular file, not a parquet directory")
    broken = SentimentAPI(spark, tiny_model, predictions_path=str(not_a_dir))
    servers = [api.start_background()[0], broken.start_background()[0]]
    try:
        code, out = _call(servers[0].server_address[1], "POST", "/predictions/?limit=10")
        assert code == 200 and out == {"predictions": []}
        code, out = _call(servers[1].server_address[1], "POST", "/predictions/?limit=10")
        assert code == 500 and out == {"detail": "Failed to fetch predictions"}
    finally:
        for server in servers:
            server.shutdown()


def test_predictions_json_matches_spark_collected_rows(spark, tiny_model, tmp_path):
    """The ``/predictions`` payload is string-for-string the formatting
    of Spark-collected rows (``r["timestamp"].isoformat()``), on a store
    holding a legacy Spark-written (INT96) row, driver-written rows and
    rows whose microsecond is 0 (``isoformat`` then drops the fraction)."""
    path = str(tmp_path / "preds")
    spark.createDataFrame(
        [
            (datetime(2026, 1, 1, 12, 0, 0, tzinfo=timezone.utc), "legacy whole second", NEGATIVE),
            (datetime(2026, 1, 1, 12, 0, 0, 250, tzinfo=timezone.utc), "legacy µs", NEGATIVE),
        ],
        schema=PREDICTIONS_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(path)
    _write_predictions_file(
        path,
        pa.Table.from_pylist(
            [{"timestamp": datetime(2026, 1, 2, 8, 30, tzinfo=timezone.utc), "message": "whole second",
              "prediction": POSITIVE}],
            schema=_ARROW_PREDICTIONS_SCHEMA,
        ),
    )
    insert_prediction(spark, "now", POSITIVE, path)
    rows = (
        spark.read.schema(PREDICTIONS_SCHEMA).parquet(path).orderBy(F.desc("timestamp")).limit(10).collect()
    )
    want = json.dumps(
        {
            "predictions": [
                {"timestamp": r["timestamp"].isoformat(), "message": r["message"], "prediction": r["prediction"]}
                for r in rows
            ]
        }
    )
    api = SentimentAPI(spark, tiny_model, predictions_path=path)
    assert json.dumps({"predictions": api.predictions(10)}) == want
    server, _ = api.start_background()
    try:
        with urllib.request.urlopen(
            urllib.request.Request(f"http://127.0.0.1:{server.server_address[1]}/predictions/?limit=10", method="POST")
        ) as resp:
            assert resp.read().decode() == want
    finally:
        server.shutdown()
    assert len(rows) == 4 and sum(r["timestamp"].microsecond == 0 for r in rows) == 2
    legacy = [n for n in os.listdir(path) if n.endswith(".zstd.parquet")]
    assert legacy and pq.ParquetFile(os.path.join(path, legacy[0])).schema.column(0).physical_type == "INT96"
