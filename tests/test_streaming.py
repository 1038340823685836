"""Streaming window tests (T4 watermark/late-data, T6 append sink)
plus the predictions write path (S6/S7).

The streaming scenario is built from hand-written parquet files so
watermark movement is fully deterministic: three files replayed
oldest-first with ``maxFilesPerTrigger=1`` become three micro-
batches; the watermark computed from batch N gates batch N+1.
"""

from __future__ import annotations

import os
import types
import uuid
from collections import Counter
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bigdata_lab4_spark.engine import (
    _ARROW_PREDICTIONS_SCHEMA,
    PREDICTIONS_SCHEMA,
    _write_predictions_file,
    create_predictions_table,
    insert_prediction,
    latest_predictions,
    top_k_predictions,
)
from bigdata_lab4_spark.serving import SentimentAPI
from bigdata_lab4_spark.streaming import (
    read_events_stream,
    run_available_now,
    tumbling_event_counts,
)


def _ts(h: int, m: int) -> datetime:
    return datetime(2026, 1, 15, h, m, tzinfo=timezone.utc)


@pytest.fixture(scope="module")
def stream_result(spark, tmp_path_factory):
    """Replay five event files as five micro-batches.

    * f0: hour-10 events → watermark advances to 10:49 for later
      batches
    * f1: a 12:30 event → watermark 12:20, which closes and emits
      the [10:00, 11:00) window
    * f2: a 14:00 event → watermark 13:50, closes [12:00, 13:00)
    * f3: a LATE 10:20 event — its [10:00, 11:00) window was emitted
      and evicted two batches ago; append mode can never re-emit a
      window, so the row MUST be dropped
      (``numRowsDroppedByWatermark``), not aggregated
    * f4: a 16:00 event → watermark 15:50; the final no-data
      micro-batch (``noDataMicroBatches``, on by default) flushes
      the now-closed [14:00, 15:00) window

    The [16:00, 17:00) window is still open when input runs dry, so
    it must NOT be in the sink; no emitted aggregate may include the
    late value=100 row.
    """
    base = tmp_path_factory.mktemp("stream")
    src = str(base / "events_src")
    os.makedirs(src)
    cols = ["ts", "event_type", "value"]
    files = [
        [( _ts(10, 0), "click", 1.0), (_ts(10, 30), "click", 2.0), (_ts(10, 59), "view", 10.0)],
        [( _ts(12, 30), "click", 4.0)],
        [( _ts(14, 0), "view", 8.0)],
        [( _ts(10, 20), "click", 100.0)],  # late: window already emitted
        [( _ts(16, 0), "view", 1.0)],
    ]
    for i, rows in enumerate(files):
        spark.createDataFrame(rows, cols).coalesce(1).write.parquet(
            os.path.join(src, f"f{i}")
        )
        # oldest-first replay order follows modification time
        for root, _, names in os.walk(os.path.join(src, f"f{i}")):
            for n in names:
                os.utime(os.path.join(root, n), (1000 + i, 1000 + i))

    stream = read_events_stream(
        spark, src + "/*/", max_files_per_trigger=1
    )
    agg = tumbling_event_counts(stream, window="1 hour", watermark="10 minutes")
    out, cp = str(base / "out"), str(base / "cp")
    run_available_now(agg, out, cp)
    return spark.read.parquet(out).collect()


def test_watermark_finalizes_closed_windows_only(stream_result):
    starts = {r["window_start"] for r in stream_result}
    # every window whose end <= the final 15:50 watermark is emitted
    # (10:00, 12:00, 14:00); the 16:00 window was still open when
    # the stream drained, so append mode never released it.
    assert starts == {
        int(_ts(10, 0).timestamp()),
        int(_ts(12, 0).timestamp()),
        int(_ts(14, 0).timestamp()),
    }


def test_late_row_dropped_from_emitted_window(stream_result):
    rows = {(r["window_start"], r["event_type"]): r for r in stream_result}
    # the late 10:20/value=100 row arrived after its window was
    # emitted and evicted — it must not appear in any aggregate
    click10 = rows[(int(_ts(10, 0).timestamp()), "click")]
    assert click10["n"] == 2
    assert click10["sum_value"] == pytest.approx(3.0)
    view10 = rows[(int(_ts(10, 0).timestamp()), "view")]
    assert view10["n"] == 1 and view10["sum_value"] == pytest.approx(10.0)
    click12 = rows[(int(_ts(12, 0).timestamp()), "click")]
    assert click12["n"] == 1 and click12["sum_value"] == pytest.approx(4.0)


def test_streaming_matches_batch_plan_on_closed_window(spark, stream_result):
    """T-series contract: the streaming emission for a finalized
    window equals the batch aggregation over the on-time rows."""
    on_time = [
        (_ts(10, 0), "click", 1.0),
        (_ts(10, 30), "click", 2.0),
        (_ts(10, 59), "view", 10.0),
        (_ts(12, 30), "click", 4.0),
        (_ts(14, 0), "view", 8.0),
    ]
    # withWatermark is a documented no-op on batch frames, so the
    # same function expresses both plans.
    batch = tumbling_event_counts(
        spark.createDataFrame(on_time, ["ts", "event_type", "value"])
    ).collect()
    batch_rows = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"], r["avg_value"])
        for r in batch
    }
    stream_rows = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"], r["avg_value"])
        for r in stream_result
    }
    assert stream_rows == batch_rows


def test_events_stream_from_testdata_schema(spark):
    """The sf0.001 events table mounts as a stream with the same
    post-conversion schema contract the batch catalog provides."""
    stream = read_events_stream(spark, "/root/testdata/sf0.001/events.parquet")
    assert stream.isStreaming
    assert "ts" in stream.columns and "event_type" in stream.columns


# -- predictions write path (S6/S7) ------------------------------------


def test_predictions_insert_and_topk_roundtrip(spark, tmp_path):
    path = str(tmp_path / "predictions")
    create_predictions_table(spark, path)
    # idempotent create-if-not-exists
    create_predictions_table(spark, path)
    assert spark.read.parquet(path).count() == 0

    insert_prediction(spark, "great movie", "Positive sentiment", path)
    insert_prediction(spark, "terrible queue", "Negative sentiment", path)
    rows = top_k_predictions(spark, limit=10, path=path).collect()
    assert len(rows) == 2
    # newest first, server-side timestamps present
    assert rows[0]["timestamp"] >= rows[1]["timestamp"]
    assert {r["prediction"] for r in rows} == {
        "Positive sentiment",
        "Negative sentiment",
    }
    one = top_k_predictions(spark, limit=1, path=path).collect()
    assert len(one) == 1 and one[0]["message"] == rows[0]["message"]
    with pytest.raises(ValueError):
        top_k_predictions(spark, limit=-1, path=path)


def _visible_parquet(path: str) -> list[str]:
    return [n for n in os.listdir(path) if n.endswith(".parquet") and n[0] not in "._"]


def test_insert_into_missing_path_writes_one_file(spark, tmp_path):
    # no create_predictions_table first; the parent directory is missing too
    path = str(tmp_path / "store" / "predictions")
    insert_prediction(spark, "great movie", "Positive sentiment", path)
    assert len(_visible_parquet(path)) == 1
    rows = top_k_predictions(spark, limit=10, path=path).collect()
    assert [(r["message"], r["prediction"]) for r in rows] == [("great movie", "Positive sentiment")]


def test_store_without_py4j_bridge_uses_local_path(spark, tmp_path):
    # a Spark Connect session has no ``_jvm``; create and insert then
    # write to the driver-local path
    path = str(tmp_path / "predictions")
    connect_like = types.SimpleNamespace()
    create_predictions_table(connect_like, path)
    create_predictions_table(connect_like, path)
    insert_prediction(connect_like, "great movie", "Positive sentiment", path)
    assert len(_visible_parquet(path)) == 2  # one empty table file, one row
    rows = top_k_predictions(spark, limit=10, path=path).collect()
    assert [r["message"] for r in rows] == ["great movie"]


def test_insert_prediction_runs_no_spark_job(spark, tmp_path):
    sc = spark.sparkContext
    group = f"insert-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        insert_prediction(spark, "great movie", "Positive sentiment", str(tmp_path / "p"))
        spark.range(1).collect()  # exactly one job, so the group is seen
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_legacy_spark_written_rows_read_with_new_inserts(spark, tmp_path):
    """A store holding a row appended by a Spark write job (INT96
    timestamp) reads back complete and newest first once rows written
    by ``insert_prediction`` (INT64 microseconds, UTC) join it."""
    path = str(tmp_path / "predictions")
    spark.createDataFrame([("old row", "Negative sentiment")], ["message", "prediction"]).select(
        F.current_timestamp().alias("timestamp"), "message", "prediction"
    ).write.mode("append").parquet(path)
    legacy = _visible_parquet(path)
    assert legacy and all(
        pq.ParquetFile(os.path.join(path, n)).schema.column(0).physical_type == "INT96"
        for n in legacy
    )
    insert_prediction(spark, "new row 1", "Positive sentiment", path)
    insert_prediction(spark, "new row 2", "Positive sentiment", path)
    rows = top_k_predictions(spark, limit=10, path=path).collect()
    assert [r["message"] for r in rows] == ["new row 2", "new row 1", "old row"]


def test_hidden_in_flight_file_is_not_read(spark, tmp_path):
    """A half-written file keeps its hidden ``.part-*`` name until it
    is renamed; readers skip it even when it is not valid parquet."""
    path = str(tmp_path / "predictions")
    insert_prediction(spark, "great movie", "Positive sentiment", path)
    with open(os.path.join(path, f".part-0-{uuid.uuid4().hex}.parquet"), "wb") as f:
        f.write(b"PAR1 truncated")
    rows = top_k_predictions(spark, limit=10, path=path).collect()
    assert [r["message"] for r in rows] == ["great movie"]


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    message=st.text(st.characters(codec="utf-8"), min_size=1),
    prediction=st.text(st.characters(codec="utf-8"), min_size=1),
)
def test_insert_prediction_roundtrips_any_unicode(spark, tmp_path, message, prediction):
    path = str(tmp_path / uuid.uuid4().hex)
    insert_prediction(spark, message, prediction, path)
    (row,) = top_k_predictions(spark, limit=10, path=path).collect()
    assert row["message"].encode("utf-8") == message.encode("utf-8")
    assert row["prediction"].encode("utf-8") == prediction.encode("utf-8")


def _full_scan_top_k(spark, path: str, limit: int):
    return spark.read.schema(PREDICTIONS_SCHEMA).parquet(path).orderBy(F.desc("timestamp")).limit(limit)


def _write_legacy_rows(spark, path: str, rows) -> None:
    """Append ``rows`` through a Spark write job: INT96 timestamps and
    Spark's own file names, which carry no timestamp bound."""
    spark.createDataFrame(rows, schema=PREDICTIONS_SCHEMA).write.mode("append").parquet(path)


_store_ops = st.lists(
    st.one_of(
        st.tuples(st.just("insert"), st.sampled_from(["a", "b", "c"])),
        st.tuples(st.just("empty"), st.none()),
        # multi-row files: offsets in ms around the write time, so rows
        # interleave with other files' rows; repeats make ties
        st.tuples(st.just("legacy"), st.lists(st.integers(-50, 50), min_size=1, max_size=4)),
        st.tuples(st.just("batch"), st.lists(st.integers(-50, 50), min_size=1, max_size=4)),
    ),
    min_size=1,
    max_size=6,
)


@settings(max_examples=30, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ops=_store_ops, limit=st.integers(0, 15))
def test_top_k_matches_full_scan_on_random_stores(spark, tmp_path, ops, limit):
    """On stores mixing inserts, empty-table files, multi-row
    driver-written files and legacy multi-row Spark-written files, the
    newest-files read returns the same rows as a Spark full scan. Rows
    tied at the cut timestamp may be any of the store's rows with that
    timestamp, as in the scan."""
    path = str(tmp_path / uuid.uuid4().hex)
    for n, (kind, arg) in enumerate(ops):
        if kind == "insert":
            insert_prediction(spark, f"{arg}{n}", "Positive sentiment", path)
        elif kind == "empty":
            _write_predictions_file(path, _ARROW_PREDICTIONS_SCHEMA.empty_table())
        else:
            now = datetime.now(timezone.utc)
            rows = [(now + timedelta(milliseconds=ms), f"{kind}{n}-{i}", "Negative sentiment")
                    for i, ms in enumerate(arg)]
            if kind == "legacy":
                _write_legacy_rows(spark, path, rows)
            else:  # one driver-written file, named after its newest row
                _write_predictions_file(
                    path,
                    pa.Table.from_pylist([dict(zip(PREDICTIONS_SCHEMA.names, r)) for r in rows],
                                         schema=_ARROW_PREDICTIONS_SCHEMA),
                )
    got = [tuple(r) for r in top_k_predictions(spark, limit=limit, path=path).collect()]
    want = [tuple(r) for r in _full_scan_top_k(spark, path, limit).collect()]
    assert [r[0] for r in got] == [r[0] for r in want]
    if not got:
        return
    cut = got[-1][0]
    assert Counter(r for r in got if r[0] != cut) == Counter(r for r in want if r[0] != cut)
    at_cut = Counter(tuple(r) for r in _full_scan_top_k(spark, path, 10**6).collect() if r[0] == cut)
    assert Counter(r for r in got if r[0] == cut) <= at_cut


def test_top_k_opens_only_the_newest_files(spark, tmp_path, monkeypatch):
    """On a 200-insert store, ``limit=10`` opens at most 10 of the
    insert files, plus every file without a timestamp bound."""
    path = str(tmp_path / "predictions")
    _write_legacy_rows(spark, path, [(datetime(2026, 1, 1, tzinfo=timezone.utc), "legacy", "Negative sentiment")])
    unbounded = set(_visible_parquet(path))
    for i in range(200):
        insert_prediction(spark, f"row {i}", "Positive sentiment", path)
    opened = []
    read_table = pq.read_table

    def counting_read_table(source, *args, **kwargs):
        opened.append(os.path.basename(source))
        return read_table(source, *args, **kwargs)

    monkeypatch.setattr(pq, "read_table", counting_read_table)
    rows = latest_predictions(path, 10)
    monkeypatch.undo()
    assert rows.column("message").to_pylist() == [f"row {i}" for i in range(199, 189, -1)]
    assert unbounded <= set(opened)
    assert len(set(opened) - unbounded) <= 10 and len(opened) == len(set(opened))
    want = [tuple(r) for r in _full_scan_top_k(spark, path, 10).collect()]
    assert [tuple(r) for r in top_k_predictions(spark, limit=10, path=path).collect()] == want


def test_serving_predictions_and_top_k_run_no_spark_job(spark, tmp_path):
    path = str(tmp_path / "p")
    for i in range(3):
        insert_prediction(spark, f"row {i}", "Positive sentiment", path)
    sc = spark.sparkContext
    group = f"predictions-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        served = SentimentAPI(spark, model=None, predictions_path=path).predictions(2)
        collected = top_k_predictions(spark, limit=2, path=path).collect()
        spark.range(1).collect()  # exactly one job, so the group is seen
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert [p["message"] for p in served] == [r["message"] for r in collected] == ["row 2", "row 1"]


# -- streaming stateful dedup (T5 streaming form) ----------------------


@pytest.fixture(scope="module")
def dedup_result(spark, tmp_path_factory):
    """Four micro-batches exercising dropDuplicatesWithinWatermark:

    * f0: event_id 1 @10:00, event_id 2 @10:05 → both emitted
    * f1: DUPLICATE event_id 1 @10:01 (id 1 still in state) →
      dropped; event_id 3 @11:00 emitted → watermark 10:50
    * f2: event_id 3 @11:01 duplicate (state for 3 alive until the
      watermark passes 11:10) → dropped; event_id 4 @13:00 emitted
      → watermark 12:50, and end-of-batch cleanup evicts id 1
      (expired 10:10)
    * f3: event_id 1 @14:00 — id 1's state is gone, so the row is
      RE-EMITTED: bounded state trades late-duplicate detection for
      survivable memory at stream scale
    """
    base = tmp_path_factory.mktemp("dedup_stream")
    src = str(base / "events_src")
    os.makedirs(src)
    cols = ["event_id", "ts", "event_type", "value"]
    files = [
        [(1, _ts(10, 0), "click", 1.0), (2, _ts(10, 5), "view", 2.0)],
        [(1, _ts(10, 1), "click", 1.0), (3, _ts(11, 0), "click", 3.0)],
        [(3, _ts(11, 1), "click", 3.0), (4, _ts(13, 0), "click", 4.0)],
        [(1, _ts(14, 0), "click", 9.0)],
    ]
    for i, rows in enumerate(files):
        spark.createDataFrame(rows, cols).coalesce(1).write.parquet(
            os.path.join(src, f"f{i}")
        )
        for root, _, names in os.walk(os.path.join(src, f"f{i}")):
            for n in names:
                os.utime(os.path.join(root, n), (1000 + i, 1000 + i))

    from bigdata_lab4_spark.streaming import dedup_events_stream

    stream = read_events_stream(spark, src + "/*/", max_files_per_trigger=1)
    out, cp = str(base / "out"), str(base / "cp")
    run_available_now(dedup_events_stream(stream), out, cp)
    return spark.read.parquet(out).collect()


def test_stream_dedup_drops_in_state_duplicates(dedup_result):
    emitted = sorted((r["event_id"], r["ts"].hour, r["ts"].minute) for r in dedup_result)
    # duplicates at 10:01 (id 1) and 11:01 (id 3) were deduped
    assert (1, 10, 1) not in emitted and (3, 11, 1) not in emitted
    assert (1, 10, 0) in emitted and (2, 10, 5) in emitted and (3, 11, 0) in emitted
    assert (4, 13, 0) in emitted


def test_stream_dedup_state_is_bounded_not_forever(dedup_result):
    # id 1 reappearing at 14:00 — long after its state was evicted —
    # is re-emitted: the documented bounded-state trade-off
    emitted = sorted((r["event_id"], r["ts"].hour, r["ts"].minute) for r in dedup_result)
    assert (1, 14, 0) in emitted
    assert len(emitted) == 5


# -- custom stateful operator: applyInPandasWithState sessionization ----


@pytest.fixture(scope="module")
def session_result(spark, tmp_path_factory):
    """Five micro-batches exercising every sessionize_stream path:

    * u1 @10:00+@10:10 then @12:00 — the 12:00 event arrives beyond
      the 30-min gap while u1 still has state, so the first session
      closes IN-BAND (new-data path) and a new one opens;
    * u2 @10:05 — no further data; closes via EVENT-TIME TIMEOUT
      once the watermark passes 10:35;
    * u3 @11:30 then @14:00 — timeout-close, then a second session
      that closes in the final no-data micro-batch (watermark 14:50
      > 14:30);
    * u4 @15:00 — still open when input drains: must NOT be emitted
      (append mode emits each closed session exactly once).
    """
    base = tmp_path_factory.mktemp("session_stream")
    src = str(base / "events_src")
    os.makedirs(src)
    cols = ["user_id", "ts", "value"]
    files = [
        [(1, _ts(10, 0), 1.0), (1, _ts(10, 10), 2.0), (2, _ts(10, 5), 5.0)],
        [(3, _ts(11, 30), 7.0)],
        [(1, _ts(12, 0), 3.0)],
        [(3, _ts(14, 0), 1.0)],
        [(4, _ts(15, 0), 2.0)],
    ]
    for i, rows in enumerate(files):
        spark.createDataFrame(rows, cols).coalesce(1).write.parquet(
            os.path.join(src, f"f{i}")
        )
        for root, _, names in os.walk(os.path.join(src, f"f{i}")):
            for n in names:
                os.utime(os.path.join(root, n), (1000 + i, 1000 + i))

    from bigdata_lab4_spark.streaming import sessionize_stream

    stream = read_events_stream(spark, src + "/*/", max_files_per_trigger=1)
    sess = sessionize_stream(stream.withWatermark("ts", "10 minutes"))
    out, cp = str(base / "out"), str(base / "cp")
    run_available_now(sess, out, cp)
    return spark.read.parquet(out).collect()


def test_sessions_close_in_band_and_by_timeout(session_result):
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"], r["sum_value"])
        for r in session_result
    }
    e = lambda h, m: int(_ts(h, m).timestamp())
    assert got == {
        (1, e(10, 0), e(10, 10), 2, 3.0),   # in-band close (gap exceeded)
        (2, e(10, 5), e(10, 5), 1, 5.0),    # timeout close
        (3, e(11, 30), e(11, 30), 1, 7.0),  # timeout close
        (1, e(12, 0), e(12, 0), 1, 3.0),    # second session, timeout
        (3, e(14, 0), e(14, 0), 1, 1.0),    # closed by final no-data batch
    }


def test_open_session_not_emitted(session_result):
    # u4's 15:00 session was still open when the stream drained
    assert all(r["user_id"] != 4 for r in session_result)
