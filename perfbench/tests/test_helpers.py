"""Tests for the benchmark's own helpers: the percentile and sample-count
rule, self-time arithmetic, span nesting, status-store metric parsing,
the sessionization reference, and generator determinism per seed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import numpy as np
import pytest

from perfbench import checks, gen
from perfbench.sparkstats import parse_metric
from perfbench.stats import (
    beyond,
    min_samples,
    percentile,
    summarize,
    tail_percentile,
)
from perfbench.trace import Tracer


def fingerprint(table) -> str:
    """Digest of an Arrow table's IPC bytes."""
    import hashlib

    import pyarrow as pa

    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 75) == 75
    assert percentile(xs, 99) == 99
    assert percentile(xs, 100) == 100
    assert percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize(
    "n, tail",
    [(19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, tail):
    assert tail_percentile(n) == tail
    if tail is not None:
        assert beyond(n, tail) >= 10


@pytest.mark.parametrize("p", [50.0, 75.0, 90.0, 95.0, 99.0])
def test_min_samples_is_the_threshold(p):
    n = min_samples(p)
    assert tail_percentile(n) >= p
    assert tail_percentile(n - 1) is None or tail_percentile(n - 1) < p


def test_summarize_reports_count_and_tail():
    s = summarize([float(x) for x in range(40)])
    assert s == {"n": 40, "p50": 19.5, "tail_pct": 75.0, "tail": 29.0}
    assert summarize([1.0] * 5)["tail"] is None


def test_self_time_is_duration_minus_children():
    tr = Tracer()

    def span(sid, name, parent, start, end):
        return {"id": sid, "name": name, "parent": parent, "rid": 1, "start": start, "end": end}

    tr.spans = [
        span(1, "a.root", None, 0.0, 10.0),
        span(2, "a.kid", 1, 1.0, 3.0),
        span(3, "a.kid", 1, 5.0, 6.0),
        span(4, "a.leaf", 3, 5.0, 5.5),
    ]
    agg = tr.by_name()
    assert agg["a.root"]["self"] == [pytest.approx(7.0)]
    assert agg["a.kid"]["self"] == [pytest.approx(2.0), pytest.approx(0.5)]
    assert agg["a.kid"]["total_s"] == pytest.approx(3.0)
    assert agg["a.leaf"]["self_s"] == pytest.approx(0.5)


def test_tracer_nests_spans_and_computes_self_time():
    tr = Tracer()

    def leaf():
        return 1

    traced_leaf = tr.wrap("layer.leaf", leaf)
    with tr.span("layer.root") as root:
        traced_leaf()
        traced_leaf()
    spans = tr.finished()
    leaves = [s for s in spans if s["name"] == "layer.leaf"]
    assert len(leaves) == 2
    assert all(s["parent"] == root["id"] and s["rid"] == root["rid"] for s in leaves)
    agg = tr.by_name()
    assert agg["layer.leaf"]["calls"] == 2
    kids = sum(s["end"] - s["start"] for s in leaves)
    assert agg["layer.root"]["self_s"] == pytest.approx(
        agg["layer.root"]["total_s"] - kids, abs=1e-9
    )
    tr.enabled = False
    traced_leaf()
    assert len(tr.finished()) == 3


def test_patch_function_replaces_every_lookup_site_and_undoes():
    import types
    import sys

    orig = lambda: "x"  # noqa: E731
    a = types.ModuleType("bigdata_lab4_spark._perfbench_test_a")
    b = types.ModuleType("bigdata_lab4_spark._perfbench_test_b")
    a.fn = b.fn = orig
    sys.modules[a.__name__], sys.modules[b.__name__] = a, b
    try:
        tr = Tracer()
        tr.patch_function(a, "fn", "engine.fn")
        assert a.fn is not orig and b.fn is a.fn
        assert b.fn() == "x" and tr.by_name()["engine.fn"]["calls"] == 1
        tr.unpatch()
        assert a.fn is orig and b.fn is orig
    finally:
        del sys.modules[a.__name__], sys.modules[b.__name__]


@pytest.mark.parametrize(
    "text, kind, value",
    [
        ("1.5 s", "timing", 1.5),
        ("926 ms", "timing", 0.926),
        ("total (min, med, max (stageId: taskId))\n3.2 s (10 ms, 20 ms, 1.1 s (stage 1: task 2))",
         "timing", 3.2),
        ("402,498", "sum", 402498.0),
        ("160.9 KiB", "size", 160.9 * 1024),
    ],
)
def test_parse_metric(text, kind, value):
    assert parse_metric(text, kind) == pytest.approx(value)


def test_closed_sessions_reference():
    # user 1: 0, 100, 5000 -> sessions [0,100] (closed in band) and [5000]
    # user 2: 9000 -> one session, open unless the watermark passed it
    users = [1, 1, 1, 2]
    epochs = [0, 100, 5000, 9000]
    assert checks.closed_sessions(users, epochs, 1800, watermark_s=6000) == (1, 2)
    assert checks.closed_sessions(users, epochs, 1800, watermark_s=7000) == (2, 3)
    assert checks.closed_sessions(users, epochs, 1800, watermark_s=20000) == (3, 4)


def test_generators_are_deterministic_per_seed():
    a = gen.make_tables(0.001, seed=3)
    b = gen.make_tables(0.001, seed=3)
    c = gen.make_tables(0.001, seed=4)
    assert a.keys() == b.keys()
    for name in a:
        assert fingerprint(a[name]) == fingerprint(b[name]), name
    assert fingerprint(a["lineitem"]) != fingerprint(c["lineitem"])
    assert gen.tweet_corpus(500, 3) == gen.tweet_corpus(500, 3)
    assert gen.tweet_corpus(500, 3) != gen.tweet_corpus(500, 4)
    assert gen.served_messages(50, 3) == gen.served_messages(50, 3)
    assert fingerprint(gen.stream_events(2000, 3)) == fingerprint(gen.stream_events(2000, 3))
    assert fingerprint(gen.stream_events(2000, 3)) != fingerprint(gen.stream_events(2000, 4))


def test_prices_keep_discounted_sums_off_half_cents():
    # a price of 16 k cents times (1 - d) and (1 + t), both in whole
    # hundredths, is a multiple of 16 in units of 1e-4 (or 1e-6); a half
    # cent is 50 (or 5000) plus a multiple of 100 (or 10 000): never one
    cents = np.asarray(gen.make_tables(0.001, seed=5)["lineitem"].column("l_extendedprice")) * 100
    assert np.allclose(cents, np.round(cents), atol=1e-6)
    assert not (np.round(cents).astype(np.int64) % 16).any()
    assert all((50 + 100 * n) % 16 and (5000 + 10_000 * n) % 16 for n in range(16))


def test_generated_shapes_follow_the_fixture_schemas():
    t = gen.make_tables(0.001, seed=1)
    assert t["lineitem"].num_rows == gen.table_rows(0.001)["lineitem"]
    assert t["embeddings"].column("embedding")[0].as_py().__len__() == 64
    corpus = gen.tweet_corpus(20_000, 1)
    positive = sum(r[1] for r in corpus) / len(corpus)
    assert positive == pytest.approx(0.565, abs=0.02)
    assert sum(r[3] for r in corpus) / len(corpus) == pytest.approx(0.2656, abs=0.02)
    replay = gen.stream_events(2000, 1)
    ids = replay.column("event_id").to_pylist()
    assert len(ids) > len(set(ids)) == 2000  # re-sent duplicates present
    ts = replay.column("ts").cast("int64").to_pylist()
    assert ts == sorted(ts)


def test_predictions_replies_against_acknowledged_predicts():
    rows = [{"timestamp": t, "message": m} for t, m in ((3, "c"), (2, "b"), (1, "a"))]
    stored = {"a", "b", "c"}
    assert checks.predictions_replies([(["a", "b", "c"], rows)], stored, limit=10) == []
    # an acknowledged row that never reached the store is a short reply
    assert checks.predictions_replies([(["a", "b", "c", "x"], rows)], stored, limit=10)
    # rows appended by requests still in flight may show up
    assert checks.predictions_replies([(["a", "b"], rows)], stored, limit=10) == []
    assert checks.predictions_replies([(["a", "b", "c"], rows[:2])], stored, limit=10)
    assert checks.predictions_replies([(["a", "b", "c"], rows[:2])], stored, limit=2) == []
    assert checks.predictions_replies([(["a", "b", "c"], rows[::-1])], stored, limit=10)
    assert checks.predictions_replies([([], rows)], {"a", "b"}, limit=10)


def test_lost_rows_counts_acknowledged_messages_missing_from_the_store():
    assert checks.lost_rows(["a", "b"], ["a", "b"]) == 0
    assert checks.lost_rows(["a", "b", "a"], ["b", "a"]) == 1  # a repeat is its own row
    assert checks.lost_rows(["a", "b"], []) == 2
    assert checks.lost_rows([], ["a"]) == 0
