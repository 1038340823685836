"""Output checks. Each runs once per run, outside the timed region, and
returns a list of failure messages (empty when the output is right)."""

from __future__ import annotations

import os


def duck_connect(data_dir: str):
    """In-memory DuckDB with a view per generated table."""
    import duckdb

    from bigdata_lab4_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t)}.parquet'")
    return con


def oracle(name: str, got, duck) -> list[str]:
    """A query's collected Spark output (pandas) against its DuckDB
    oracle, with the canonicalisation and float tolerance of the
    repository's parity tests (``tests/oracle_util.py``)."""
    import pandas as pd

    from bigdata_lab4_spark.registry import REGISTRY
    from tests.oracle_util import _canon, _values_equal

    want = duck.execute(REGISTRY[name].oracle).fetchdf()
    if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
        return [f"{name}: {len(got)} rows {sorted(got.columns)} vs oracle "
                f"{len(want)} rows {sorted(want.columns)}"]
    a, b = _canon(got), _canon(want)
    for c in a.columns:
        for va, vb in zip(a[c], b[c]):
            va = None if pd.isna(va) else (va.item() if hasattr(va, "item") else va)
            vb = None if pd.isna(vb) else (vb.item() if hasattr(vb, "item") else vb)
            if not _values_equal(va, vb):
                return [f"{name}: column {c}: spark {va!r} vs oracle {vb!r}"]
    return []


def minhash_recall(spark, data_dir) -> list[str]:
    """The l02b floors of ``tests/test_llm.py``: candidates cover >= 80 %
    of the exact top-20 Jaccard pairs and every exact duplicate."""
    from bigdata_lab4_spark.queries.llm import minhash_lsh_pairs
    from bigdata_lab4_spark.registry import REGISTRY

    exact = [
        (r["d1"], r["d2"], r["jaccard"])
        for r in REGISTRY["l02_jaccard_pairs"].fn(spark, data_dir).collect()
    ]
    cand = {(r["d1"], r["d2"]) for r in minhash_lsh_pairs(spark, data_dir).collect()}
    out = []
    recall = sum(1 for d1, d2, _ in exact if (d1, d2) in cand) / max(1, len(exact))
    if len(exact) != 20 or recall < 0.8:
        out.append(f"l02b: recall {recall:.3f} over {len(exact)} exact pairs (floor 0.8)")
    missed = [(d1, d2) for d1, d2, j in exact if j == 1.0 and (d1, d2) not in cand]
    if missed:
        out.append(f"l02b: exact duplicates not found: {missed[:5]}")
    return out


def minhash_view(rows) -> list[str]:
    """The registered l02b view is the top-50 cut of the candidates, each
    pair within the 0.6 Jaccard distance threshold with ``d1 < d2``."""
    if len(rows) != 50 or any(r.jaccard_dist > 0.6 or r.d1 >= r.d2 for r in rows.itertuples()):
        return [f"l02b: registered view has {len(rows)} rows or a bad pair"]
    return []


# -- sentiment ---------------------------------------------------------

def accuracy(metrics: dict, bayes: float, tol: float = 0.01) -> list[str]:
    if abs(metrics["accuracy"] - bayes) > tol:
        return [f"accuracy {metrics['accuracy']:.4f} vs Bayes rate {bayes:.4f} (tol {tol})"]
    return []


def predict_replies(model, replies) -> list[str]:
    """Every ``/predict`` reply equals ``predict_one`` of its message."""
    out = []
    for msg, got in replies:
        want = model.predict_one(msg)
        if got != want:
            out.append(f"/predict {msg[:40]!r}: got {got!r}, predict_one {want!r}")
    return out


def predictions_replies(replies, stored: set, limit: int) -> list[str]:
    """``/predictions`` replies: at most ``limit`` rows, newest first,
    every message one the store holds, and at least ``min(limit, k)``
    rows when ``k`` ``/predict`` calls were acknowledged before the
    request. ``replies`` pairs the messages acknowledged before each
    request with its rows; ``stored`` is every message in the store
    afterwards."""
    out = []
    for acked_before, rows in replies:
        want_at_least = min(limit, len(acked_before))
        ts = [r["timestamp"] for r in rows]
        if not want_at_least <= len(rows) <= limit:
            out.append(f"/predictions: {len(rows)} rows, {want_at_least} acknowledged before")
        elif ts != sorted(ts, reverse=True):
            out.append("/predictions: rows not newest first")
        elif any(r["message"] not in stored for r in rows):
            out.append("/predictions: a row that is not in the store")
    return out


def lost_rows(acked, stored) -> int:
    """Acknowledged ``/predict`` messages (with repeats) that have no row
    in the store."""
    from collections import Counter

    return sum((Counter(acked) - Counter(stored)).values())


# -- streaming ---------------------------------------------------------

def closed_sessions(user_id, epoch_s, gap_s: int, watermark_s: float) -> tuple[int, int]:
    """Sort-and-scan reference for ``sessionize_stream``: ``(sessions,
    events)`` over the per-user sessions (split where consecutive
    events are more than ``gap_s`` apart) that the replay closes —
    followed by a later session of the same user, or timed out because
    ``end + gap_s`` lies before the final watermark."""
    import pandas as pd

    df = pd.DataFrame({"user_id": user_id, "epoch": epoch_s}).sort_values(
        ["user_id", "epoch"], kind="stable"
    )
    gap = df.groupby("user_id")["epoch"].diff()
    df["sid"] = (gap.isna() | (gap > gap_s)).cumsum()
    sess = df.groupby("sid").agg(user_id=("user_id", "first"), end=("epoch", "max"),
                                 n=("epoch", "size"))
    last = sess.groupby("user_id")["end"].transform("max") == sess["end"]
    closed = ~last | ((sess["end"] + gap_s) < watermark_s)
    return int(closed.sum()), int(sess.loc[closed, "n"].sum())
