"""Seeded input generators for the benchmark.

Every generator takes the workload seed and returns (or writes) the
same data for the same seed, so a run is reproducible from its
command line. The program under test only ever sees these generated
inputs:

* ``write_tables`` — the ten catalog tables (TPC-H-ish star schema,
  ``events``, ``documents``, ``embeddings``) with the schemas and value
  distributions of the synthetic tables in FIXTURES.md §2, scaled by
  ``sf``;
* ``tweet_corpus`` — the synthetic sentiment corpus (FIXTURES.md §3);
* ``served_messages`` — the messages the serving clients post;
* ``write_stream_replay`` — ``events`` plus re-sent duplicates, sorted
  by ``ts`` and split into files for a file-source replay.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Sub-seeds keep each table independent of the others' row counts.
_TABLE_SALT = {
    "region": 1, "nation": 2, "customer": 3, "supplier": 4, "part": 5,
    "orders": 6, "lineitem": 7, "events": 8, "documents": 9, "embeddings": 10,
}

DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["small", "large", "red", "blue", "green", "shiny", "old", "new"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "pipe", "valve", "spring", "nut"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, salt])


def _ts_us(start: str, offsets_us: np.ndarray) -> pa.Array:
    base = int(np.datetime64(start, "us").astype(np.int64))
    return pa.array(base + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng, lo, hi, n, step=0.01):
    return np.round(np.round(rng.uniform(lo, hi, n) / step) * step, 2)


def table_rows(sf: float) -> dict[str, int]:
    """Row count per table at scale ``sf`` (lineitem 6 M × sf)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "lineitem": max(6_000, int(6_000_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    n = table_rows(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    r = _rng(seed, _TABLE_SALT["customer"])
    k = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(k, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": r.integers(0, 25, k).astype(np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, k),
        "c_mktsegment": np.array(_SEGMENTS)[r.integers(0, 5, k)],
    })

    r = _rng(seed, _TABLE_SALT["supplier"])
    k = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(k, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": r.integers(0, 25, k).astype(np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, k),
    })

    r = _rng(seed, _TABLE_SALT["part"])
    k = n["part"]
    names = np.array([f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN])
    out["part"] = pa.table({
        "p_partkey": np.arange(k, dtype=np.int64),
        "p_name": names[r.integers(0, len(names), k)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[r.integers(0, 25, k)],
        "p_type": np.array(_PART_TYPES)[r.integers(0, 6, k)],
        "p_size": r.integers(1, 51, k).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) * 0.1, 2),
    })

    r = _rng(seed, _TABLE_SALT["orders"])
    k = n["orders"]
    order_days = r.integers(0, 2404, k)
    out["orders"] = pa.table({
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": r.integers(0, n["customer"], k).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, k)],
        "o_totalprice": _money(r, 1000.0, 500000.0, k),
        "o_orderdate": _ts_us("1995-01-01", order_days * 86_400_000_000),
        "o_orderpriority": np.array(_PRIORITIES)[r.integers(0, 5, k)],
    })

    r = _rng(seed, _TABLE_SALT["lineitem"])
    k = n["lineitem"]
    qty = r.integers(1, 51, k).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n["orders"], k).astype(np.int64),
        "l_partkey": r.integers(0, n["part"], k).astype(np.int64),
        "l_suppkey": r.integers(0, n["supplier"], k).astype(np.int64),
        "l_linenumber": r.integers(1, 8, k).astype(np.int32),
        "l_quantity": qty,
        # Multiples of 16 cents: then no sum of price × (1 - discount)
        # [× (1 + tax)] lies on a half cent, where round(·, 2) of a double
        # sum depends on the engine's summation order (a05, s08 vs DuckDB).
        "l_extendedprice": _money(r, 900.0, 105000.0, k, step=0.16),
        "l_discount": r.integers(0, 11, k) / 100.0,
        "l_tax": r.integers(0, 9, k) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, k)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, k)],
        "l_shipdate": _ts_us("1995-01-02", r.integers(0, 2499, k) * 86_400_000_000),
    })

    out["events"] = make_events(n["events"], seed)
    out["documents"] = make_documents(n["documents"], seed)

    r = _rng(seed, _TABLE_SALT["embeddings"])
    k = n["embeddings"]
    vecs = r.standard_normal((k, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(k, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": r.integers(0, 10, k).astype(np.int32),
    })
    return out


def make_events(k: int, seed: int) -> pa.Table:
    """``events`` over 30 days, ``ts`` increasing with ``event_id``."""
    r = _rng(seed, _TABLE_SALT["events"])
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(r.integers(0, span_us, k))
    return pa.table({
        "event_id": np.arange(k, dtype=np.int64),
        "ts": _ts_us("2024-01-01", ts),
        "user_id": r.integers(0, max(100, k // 66), k).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[r.integers(0, 5, k)],
        "value": np.round(r.exponential(50.0, k), 2),
        "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, k)],
    })


def make_documents(k: int, seed: int) -> pa.Table:
    """30-word-vocabulary documents; 5 % are a copy of an earlier
    document with ``" dup"`` appended (the near-duplicates the LSH
    queries look for)."""
    r = _rng(seed, _TABLE_SALT["documents"])
    words = np.array(DOC_WORDS)
    lengths = r.integers(10, 101, k)
    texts = [" ".join(words[r.integers(0, len(words), m)]) for m in lengths]
    for i in np.flatnonzero(r.random(k) < 0.05):
        if i > 0:
            texts[i] = texts[int(r.integers(0, i))] + " dup"
    return pa.table({
        "doc_id": np.arange(k, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[r.choice(5, k, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write_tables(data_dir: str, sf: float, seed: int) -> None:
    """Write every catalog table as ``<data_dir>/<name>.parquet``."""
    os.makedirs(data_dir, exist_ok=True)
    for name, tbl in make_tables(sf, seed).items():
        pq.write_table(tbl, os.path.join(data_dir, f"{name}.parquet"))


# -- sentiment ---------------------------------------------------------

_POS = [f"glad{i}" for i in range(40)]
_NEG = [f"grim{i}" for i in range(40)]
_NOISE = [f"word{i}" for i in range(6000)]
_DECOR = [
    " http://t.co/{:x}", " www.example{}.com", " @user{}", " #tag{}",
    "!!!", " Café{}", "   ", "?!",
]


def tweet_corpus(n: int, seed: int, positive: float = 0.565, flip: float = 0.2656):
    """Rows ``(id, label, text, flipped)`` of the synthetic tweet corpus.

    Each tweet carries four signal words of its *effective* class and
    six Zipf-distributed noise words. A ``flip`` share of tweets carry
    the other class's signal, so no classifier can beat the Bayes
    accuracy ``1 - flip`` realised by the ``flipped`` column. About
    10 % of tweets get URLs, mentions, hashtags, punctuation, mixed case,
    padding or Latin-1 characters for ``clean_text`` to strip.
    """
    r = np.random.default_rng([seed, 101])
    labels = (r.random(n) < positive).astype(np.int64)
    flipped = r.random(n) < flip
    eff = labels ^ flipped
    sig = r.integers(0, 40, (n, 4))
    zipf = np.minimum(r.zipf(1.3, (n, 6)) - 1, len(_NOISE) - 1)
    decorate = r.random(n) < 0.10
    decor_kind = r.integers(0, len(_DECOR), n)
    decor_arg = r.integers(0, 1000, n)
    rows = []
    for i in range(n):
        vocab = _POS if eff[i] else _NEG
        words = [vocab[j] for j in sig[i]] + [_NOISE[j] for j in zipf[i]]
        text = " ".join(words)
        if decorate[i]:
            text = text.upper() if decor_arg[i] % 7 == 0 else text
            text = text + _DECOR[decor_kind[i]].format(decor_arg[i])
        rows.append((i + 1, int(labels[i]), text, bool(flipped[i])))
    return rows


def served_messages(n: int, seed: int) -> list[str]:
    """Messages the serving clients post: fresh tweets of the corpus's
    kind, non-empty, from their own seed stream."""
    return [t for _, _, t, _ in tweet_corpus(n, seed + 7_919)]


# -- stream replay -----------------------------------------------------

def stream_events(k: int, seed: int, dup_frac: float = 0.05) -> pa.Table:
    """``events`` plus ``dup_frac`` re-sent duplicates (identical rows),
    sorted by ``(ts, event_id)``. ``ts`` is UTC-adjusted so the stream
    reads it as a Spark TIMESTAMP."""
    ev = make_events(k, seed)
    r = _rng(seed, 201)
    both = pa.concat_tables([ev, ev.take(pa.array(np.flatnonzero(r.random(k) < dup_frac)))])
    order = np.lexsort(
        (both.column("event_id").to_numpy(), both.column("ts").cast(pa.int64()).to_numpy())
    )
    both = both.take(pa.array(order))
    ts = both.column("ts").cast(pa.timestamp("us", tz="UTC"))
    return both.set_column(both.schema.get_field_index("ts"), "ts", ts)


def write_stream_replay(src_dir: str, k: int, seed: int, n_files: int) -> pa.Table:
    """Split :func:`stream_events` into ``n_files`` parquet files,
    oldest first; file modification times follow the split so the file
    source replays them in ``ts`` order. Returns the whole replay."""
    tbl = stream_events(k, seed)
    os.makedirs(src_dir, exist_ok=True)
    bounds = np.linspace(0, tbl.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        path = os.path.join(src_dir, f"part-{i:05d}.parquet")
        pq.write_table(tbl.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        os.utime(path, (1_000_000 + i, 1_000_000 + i))
    return tbl
