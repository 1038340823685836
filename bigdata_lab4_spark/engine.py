"""SQL entry point.

The reference's entire declarative-query surface is a SQL string
handed to ClickHouse (`/root/reference/src/database.py:41-51,80-88`).
The Spark-native equivalent is one line: ``spark.sql`` — parse
(ANTLR) → analyze (catalog binding) → Catalyst optimize → physical
plan → execute. ``run_sql`` is that entry point with the test tables
mounted.

The module also holds the predictions store the serving layer writes
and reads (see the store notes below): a parquet directory written and
read on the driver, so neither path runs a Spark job.
"""

from __future__ import annotations

import os
import re
import time
import uuid
from datetime import datetime, timezone
from urllib.parse import urlparse

import numpy as np
import pyarrow as pa
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructField, StructType, StringType, TimestampType

from bigdata_lab4_spark.catalog import DEFAULT_SF_DIR, register_views

#: The reference's predictions table shape —
#: ``timestamp DateTime DEFAULT now(), message String, prediction
#: String`` (`/root/reference/src/database.py:53-60`).
PREDICTIONS_SCHEMA = StructType(
    [
        StructField("timestamp", TimestampType(), False),
        StructField("message", StringType(), True),
        StructField("prediction", StringType(), True),
    ]
)

#: :data:`PREDICTIONS_SCHEMA` as the Arrow schema of the files the
#: driver writes: ``timestamp`` is ``timestamp("us", tz="UTC")``, a
#: parquet INT64 instant that Spark reads back as ``TimestampType``.
_ARROW_PREDICTIONS_SCHEMA = to_arrow_schema(PREDICTIONS_SCHEMA)


def run_sql(spark: SparkSession, sql: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Execute an arbitrary SQL string over the mounted test tables
    (SURVEY §2 S8 — generic SQL passthrough)."""
    register_views(spark, sf_dir)
    return spark.sql(sql)


def top_k_predictions(
    spark: SparkSession,
    table: str = "predictions",
    limit: int = 10,
    path: str | None = None,
) -> DataFrame:
    """The reference's one real query, parameterized (no string
    interpolation — SURVEY §7.5): last-k rows newest first
    (`src/database.py:80-88`).

    ``path`` answers from a predictions store through
    :func:`latest_predictions`: the driver reads only the newest files
    and the result is a local relation with :data:`PREDICTIONS_SCHEMA`,
    so collecting it runs no Spark job. A missing ``path`` reads as an
    empty table. Without ``path``, ``table`` resolves through the
    session catalog (temp view / warehouse table) and Spark plans the
    query as TakeOrderedAndProject — no global sort materialized.
    """
    if not isinstance(limit, int) or limit < 0:
        raise ValueError("limit must be a non-negative int")
    if path:
        return spark.createDataFrame(latest_predictions(path, limit), schema=PREDICTIONS_SCHEMA)
    return spark.table(table).orderBy("timestamp", ascending=False).limit(limit)


# -- predictions store -------------------------------------------------
#
# A store is a directory of parquet files, one per insert, all read and
# written through ``pyarrow.fs`` on the driver. A file the driver
# writes is named ``part-<ts>-<uuid>.parquet``, where ``<ts>`` is the
# largest ``timestamp`` in its rows in microseconds since the epoch
# (the write time for a file with no rows). The name is a bound: no row
# in ``part-<ts>-*`` is newer than ``<ts>``. It plays the part of the
# reference's ``MergeTree ORDER BY timestamp`` (`src/database.py:58-59`):
# a top-k read lists the directory and opens files newest name first,
# so it reads the newest files only, however many rows the store holds.
# Any other visible ``*.parquet`` file (for example one appended by a
# Spark write job) carries no bound and is always read.
#
# ``path`` is a plain local path or a URI that ``pyarrow.fs`` resolves
# (``file://``, ``hdfs://``, ``s3://``, ``gs://``). Hadoop-only schemes
# such as ``s3a://`` are not supported for the store.

#: A file name that carries the bound: ``part-<16-digit µs>-<uuid4 hex>``.
_BOUNDED_NAME = re.compile(r"part-(\d{16})-[0-9a-f]{32}\.parquet")


def _store(path: str) -> tuple[pafs.FileSystem, str]:
    """The filesystem of the store at ``path`` and the directory's path
    on it."""
    if urlparse(path).scheme:
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), os.path.abspath(path)


def _visible_files(fs: pafs.FileSystem, root: str) -> list[pafs.FileInfo]:
    """The store's readable files: visible ``*.parquet`` names only.
    Names starting with ``.`` or ``_`` are skipped, as Spark's file
    index skips them, so in-flight ``.part-*`` files and ``_SUCCESS``
    markers are never read. A missing directory has no files."""
    infos = fs.get_file_info(pafs.FileSelector(root, allow_not_found=True))
    return [i for i in infos if i.base_name.endswith(".parquet") and i.base_name[0] not in "._"]


def _write_predictions_file(path: str, rows: pa.Table) -> None:
    """Publish ``rows`` as one new zstd parquet file in the store at
    ``path``, encoded on the driver: no Spark job runs.

    The file is named after the largest ``timestamp`` in ``rows`` (see
    the store notes above), which keeps the name bound true. The bytes
    go to a hidden ``.part-<ts>-<uuid>.parquet`` first and are then
    moved to the visible name, so a reader listing the directory
    mid-write never opens a half-written file. The unique name means
    concurrent writers (serving threads, other processes) never touch
    each other's files.
    """
    fs, root = _store(path)
    ts = rows.column("timestamp").cast(pa.int64()).to_numpy()
    newest = int(ts.max()) if len(ts) else time.time_ns() // 1000
    name = f"part-{newest:016d}-{uuid.uuid4().hex}.parquet"
    fs.create_dir(root, recursive=True)
    with fs.open_output_stream(f"{root}/.{name}", compression=None) as out:
        pq.write_table(rows, out, compression="zstd")
    fs.move(f"{root}/.{name}", f"{root}/{name}")


def latest_predictions(path: str, limit: int) -> pa.Table:
    """The ``limit`` newest rows of the store at ``path``, newest
    first, as an Arrow table with the schema of the files the driver
    writes. A missing ``path`` reads as an empty table.

    The directory is listed once. Files without a bound are always
    read; bounded files are read newest name first, and reading stops
    once ``limit`` rows are at least as new as the next file's bound,
    because no unread row can be newer than that bound. Rows whose
    timestamps tie at the cut may differ from a full scan's pick, as a
    full scan's own pick among ties is arbitrary. Every file is read
    with the schema pinned, which also reads the INT96 timestamps of
    files written by Spark.
    """
    if not isinstance(limit, int) or limit < 0:
        raise ValueError("limit must be a non-negative int")
    fs, root = _store(path)
    bounded, unbounded = [], []
    for info in _visible_files(fs, root):
        m = _BOUNDED_NAME.fullmatch(info.base_name)
        if m:
            bounded.append((int(m.group(1)), info.path))
        else:
            unbounded.append(info.path)
    bounded.sort(reverse=True)

    tables = []
    newest = np.empty(0, dtype=np.int64)  # the ``limit`` newest timestamps read, ascending
    for bound, file_path in [(None, p) for p in unbounded] + bounded:
        if bound is not None and len(newest) == limit and (limit == 0 or newest[0] >= bound):
            break
        t = pq.read_table(file_path, filesystem=fs, schema=_ARROW_PREDICTIONS_SCHEMA)
        tables.append(t)
        ts = np.concatenate([newest, t.column("timestamp").cast(pa.int64()).to_numpy()])
        newest = np.sort(ts)[max(len(ts) - limit, 0) :]
    if not tables:
        return _ARROW_PREDICTIONS_SCHEMA.empty_table()
    rows = pa.concat_tables(tables).sort_by([("timestamp", "descending")])
    return rows.slice(0, limit)


def create_predictions_table(spark: SparkSession, path: str) -> None:
    """Create-if-not-exists for the predictions store (SURVEY §2 S6),
    mirroring ``CREATE TABLE IF NOT EXISTS predictions``
    (`src/database.py:53-66`) — as a directory of
    parquet files any number of writers can add to, not a single-node
    MergeTree (see the store notes above).

    An empty table is one zero-row parquet file, so the directory
    reads as a table with :data:`PREDICTIONS_SCHEMA`. It is optional:
    :func:`insert_prediction` needs no prior create, and
    :func:`latest_predictions` reads a missing store as empty. The
    existence check and the write are not atomic, so two racing
    creates may both write an empty file; that is harmless, because
    each file has a unique name and adds no rows. ``spark`` is unused;
    the store is written on the driver.
    """
    if not _visible_files(*_store(path)):
        _write_predictions_file(path, _ARROW_PREDICTIONS_SCHEMA.empty_table())


def insert_prediction(
    spark: SparkSession, message: str, prediction: str, path: str
) -> None:
    """Append one served prediction with a server-side timestamp
    (SURVEY §2 S7) — the reference's per-request insert
    (`src/database.py:68-78`, called from `src/app.py:76`), with the
    driver clock standing in for ClickHouse's ``DEFAULT now()``
    (the clock ``current_timestamp()`` reads too).

    The row becomes one parquet file written by the driver (see
    :func:`_write_predictions_file`); the first insert into a missing
    ``path`` creates the table.

    Scale note: per-request audit is one driver-side file write and
    no Spark job, exactly the reference's one-row-per-request shape.
    Each row is still its own file, so a top-k read lists every file
    though it opens only the newest; a high-QPS deployment batches
    appends through the streaming sink (`bigdata_lab4_spark.streaming`)
    instead, which writes one file per micro-batch (SURVEY §4.3,
    row-at-a-time insert anti-pattern).
    """
    row = {"timestamp": datetime.now(timezone.utc), "message": message, "prediction": prediction}
    _write_predictions_file(path, pa.Table.from_pylist([row], schema=_ARROW_PREDICTIONS_SCHEMA))
