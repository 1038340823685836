"""SQL entry point.

The reference's entire declarative-query surface is a SQL string
handed to ClickHouse (`/root/reference/src/database.py:41-51,80-88`).
The Spark-native equivalent is one line: ``spark.sql`` — parse
(ANTLR) → analyze (catalog binding) → Catalyst optimize → physical
plan → execute. ``run_sql`` is that entry point with the test tables
mounted.
"""

from __future__ import annotations

import os
import time
import uuid
from datetime import datetime, timezone

import pyarrow as pa
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
    (`/root/reference/src/database.py:80-88`). Spark plans this as
    TakeOrderedAndProject — no global sort materialized.

    ``path`` reads a parquet predictions table written by
    :func:`insert_prediction` with :data:`PREDICTIONS_SCHEMA` pinned,
    so no call infers a schema from file footers; without it,
    ``table`` resolves through the session catalog (temp view /
    warehouse table).
    """
    if not isinstance(limit, int) or limit < 0:
        raise ValueError("limit must be a non-negative int")
    src = spark.read.schema(PREDICTIONS_SCHEMA).parquet(path) if path else spark.table(table)
    return src.orderBy("timestamp", ascending=False).limit(limit)


def _write_predictions_file(spark: SparkSession, path: str, rows: pa.Table) -> None:
    """Publish ``rows`` as one new zstd parquet file in the ``path``
    directory, encoded on the driver: no Spark job runs.

    The bytes go to a hidden ``.part-<ts>-<uuid>.parquet`` first and
    are then renamed to the visible name. The leading ``.`` matters:
    Spark's file index skips names that start with ``.`` or ``_``, so
    a reader listing the directory mid-write never opens a half-written
    file. The unique name means concurrent writers (serving threads,
    other processes) never touch each other's files.

    The write goes through the Hadoop FileSystem API, so ``path`` may
    live on any filesystem Spark can read (HDFS/S3A/local). Spark
    Connect sessions expose no py4j bridge (``_jvm``/``_jsc`` are
    private classic-session API); there the file is written to the
    driver-local ``path`` instead. Remote filesystems under Connect
    are out of scope, matching the reference's single ClickHouse
    connection.
    """
    buf = pa.BufferOutputStream()
    pq.write_table(rows, buf, compression="zstd")
    data = buf.getvalue().to_pybytes()
    name = f"part-{time.time_ns() // 1000:016d}-{uuid.uuid4().hex}.parquet"
    jvm = getattr(spark, "_jvm", None)
    if jvm is None:
        os.makedirs(path, exist_ok=True)
        tmp = os.path.join(path, "." + name)
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, os.path.join(path, name))
        return
    jpath = jvm.org.apache.hadoop.fs.Path
    tmp, final = jpath(path, "." + name), jpath(path, name)
    fs = final.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(tmp, False)
    try:
        out.write(data)
    finally:
        out.close()
    if not fs.rename(tmp, final):
        fs.delete(tmp, False)
        raise OSError(f"could not rename {tmp} to {final}")


def create_predictions_table(spark: SparkSession, path: str) -> None:
    """Create-if-not-exists for the predictions sink (SURVEY §2 S6),
    mirroring ``CREATE TABLE IF NOT EXISTS predictions``
    (`/root/reference/src/database.py:53-66`) — but as a parquet
    directory any number of writers can add files to, not a
    single-node MergeTree.

    An empty table is one zero-row parquet file, so the directory
    reads as a table with :data:`PREDICTIONS_SCHEMA`. It is optional:
    :func:`insert_prediction` needs no prior create. The existence
    check and the write are not atomic, so two racing creates may
    both write an empty file; that is harmless, because each file has
    a unique name and adds no rows.
    """
    jvm = getattr(spark, "_jvm", None)
    if jvm is not None:
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        names = [st.getPath().getName() for st in fs.listStatus(jpath)] if fs.isDirectory(jpath) else []
    else:
        names = os.listdir(path) if os.path.isdir(path) else []
    if any(n.endswith(".parquet") and n[0] not in "._" for n in names):
        return
    _write_predictions_file(spark, path, _ARROW_PREDICTIONS_SCHEMA.empty_table())


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
    Each row is still its own file, so readers list and open one file
    per row; a high-QPS deployment batches appends through the
    streaming sink (`bigdata_lab4_spark.streaming`) instead, which
    writes one file per micro-batch (SURVEY §4.3, row-at-a-time insert
    anti-pattern).
    """
    row = {"timestamp": datetime.now(timezone.utc), "message": message, "prediction": prediction}
    _write_predictions_file(
        spark, path, pa.Table.from_pylist([row], schema=_ARROW_PREDICTIONS_SCHEMA)
    )
