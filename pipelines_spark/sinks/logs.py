"""Capture-log sink (SURVEY K10, §1.1 capture-log table) and the one
writer of driver-built bookkeeping rows.

One row per (table, scheduled timestamp) attempt:
``(timestamp_captura, sucesso, erro, batch_id, data)`` partitioned by
``data`` (reference: pipelines/rj_smtr/utils.py:939-1006
``upload_run_logs_to_bq``; ``[recapturado]`` prefix on healed rows at
:976-985). The log table is what the recapture spine (operators.spine)
anti-joins against, so appends must be atomic per batch.

Every row goes through ``write_log_rows``, which owns the schema and
the ``data`` partition. Its producers:

- ``append_capture_log``: capture windows, recaptures and maintenance
  runs (flows.py), ``batch_id`` NULL;
- streaming/capture.py: one success row per micro-batch, stamped with
  its ``batch_id``;
- streaming/drift_stream.py: one verdict row per closed monitor
  window, stamped with the micro-batch that closed it (the verdicts
  are collected: one row per closed window, a bounded set).

Rows built on the driver go through ``append_rows``; frames computed
by Spark are written by Spark. ``append_rows`` serves this table and
the watermark store (state/watermark.py): pyarrow encodes the rows as
one in-memory parquet file per ``data=`` day, and the bytes go out
through the path's Hadoop FileSystem, so ``file://``, ``hdfs://`` and
``s3a://`` paths all work. No Spark job runs and no Python worker
starts, where a Spark write of one row cost a job and a commit (about
0.2-0.3 s warm on ``local[4]``). Like a Structured Streaming offset
log, the file is atomic by a rename: it is written under a
``.``-prefixed name, which Spark's file listing skips, and then
renamed to ``part-<uuid>.parquet``. A writer that dies before the
rename leaves only a hidden file, and the table reads as before.

The files match what a Spark write of the same rows would read as:
timestamps are ``TIMESTAMP(MICROS, UTC)`` parquet columns (Spark's
own files store INT96; both read as ``timestamp``), booleans, strings
and int64. A naive ``datetime`` becomes an instant by the local-time
conversion ``createDataFrame`` and ``F.lit`` apply
(``TimestampType.toInternal``); an ``int`` is taken as epoch
microseconds already. A row's ``data`` is its instant's day in the
session time zone, resolved by Spark's own ``DateTimeUtils``, so it
equals ``date_format(timestamp_captura, 'yyyy-MM-dd')`` and
``read_log`` finds the row under the day it asks for.

One schema for every producer means a plain (non-mergeSchema) read
sees every column regardless of which file's footer Spark samples.
``read_log`` reads the table back with that schema, from only the
``data=`` directories of a range of days that exist, so the recapture
spine neither lists nor scans the rest of the log's history.

Rows are appended, never replaced: a micro-batch replayed after a
crash before its checkpoint commit logs its row again, with the same
``batch_id``. Count distinct ``batch_id`` values, not rows, to count
stream batches; the recapture spine only asks whether a timestamp has
a success row, which a repeat does not change.

Layout migration note: the table has been ``partitionBy("data")``
since round 10. A log directory written by a PRE-round-10 deployment
(unpartitioned files at the root) must be rewritten once
(``spark.read.parquet(old).write.partitionBy("data").parquet(new)``)
or pointed at a fresh path — Spark's partition discovery rejects a
directory mixing root-level data files with ``data=...`` dirs.
"""

from __future__ import annotations

import uuid
from datetime import date, datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from pipelines_spark.sinks.partitioned import _hadoop_fs

LOG_SCHEMA = T.StructType(
    [
        T.StructField("timestamp_captura", T.TimestampType(), False),
        T.StructField("sucesso", T.BooleanType(), False),
        T.StructField("erro", T.StringType(), True),
        # micro-batch id, stamped by the streaming writers sharing the
        # table; NULL on batch appends (one schema for all producers)
        T.StructField("batch_id", T.LongType(), True),
    ]
)

_EPOCH = date(1970, 1, 1)


def _micros(value) -> int | None:
    """A timestamp value as epoch microseconds: an ``int`` already is
    one; a ``datetime`` is converted as ``createDataFrame`` does."""
    if value is None or isinstance(value, int):
        return value
    return T.TimestampType().toInternal(value)


def _session_days(spark: SparkSession, values: list) -> list[date]:
    """The day, in the session time zone, of each timestamp value: epoch
    microseconds, a ``datetime``, or a string, which is parsed as
    Spark's cast to timestamp parses it. Zone, parse and day come from
    Spark's own ``DateTimeUtils``, so a day equals
    ``date_format(ts, 'yyyy-MM-dd')`` of the stored instant."""
    jvm = spark._jvm
    dtu = jvm.org.apache.spark.sql.catalyst.util.DateTimeUtils
    zone = dtu.getZoneId(spark.conf.get("spark.sql.session.timeZone"))
    days = []
    for v in values:
        if isinstance(v, str):
            utf8 = jvm.org.apache.spark.unsafe.types.UTF8String.fromString(v)
            parsed = dtu.stringToTimestamp(utf8, zone)
            if parsed.isEmpty():
                raise ValueError(f"not a timestamp: {v!r}")
            v = parsed.get()
        days.append(_EPOCH + timedelta(days=dtu.microsToDays(_micros(v), zone)))
    return days


def append_rows(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    rows: list[tuple],
    *,
    day_col: str | None = None,
) -> None:
    """Append ``rows`` (tuples in ``schema`` order) to the parquet table
    at ``path`` from the driver, without a Spark job: one file per
    append, or with ``day_col`` one file under each ``data=<day>`` of
    that timestamp column's session-time-zone days. Each file is
    written under a hidden name and renamed into place."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if not rows:
        return
    arrow_types = {
        T.TimestampType(): pa.timestamp("us", tz="UTC"),
        T.BooleanType(): pa.bool_(),
        T.StringType(): pa.string(),
        T.LongType(): pa.int64(),
    }
    is_ts = [isinstance(f.dataType, T.TimestampType) for f in schema]
    rows = [tuple(_micros(v) if ts else v for v, ts in zip(r, is_ts)) for r in rows]
    by_dir: dict[str, list[tuple]] = {}
    if day_col is None:
        by_dir[""] = rows
    else:
        i = schema.names.index(day_col)
        instants = list({r[i] for r in rows})
        days = dict(zip(instants, _session_days(spark, instants)))
        for r in rows:
            by_dir.setdefault(f"/data={days[r[i]].isoformat()}", []).append(r)
    arrow_schema = pa.schema(
        [pa.field(f.name, arrow_types[f.dataType], f.nullable) for f in schema]
    )
    fs, root = _hadoop_fs(spark, path)
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    for sub, part in by_dir.items():
        table = pa.Table.from_pylist(
            [dict(zip(schema.names, r)) for r in part], schema=arrow_schema
        )
        buf = pa.BufferOutputStream()
        pq.write_table(table, buf)
        name = f"part-{uuid.uuid4().hex}.parquet"
        directory = f"{root.toString()}{sub}"
        tmp, final = jpath(f"{directory}/.{name}"), jpath(f"{directory}/{name}")
        out = fs.create(tmp, False)
        try:
            out.write(bytearray(buf.getvalue().to_pybytes()))
        finally:
            out.close()
        if not fs.rename(tmp, final):
            fs.delete(tmp, False)
            raise OSError(f"could not rename {tmp} to {final}")


def write_log_rows(spark: SparkSession, path: str, rows: list[tuple]) -> None:
    """Append ``rows`` (``LOG_SCHEMA`` tuples) to the log table at
    ``path``, one file per ``data`` day of their
    ``timestamp_captura``."""
    append_rows(spark, path, LOG_SCHEMA, rows, day_col="timestamp_captura")


def read_log(spark: SparkSession, path: str, start, end) -> DataFrame:
    """The log table at ``path`` with its ``data`` column, read with
    ``LOG_SCHEMA`` (no schema-inference job) from only those ``data=``
    directories of the days from ``start`` to ``end`` that exist
    (capture timestamps or their strings): one existence probe per
    day, no listing of the rest of the log. An empty frame when none
    exists."""
    fs, root = _hadoop_fs(spark, path)
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    first, last = _session_days(spark, [start, end])
    days = (first + timedelta(days=n) for n in range((last - first).days + 1))
    dirs = [f"{root.toString()}/data={d.isoformat()}" for d in days]
    dirs = [d for d in dirs if fs.exists(jpath(d))]
    schema = T.StructType([*LOG_SCHEMA.fields, T.StructField("data", T.StringType())])
    return spark.read.schema(schema).option("basePath", root.toString()).parquet(*dirs)


def append_capture_log(
    spark: SparkSession,
    path: str,
    timestamps: list[datetime],
    *,
    success: bool,
    error: str | None = None,
    recapture: bool = False,
) -> None:
    """Append one log row per captured timestamp through
    ``write_log_rows``."""
    err = error
    if recapture:
        err = f"[recapturado]{error or ''}"
    write_log_rows(spark, path, [(ts, success, err, None) for ts in timestamps])
