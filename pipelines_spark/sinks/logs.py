"""Capture-log sink (SURVEY K10, §1.1 capture-log table).

One row per (table, scheduled timestamp) attempt:
``(timestamp_captura, sucesso, erro, batch_id, data)`` partitioned by
``data`` (reference: pipelines/rj_smtr/utils.py:939-1006
``upload_run_logs_to_bq``; ``[recapturado]`` prefix on healed rows at
:976-985). The log table is what the recapture spine (operators.spine)
anti-joins against, so appends must be atomic per batch.

Every row goes through ``write_log_rows``, which owns the schema and
the ``data`` partition. Its producers:

- ``append_capture_log``: capture windows, recaptures and maintenance
  runs (flows.py), ``batch_id`` NULL, built by ``literal_rows``;
- streaming/capture.py: one success row per micro-batch, stamped with
  its ``batch_id``;
- streaming/drift_stream.py: one verdict row per closed monitor
  window, stamped with the micro-batch that closed it.

One schema for every producer means a plain (non-mergeSchema) read
sees every column regardless of which file's footer Spark samples.

Bookkeeping rows built on the driver (this table's batch rows, the
watermark store's rows) go through ``literal_rows``: typed literal
columns over a one-partition range, all in the JVM. A Python
``createDataFrame`` would convert each row in a Python worker (and
start that worker on a session's first call), which cost more than
the one-row write itself.

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

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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


def write_log_rows(rows: DataFrame, path: str) -> None:
    """Append ``rows`` (the ``LOG_SCHEMA`` columns, by name) to the log
    table at ``path``, partitioned by the ``data`` of their
    ``timestamp_captura``, in one file per append.

    ``repartition(1)``, not ``coalesce(1)``: the drift monitor's
    verdict rows come out of an aggregation, whose reduce stage a
    coalesce would pull into the single write task. On a one-partition
    ``literal_rows`` relation the extra exchange is cheap (about 0.03 s
    of a 0.2 s one-row append on ``local[4]``)."""
    (
        rows.select(*(F.col(f.name).cast(f.dataType) for f in LOG_SCHEMA))
        .withColumn("data", F.date_format("timestamp_captura", "yyyy-MM-dd"))
        .repartition(1)
        .write.mode("append")
        .partitionBy("data")
        .parquet(path)
    )


def literal_rows(
    spark: SparkSession, schema: T.StructType, rows: list[tuple]
) -> DataFrame:
    """``rows`` as a one-partition frame of ``schema``, built from
    literal columns in the JVM: no Python worker, no Spark job until
    an action. Each value is cast to its field's type; a naive
    ``datetime`` becomes a timestamp by the same local-time conversion
    ``createDataFrame`` applies, so the stored instants are identical.
    An empty ``rows`` gives an empty frame of ``schema``."""
    structs = [
        F.struct(*(F.lit(v).cast(f.dataType).alias(f.name) for v, f in zip(r, schema)))
        for r in rows
    ]
    return spark.range(1, numPartitions=1).select(
        F.inline(F.array(*structs) if structs else F.array().cast(T.ArrayType(schema)))
    )


def append_capture_log(
    spark: SparkSession,
    path: str,
    timestamps: list[datetime],
    *,
    success: bool,
    error: str | None = None,
    recapture: bool = False,
) -> None:
    """Append one log row per captured timestamp, built by
    ``literal_rows`` and written by ``write_log_rows``."""
    err = error
    if recapture:
        err = f"[recapturado]{error or ''}"
    rows = [(ts, success, err, None) for ts in timestamps]
    write_log_rows(literal_rows(spark, LOG_SCHEMA, rows), path)
