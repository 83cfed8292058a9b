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
  runs (flows.py), ``batch_id`` NULL;
- streaming/capture.py: one success row per micro-batch, stamped with
  its ``batch_id``;
- streaming/drift_stream.py: one verdict row per closed monitor
  window, stamped with the micro-batch that closed it.

One schema for every producer means a plain (non-mergeSchema) read
sees every column regardless of which file's footer Spark samples.

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

    ``repartition(1)``, not ``coalesce(1)``: coalescing would also run
    the row conversion of a ``createDataFrame`` list (one Python worker
    pass per input slice) serially in the single write task, which
    measured about twice as slow for a one-row append."""
    (
        rows.select(*(F.col(f.name).cast(f.dataType) for f in LOG_SCHEMA))
        .withColumn("data", F.date_format("timestamp_captura", "yyyy-MM-dd"))
        .repartition(1)
        .write.mode("append")
        .partitionBy("data")
        .parquet(path)
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
    """Append one log row per captured timestamp."""
    err = error
    if recapture:
        err = f"[recapturado]{error or ''}"
    rows = [(ts, success, err, None) for ts in timestamps]
    write_log_rows(spark.createDataFrame(rows, LOG_SCHEMA), path)
