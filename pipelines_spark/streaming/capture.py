"""Streaming capture: the reference's 1-minute micro-batch class
re-expressed as a Structured Streaming query.

Reference semantics reproduced (SURVEY T1/T5/T9, §3.2):
- tumbling capture windows (trigger interval = the Prefect
  IntervalClock cadence, pipelines/rj_smtr/constants.py:811,830)
- watermark delay for late/settling data (``delay_minutes``,
  pipelines/rj_smtr/tasks.py:800-809,1312-1325)
- dedup on (primary key, capture timestamp)
  (pipelines/rj_smtr/tasks.py:1472)
- dual sink per micro-batch: verbatim raw zone + nested staging zone
  (content JSON payload), both partitioned ``data=…/hora=…``
  (pipelines/rj_smtr/tasks.py:328-348) — via ``foreachBatch`` so one
  stream drives both writes atomically per batch
- capture-log rows appended per batch (success accounting that the
  recapture spine reconciles, SURVEY T4).

Replay contract (the reference's same-filename re-upload): raw and
staging land under ``data=…/hora=…/_batch_id=…``
(sinks/partitioned.py::write_batch, dynamic partition overwrite).
``foreachBatch`` is at-least-once, so a batch re-run after a crash
before its checkpoint commit gets the same batch id and replaces its
own files; the zones end as one run would leave them. Its partition
values are replay-stable: the event time, or ``timestamp_captura``,
which inside a stream is the batch timestamp recorded in the offset
log. An empty batch writes no files. The capture-log row is an append,
so a replay may repeat it (sinks/logs.py).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from pipelines_spark.functions.json_ops import nest_payload
from pipelines_spark.sinks.logs import write_log_rows
from pipelines_spark.sinks.partitioned import write_batch


def run_capture_stream(
    source: DataFrame,
    *,
    keys: list[str],
    event_ts_col: str,
    raw_path: str,
    staging_path: str,
    checkpoint_path: str,
    log_path: str | None = None,
    watermark_delay: str = "2 minutes",
    trigger: dict | None = None,
) -> StreamingQuery:
    """Start the capture stream over a streaming DataFrame.

    ``source`` is any streaming source (file, rate, Kafka-shaped).
    Each micro-batch is stamped with ``timestamp_captura``, deduped on
    (keys, event ts) within the watermark, then written raw + staged.
    """
    deduped = (
        source.withWatermark(event_ts_col, watermark_delay)
        .dropDuplicates([*keys, event_ts_col])
        .withColumn("timestamp_captura", F.current_timestamp())
        .withColumn("data", F.date_format(event_ts_col, "yyyy-MM-dd"))
        .withColumn("hora", F.date_format(event_ts_col, "HH"))
    )

    def sink_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            if not batch_df.isEmpty():
                write_batch(batch_df, raw_path, batch_id, ["data", "hora"])
                part_ts = event_ts_col if event_ts_col in keys else "timestamp_captura"
                staged = nest_payload(
                    batch_df.drop("data", "hora"), keys, capture_ts_col="timestamp_captura"
                ).withColumns(
                    {
                        "data": F.date_format(part_ts, "yyyy-MM-dd"),
                        "hora": F.date_format(part_ts, "HH"),
                    }
                )
                write_batch(staged, staging_path, batch_id, ["data", "hora"])
            if log_path:
                # the drift monitor logs its per-window verdicts into
                # the SAME table
                write_log_rows(
                    batch_df.sparkSession, log_path,
                    [(time.time_ns() // 1000, True, None, batch_id)],
                )
        finally:
            batch_df.unpersist()

    writer = deduped.writeStream.foreachBatch(sink_batch).option(
        "checkpointLocation", checkpoint_path
    )
    if trigger:
        writer = writer.trigger(**trigger)
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def dedup_within_watermark(
    source: DataFrame,
    *,
    keys: list[str],
    event_ts_col: str,
    watermark_delay: str = "2 minutes",
) -> DataFrame:
    """Streaming dedup for at-least-once sources whose RETRANSMISSION
    carries a different event timestamp (so the exact
    (keys, event_ts) dedup in ``run_capture_stream`` cannot catch it
    — the reference's capture identity is pk + timestamp_captura,
    SURVEY T9, and a re-capture restamps the timestamp).

    ``dropDuplicatesWithinWatermark`` keys the state on ``keys`` only
    and evicts each entry once the watermark passes its event time
    plus the delay — per-key state is bounded by the watermark
    horizon, never by stream length, which is the 100 TB contract for
    an unbounded stream. A key that legitimately recurs after the
    horizon passes through as a new row.
    """
    return source.withWatermark(event_ts_col, watermark_delay).dropDuplicatesWithinWatermark(
        keys
    )


def run_capture_with_drift_monitor(
    source: DataFrame,
    *,
    keys: list[str],
    event_ts_col: str,
    value_col: str,
    raw_path: str,
    staging_path: str,
    checkpoint_path: str,
    log_path: str,
    histogram_path: str,
    monitor_checkpoint_path: str,
    reference: DataFrame,
    bins: int = 10,
    monitor_window: str = "1 hour",
    watermark_delay: str = "2 minutes",
    alert_threshold: float = 0.2,
    max_null_frac: float | None = None,
    trigger: dict | None = None,
) -> tuple[StreamingQuery, StreamingQuery]:
    """The composed capture flow: the dual-sink capture stream PLUS a
    windowed values-drift monitor over the same source, both logging
    into the SAME capture-log table (K10) — batch successes from the
    capture side, per-window PSI verdicts from the monitor side
    (reference shape: capture checks + run logs,
    pipelines/rj_smtr/utils.py:939-1006,1139-1206).

    Structured Streaming allows one aggregation per query, so the
    monitor is a SECOND query over the source, not a stage inside the
    capture ``foreachBatch`` — each keeps its own checkpoint, and a
    file/Kafka source replays identically into both. The reference
    distribution is derived ONCE from the batch ``reference`` frame
    (two bounded scans); per micro-batch the monitor is map-side
    binning + one windowed count.
    """
    from pipelines_spark.streaming.drift_stream import (
        reference_histogram,
        run_drift_monitor_stream,
    )

    vmin, vmax, shares = reference_histogram(
        reference, value_col, bins=bins
    )
    capture_q = run_capture_stream(
        source,
        keys=keys,
        event_ts_col=event_ts_col,
        raw_path=raw_path,
        staging_path=staging_path,
        checkpoint_path=checkpoint_path,
        log_path=log_path,
        watermark_delay=watermark_delay,
        trigger=trigger,
    )
    monitor_q = run_drift_monitor_stream(
        source,
        value_col=value_col,
        ts_col=event_ts_col,
        vmin=vmin,
        vmax=vmax,
        shares=shares,
        histogram_path=histogram_path,
        checkpoint_path=monitor_checkpoint_path,
        log_path=log_path,
        bins=bins,
        window=monitor_window,
        watermark_delay=watermark_delay,
        alert_threshold=alert_threshold,
        max_null_frac=max_null_frac,
        trigger=trigger,
    )
    return capture_q, monitor_q
