"""Streaming CDC apply: fold a change stream into a Hive-partitioned
lake table as row-grain upserts.

The reference replays DB changes by re-dumping whole partitions on a
schedule (pipelines/utils/dump_db/tasks.py:401-435 replace semantics);
this is the streaming completion: each micro-batch collapses to its
newest row per business key and merges into the table through
``sinks.partitioned.merge_upsert`` — only the partitions present in
the batch are rewritten, everything else stays byte-identical.

Scale shape per batch: one window shuffle on the key (batch-local,
batch-sized), one partition-pruned scan of the affected partitions,
one anti-join, one staged write. Checkpointing makes redelivery safe:
re-applying a batch is an idempotent merge (pinned by test for the
underlying sink).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.utils import AnalysisException

from pipelines_spark.operators.dedup import last_row_per_key
from pipelines_spark.sinks.partitioned import (
    is_missing_path,
    merge_upsert,
    write_partitioned,
)


def run_cdc_upsert_stream(
    source: DataFrame,
    *,
    keys: list[str],
    order_col: str,
    path: str,
    partition_cols: list[str],
    checkpoint_path: str,
    tiebreak: list[str] | None = None,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Start a stream that upserts ``source`` changes into ``path``.

    Within each micro-batch, only the newest row per ``keys`` (by
    ``order_col``, then ``tiebreak``) is applied — a batch carrying
    several versions of one key folds to its final state before the
    merge, exactly like MERGE over a deduplicated CDC feed. The first
    batch against a not-yet-existing table falls back to a plain
    partitioned write.
    """

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # the merge evaluates its input several times (combo collect,
        # staged write); persist so the batch source is read and the
        # dedup window shuffled once, not once per action
        latest = last_row_per_key(
            batch_df, keys=keys, order_col=order_col, tiebreak=tiebreak
        ).persist()
        try:
            merge_upsert(batch_df.sparkSession, path, latest, keys, partition_cols)
        except AnalysisException as e:
            # bootstrap ONLY when the table doesn't exist yet; any
            # other analysis error (schema drift, bad columns) must
            # surface, not silently degrade into an append
            if not is_missing_path(batch_df.sparkSession, path, e):
                raise
            write_partitioned(latest, path, partition_cols, mode="append")
        finally:
            latest.unpersist()

    writer = source.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint_path
    )
    if trigger:
        writer = writer.trigger(**trigger)
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()
