"""Watermark store — the engine's incremental-processing state.

The reference keeps per-table watermarks (``last_run_timestamp``) and
per-key watermarks (per-station last measurement) in Redis
(reference: pipelines/rj_smtr/tasks.py:1279-1309
``set_last_run_timestamp``; pipelines/rj_smtr/utils.py:264-294
``get_last_run_timestamp``; per-key
pipelines/utils/utils.py:1013-1108 ``save_updated_rows_on_redis``;
fallback to MAX(ts) of the target table
pipelines/rj_smtr/tasks.py:1185-1276).

Here the state is a small parquet table of
``(scope, key, watermark_ts, watermark_id)`` — readable by any Spark
job, updated append-only with last-write-wins resolution (max over
appends), so concurrent writers can't lose advances. At cluster scale
this table stays tiny (one row per table/key), always broadcast in
joins against fact data.

Rows built on the driver go through ``sinks/logs.py::append_rows``;
frames computed by Spark are written by Spark. So a
``set_table_watermark`` appends its one row as a parquet file that
the driver encodes and renames into place: no Spark job, no Python
worker. ``advance_from`` aggregates a batch, and its result is written
by a distributed Spark write that never passes through the driver.
Reads follow the same rule: a scalar is read on the driver, per-key
frames by Spark. ``get_table_watermark`` decodes the store's files
with pyarrow and takes the max itself (no Spark job);
``current`` and ``filter_newer`` stay Spark frames, sized by the key
space.
Whether the table exists yet is asked of the Hadoop FileSystem of its
path (``sinks/partitioned.py::_hadoop_fs``), so a store at a
``file://``, ``hdfs://`` or ``s3a://`` URI reads back what it wrote,
like one at a bare local path.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pipelines_spark.sinks.logs import append_rows
from pipelines_spark.sinks.partitioned import _hadoop_fs

STATE_SCHEMA = T.StructType(
    [
        T.StructField("scope", T.StringType(), False),
        T.StructField("key", T.StringType(), False),
        T.StructField("watermark_ts", T.TimestampType(), True),
        T.StructField("watermark_id", T.LongType(), True),
        T.StructField("updated_at", T.TimestampType(), False),
    ]
)

GLOBAL_KEY = "__table__"


class WatermarkStore:
    """Append-only watermark table with max-merge reads."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _read(self) -> DataFrame:
        fs, hpath = _hadoop_fs(self.spark, self.path)
        paths = [self.path] if fs.exists(hpath) else []
        return self.spark.read.schema(STATE_SCHEMA).parquet(*paths)

    def current(self, scope: str) -> DataFrame:
        """Effective per-key watermarks for a scope (max over appends)."""
        return (
            self._read()
            .filter(F.col("scope") == scope)
            .groupBy("key")
            .agg(
                F.max("watermark_ts").alias("watermark_ts"),
                F.max("watermark_id").alias("watermark_id"),
            )
        )

    def get_table_watermark(self, scope: str) -> tuple[datetime | None, int | None]:
        """The table-global watermark of ``scope``: ``current(scope)``'s
        ``GLOBAL_KEY`` row, computed on the driver. Every visible file of
        the store (names starting with ``_`` or ``.`` are skipped, as
        Spark's listing skips them) is read through the path's Hadoop
        FileSystem and decoded with pyarrow, Spark's INT96 and the
        driver's ``TIMESTAMP(MICROS)`` alike; the timestamp converts
        as ``collect`` converts it (``TimestampType.fromInternal``)."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        fs, root = _hadoop_fs(self.spark, self.path)
        if not fs.exists(root):
            return None, None
        read_bytes = self.spark._jvm.org.apache.commons.io.IOUtils.toByteArray
        prefix = len(root.toString())
        ts_maxes, id_maxes = [], []
        files = fs.listFiles(root, True)
        while files.hasNext():
            path = files.next().getPath()
            rel = path.toString()[prefix:].split("/")
            if any(part.startswith(("_", ".")) for part in rel if part):
                continue
            stream = fs.open(path)
            try:
                data = read_bytes(stream)
            finally:
                stream.close()
            t = pq.read_table(
                pa.BufferReader(data),
                columns=["scope", "key", "watermark_ts", "watermark_id"],
                coerce_int96_timestamp_unit="us",
            )
            t = t.filter(
                pc.and_(pc.equal(t["scope"], scope), pc.equal(t["key"], GLOBAL_KEY))
            )
            micros = t["watermark_ts"].cast(pa.timestamp("us")).cast(pa.int64())
            ts_maxes.append(pc.max(micros).as_py())
            id_maxes.append(pc.max(t["watermark_id"]).as_py())
        # max over files ignoring NULL, as SQL max does
        ts = max((v for v in ts_maxes if v is not None), default=None)
        id_ = max((v for v in id_maxes if v is not None), default=None)
        return T.TimestampType().fromInternal(ts), id_

    def set_table_watermark(
        self,
        scope: str,
        *,
        ts: datetime | None = None,
        id_: int | None = None,
    ) -> None:
        self._append([(scope, GLOBAL_KEY, ts, id_)])

    def advance_from(
        self,
        scope: str,
        df: DataFrame,
        *,
        key_col: str | None = None,
        ts_col: str | None = None,
        id_col: str | None = None,
        out_files: int = 1,
    ) -> None:
        """Advance watermarks to the max observed in ``df`` (per key
        if ``key_col`` given, else table-global). One aggregation job
        over the batch — runs map-side partial agg first — written
        STRAIGHT to the state table: the aggregated frame never
        materializes on the driver, so a huge key space advances with
        executor memory only. The one-row-per-key aggregate
        REPARTITIONS (not coalesces) to ``out_files`` files per
        advance — a coalesce would collapse the final aggregation
        stage itself into ``out_files`` tasks, serializing the reduce
        over one core; the repartition keeps the aggregation parallel
        and only funnels the tiny one-row-per-key result through an
        extra exchange. Default 1 file/advance avoids the small-files
        problem the state table exists to prevent."""
        key = F.col(key_col).cast("string") if key_col else F.lit(GLOBAL_KEY)
        aggs = [
            (F.max(ts_col) if ts_col else F.lit(None).cast("timestamp"))
            .cast("timestamp")
            .alias("watermark_ts"),
            (F.max(id_col).cast("long") if id_col else F.lit(None).cast("long")).alias("watermark_id"),
        ]
        out = (
            df.groupBy(key.alias("key"))
            .agg(*aggs)
            .select(
                F.lit(scope).alias("scope"),
                F.col("key"),
                F.col("watermark_ts"),
                F.col("watermark_id"),
                F.current_timestamp().alias("updated_at"),
            )
        )
        out.repartition(out_files).write.mode("append").parquet(self.path)

    def filter_newer(
        self,
        scope: str,
        df: DataFrame,
        *,
        key_col: str,
        ts_col: str,
    ) -> DataFrame:
        """Keep only rows newer than their key's watermark (per-key
        incremental filter, reference utils.py:1080-1094). Broadcast
        join — the state side is tiny by construction."""
        wm = self.current(scope).select(
            F.col("key"), F.col("watermark_ts").alias("_wm_ts")
        )
        cond = F.col(key_col).cast("string") == F.col("key")
        return (
            df.join(F.broadcast(wm), cond, "left")
            .filter(F.col("_wm_ts").isNull() | (F.col(ts_col) > F.col("_wm_ts")))
            .drop("key", "_wm_ts")
        )

    def source_newer_than_target(self, source_scope: str, target_scope: str) -> bool:
        """Skip-if-unchanged gate (SURVEY F7): run a materialization
        only when the source watermark moved past the target's
        (reference compare_dates_between_tables_redis,
        pipelines/utils/utils.py:985-1009)."""
        src_ts, _ = self.get_table_watermark(source_scope)
        tgt_ts, _ = self.get_table_watermark(target_scope)
        if src_ts is None:
            return False
        return tgt_ts is None or src_ts > tgt_ts

    def _append(self, rows: list[tuple]) -> None:
        # UTC wall clock, tz stripped: the audit column is NTZ by
        # convention and utcnow() is deprecated
        now = datetime.now(timezone.utc).replace(tzinfo=None)
        append_rows(self.spark, self.path, STATE_SCHEMA, [(*r, now) for r in rows])
