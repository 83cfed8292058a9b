"""Ingest bookkeeping at the cost of its own rows: capture-log and
watermark rows written by the driver (no Spark job, no Python worker)
and read back on any Hadoop URI, a staging table registered once per
session, and a quarantine cache released by the flow that consumed
it."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from datetime import datetime, timedelta

import pytest

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from pipelines_spark.flows import (
    recapture_missing,
    run_capture_window,
    run_dump_flow,
    run_materialization,
)
from pipelines_spark.plans.models import ModelRunner, SqlModel
from pipelines_spark.sinks import logs as log_sink
from pipelines_spark.sinks.logs import (
    LOG_SCHEMA,
    append_capture_log,
    append_rows,
    read_log,
    write_log_rows,
)
from pipelines_spark.sinks.partitioned import create_staging_table
from pipelines_spark.sources.files import read_with_quarantine
from pipelines_spark.state.watermark import STATE_SCHEMA, WatermarkStore

TIMESTAMPS = [
    datetime(2024, 1, 1, 0, 0),
    datetime(2024, 2, 18, 23, 30, 0, 123456),
    datetime(2019, 2, 16, 23, 30),  # Sao Paulo DST end: an hour that repeats
    datetime(2018, 11, 4, 0, 30),  # Sao Paulo DST gap
    datetime(1969, 12, 31, 23, 59, 59, 999999),
]


def _wait_for_listeners(sc):
    """Let the status store see every job event posted so far."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def _jobs_in(sc, group: str, fn) -> list[int]:
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    _wait_for_listeners(sc)
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("tz", ["UTC", "America/Sao_Paulo"])
def test_append_rows_equal_create_dataframe_rows(spark, tmp_path, monkeypatch, tz):
    """Rows the driver writes read back as the rows ``createDataFrame``
    builds: a naive datetime becomes an instant by the Python process's
    local time, also where that zone has DST gaps and overlaps. The
    ``data`` directory of a log row is its instant's day in the session
    time zone, as Spark formats it, and the parquet types are the
    ones Spark reads as the schema's."""
    import pyarrow.parquet as pq

    monkeypatch.setenv("TZ", tz)
    time.tzset()
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        for name, schema, rows in (
            ("log", LOG_SCHEMA, [(ts, i % 2 == 0, None if i else "x", None if i else 3)
                                 for i, ts in enumerate(TIMESTAMPS)]),
            ("wm", STATE_SCHEMA, [("s", "k", ts, None if i else 7, ts)
                                  for i, ts in enumerate(TIMESTAMPS)]
             + [("s", "k", None, 1, TIMESTAMPS[0])]),
        ):
            def micros(df):
                return sorted(df.select(
                    *(F.unix_micros(f.name).alias(f.name)
                      if f.name in ("timestamp_captura", "watermark_ts", "updated_at")
                      else F.col(f.name)
                      for f in schema)
                ).collect(), key=repr)

            path = str(tmp_path / name)
            if schema is LOG_SCHEMA:
                write_log_rows(spark, path, rows)
            else:
                append_rows(spark, path, schema, rows)
            back = spark.read.parquet(path)
            assert [(f.name, f.dataType) for f in back.schema.fields[: len(schema)]] == [
                (f.name, f.dataType) for f in schema
            ]
            assert micros(back) == micros(spark.createDataFrame(rows, schema))
            if schema is LOG_SCHEMA:
                assert back.filter(
                    F.col("data") != F.date_format("timestamp_captura", "yyyy-MM-dd")
                ).count() == 0
            one = next(p for p in (tmp_path / name).rglob("*.parquet"))
            ts_type = pq.ParquetFile(one).schema.column(schema.names.index(
                "timestamp_captura" if schema is LOG_SCHEMA else "updated_at")).logical_type
            ts_type = json.loads(ts_type.to_json())
            assert (ts_type["isAdjustedToUTC"], ts_type["timeUnit"]) == (True, "microseconds")
        write_log_rows(spark, str(tmp_path / "none"), [])
        assert not (tmp_path / "none").exists()
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        monkeypatch.delenv("TZ")
        time.tzset()


def test_multi_day_append_writes_one_file_per_day(spark, tmp_path):
    logs = tmp_path / "logs"
    days = [datetime(2024, 1, d, h) for d in (1, 2, 3) for h in (0, 12, 23)]
    append_capture_log(spark, str(logs), days, success=True)
    files = sorted(p.relative_to(logs).parts[0] for p in logs.rglob("*.parquet"))
    assert files == ["data=2024-01-01", "data=2024-01-02", "data=2024-01-03"]
    assert not list(logs.rglob(".*.parquet"))
    got = read_log(spark, str(logs), "2024-01-02 00:00:00", "2024-01-03 00:00:00")
    assert sorted(r["timestamp_captura"] for r in got.collect()) == days[3:]


def test_crash_before_rename_leaves_the_table_as_before(spark, tmp_path, monkeypatch):
    """A writer that dies after writing its file under the hidden temp
    name, before the rename, leaves the table reading as before."""
    logs = str(tmp_path / "logs")
    append_capture_log(spark, logs, [datetime(2024, 1, 1, 0, 0)], success=True)
    before = sorted(spark.read.parquet(logs).collect())
    real = log_sink._hadoop_fs

    class CrashBeforeRename:
        def __init__(self, fs):
            self.fs = fs

        def __getattr__(self, name):
            return getattr(self.fs, name)

        def rename(self, *_a):
            raise OSError("crash before the rename")

    def crashing_fs(spark_, path):
        fs, root = real(spark_, path)
        return CrashBeforeRename(fs), root

    monkeypatch.setattr(log_sink, "_hadoop_fs", crashing_fs)
    with pytest.raises(OSError, match="crash before the rename"):
        append_capture_log(spark, logs, [datetime(2024, 1, 1, 0, 1)], success=False)
    monkeypatch.undo()
    assert len(list((tmp_path / "logs").rglob(".part-*.parquet"))) == 1, "no temp file"
    assert sorted(spark.read.parquet(logs).collect()) == before
    got = read_log(spark, logs, "2024-01-01 00:00:00", "2024-01-01 00:01:00")
    assert [r["timestamp_captura"] for r in got.collect()] == [datetime(2024, 1, 1, 0, 0)]


def test_capture_log_roundtrip_on_file_uri(spark, tmp_path):
    uri = f"file://{tmp_path}/logs"
    append_capture_log(spark, uri, [datetime(2024, 1, 2, 3, 4)], success=True)
    append_capture_log(spark, uri, [datetime(2024, 1, 3, 0, 0)], success=False, error="e")
    for path in (uri, str(tmp_path / "logs")):
        got = read_log(spark, path, "2024-01-02 00:00:00", "2024-01-03 12:00:00")
        assert sorted((r["timestamp_captura"], r["sucesso"], r["erro"], r["data"])
                      for r in got.collect()) == [
            (datetime(2024, 1, 2, 3, 4), True, None, "2024-01-02"),
            (datetime(2024, 1, 3, 0, 0), False, "e", "2024-01-03"),
        ]
    assert read_log(spark, uri, "2024-02-01 00:00:00", "2024-02-02 00:00:00").count() == 0


def test_bookkeeping_rows_launch_no_spark_jobs(spark, tmp_path, monkeypatch):
    """A capture-log append, a table watermark and the capture stream's
    per-batch success row are written by the driver: 0 Spark jobs."""
    import pipelines_spark.streaming.capture as capture

    sc = spark.sparkContext
    logs = str(tmp_path / "logs")
    store = WatermarkStore(spark, str(tmp_path / "wm"))
    for i, fn in enumerate((
        lambda: append_capture_log(spark, logs, [datetime(2024, 1, 1, 0, 0)], success=True),
        lambda: store.set_table_watermark("t", ts=datetime(2024, 1, 1), id_=1),
        lambda: store.set_table_watermark("t", ts=datetime(2024, 1, 2), id_=2),
    )):
        assert _jobs_in(sc, f"bookkeeping-{i}", fn) == [], i
    assert store.get_table_watermark("t") == (datetime(2024, 1, 2), 2)

    # the stream's own log write, timed from inside its micro-batch
    write, stream_jobs = capture.write_log_rows, []

    def counted_write(spark_, path, rows):
        tracker = spark_.sparkContext.statusTracker()
        group = spark_.sparkContext.getLocalProperty("spark.jobGroup.id")
        _wait_for_listeners(spark_.sparkContext)
        seen = set(tracker.getJobIdsForGroup(group))
        write(spark_, path, rows)
        _wait_for_listeners(spark_.sparkContext)
        stream_jobs.append(set(tracker.getJobIdsForGroup(group)) - seen)

    monkeypatch.setattr(capture, "write_log_rows", counted_write)
    src = str(tmp_path / "src")
    spark.range(2).select(
        F.col("id").cast("string").alias("ordem"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("id")).alias("datahora"),
    ).coalesce(1).write.parquet(src)
    q = capture.run_capture_stream(
        spark.readStream.schema("ordem string, datahora timestamp").parquet(src),
        keys=["ordem"], event_ts_col="datahora", raw_path=str(tmp_path / "raw"),
        staging_path=str(tmp_path / "stg"), checkpoint_path=str(tmp_path / "ckpt"),
        log_path=str(tmp_path / "stream_logs"),
    )
    assert q.awaitTermination(120)
    assert stream_jobs and all(jobs == set() for jobs in stream_jobs), stream_jobs
    logged = spark.read.parquet(str(tmp_path / "stream_logs")).select("batch_id").collect()
    assert sorted(r["batch_id"] for r in logged) == list(range(len(stream_jobs)))


def test_drift_verdict_rows_are_unchanged(spark, tmp_path, monkeypatch):
    """The drift monitor's verdict rows, now collected and written by
    the driver, equal the rows the monitor logged when Spark wrote
    them (values recorded from that writer). One window starts at an
    instant whose Sao Paulo wall time repeats (the 2019 DST end), with
    both the process and the session in that zone: the instants are
    carried as epoch micros, so none shifts, and each ``data`` is the
    session day."""
    from pipelines_spark.streaming.drift_stream import (
        reference_histogram,
        run_drift_monitor_stream,
    )

    monkeypatch.setenv("TZ", "America/Sao_Paulo")
    time.tzset()
    base = 1550365200  # 2019-02-17 01:00 UTC, 23:00 in Sao Paulo (DST)
    ref = spark.range(1000).select((F.col("id") % 100 / 10).alias("value"))
    vmin, vmax, shares = reference_histogram(ref, "value", bins=10)
    src = str(tmp_path / "src")
    spark.range(300).select(
        F.timestamp_seconds(
            F.lit(base) + (F.col("id") / 100).cast("int") * 3600 + F.col("id") % 100
        ).alias("datahora"),
        # window 1 like the reference, window 2 collapsed, window 3 40 % NULL
        F.when(F.col("id") < 100, F.col("id") % 100 / 10)
        .when(F.col("id") < 200, F.lit(0.05))
        .when(F.col("id") % 5 < 2, F.lit(None))
        .otherwise(F.col("id") % 100 / 10).cast("double").alias("value"),
    ).unionByName(spark.range(1).select(  # a sentinel that closes the three windows
        F.timestamp_seconds(F.lit(base + 9 * 3600)).alias("datahora"),
        F.lit(5.0).alias("value"),
    )).coalesce(1).write.parquet(src)
    logs = str(tmp_path / "logs")
    spark.conf.set("spark.sql.session.timeZone", "America/Sao_Paulo")
    try:
        for _ in range(2):
            q = run_drift_monitor_stream(
                spark.readStream.schema("datahora timestamp, value double").parquet(src),
                value_col="value", ts_col="datahora", vmin=vmin, vmax=vmax, shares=shares,
                histogram_path=str(tmp_path / "hist"), checkpoint_path=str(tmp_path / "ckpt"),
                log_path=logs, bins=10, window="1 hour", watermark_delay="1 minute",
                max_null_frac=0.25,
            )
            assert q.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        monkeypatch.delenv("TZ")
        time.tzset()
    rows = sorted(tuple(r) for r in spark.read.parquet(logs).select(
        F.unix_micros("timestamp_captura"), "sucesso", "erro", "batch_id", "data"
    ).collect())
    assert rows == [
        (1550365200000000, True, None, 1, "2019-02-16"),
        (1550368800000000, False, "[values_drift]psi=8.2831 n_null=0", 1, "2019-02-16"),
        (1550372400000000, False, "[null_values]null_frac=0.4", 1, "2019-02-17"),
    ]


def test_watermark_roundtrip_on_file_uri(spark, tmp_path):
    store = WatermarkStore(spark, f"file://{tmp_path}/wm")
    assert store.get_table_watermark("t") == (None, None)
    store.set_table_watermark("t", ts=datetime(2024, 1, 2, 3, 4), id_=9)
    assert store.get_table_watermark("t") == (datetime(2024, 1, 2, 3, 4), 9)
    assert WatermarkStore(spark, str(tmp_path / "wm")).get_table_watermark("t") == (
        datetime(2024, 1, 2, 3, 4), 9
    )


def test_table_watermark_read_runs_no_spark_job(spark, tmp_path, monkeypatch):
    """``get_table_watermark`` reads the store on the driver: 0 Spark
    jobs per call, and the value ``current(scope)`` gives for
    ``GLOBAL_KEY``, over rows the driver wrote (``set_table_watermark``,
    ``TIMESTAMP(MICROS)``) and rows Spark wrote (``advance_from``,
    INT96), with the process and the session in a zone with DST."""
    from pipelines_spark.state.watermark import GLOBAL_KEY

    sc = spark.sparkContext
    store = WatermarkStore(spark, str(tmp_path / "wm"))

    def read(scope):
        got = []
        jobs = _jobs_in(sc, f"wm-read-{scope}", lambda: got.append(
            store.get_table_watermark(scope)))
        assert jobs == [], scope
        rows = store.current(scope).filter(F.col("key") == GLOBAL_KEY).collect()
        assert got[0] == ((rows[0]["watermark_ts"], rows[0]["watermark_id"])
                          if rows else (None, None)), scope
        return got[0]

    monkeypatch.setenv("TZ", "America/Sao_Paulo")
    time.tzset()
    spark.conf.set("spark.sql.session.timeZone", "America/Sao_Paulo")
    try:
        assert read("a") == (None, None)  # no store yet
        # an hour that repeats in Sao Paulo (the 2019 DST end)
        store.set_table_watermark("a", ts=datetime(2019, 2, 16, 23, 30), id_=3)
        store.set_table_watermark("b", ts=None, id_=5)
        assert read("a") == (datetime(2019, 2, 16, 23, 30), 3)
        base = 1550372400  # 2019-02-17 03:00 UTC, after the driver's row
        batch = spark.range(3).select(
            F.timestamp_seconds(F.lit(base) + F.col("id") * 60).alias("ts"),
            F.col("id"),
        )
        store.advance_from("a", batch, ts_col="ts", id_col="id")
        store.advance_from("c", batch, key_col="id", ts_col="ts")
        ts, id_ = read("a")
        assert (ts, id_) == (datetime.fromtimestamp(base + 120), 3)
        assert read("b") == (None, 5)
        assert read("c") == (None, None)  # per-key rows only
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        monkeypatch.delenv("TZ")
        time.tzset()


def _orders_csv(path, rows):
    path.write_text("".join(f"{k},{d},{p}\n" for k, d, p in rows))
    return str(path)


ORDERS_SCHEMA = "o_orderkey int, o_orderdate string, o_totalprice double"


def test_ingest_path_builds_no_python_rows(spark, tmp_path, monkeypatch):
    """A dump, capture windows that succeed and fail, the recapture
    spine and materialization (the first one against a store that does
    not exist yet) never build rows in a Python worker."""
    events = tmp_path / "events.json"
    events.write_text('{"sensor_id": 1, "v": "a"}\n{"sensor_id": 1, "v": "a"}\n'
                      '{"sensor_id": 2, "v": "b"}\n')
    src = _orders_csv(tmp_path / "orders.csv",
                      [(1, "1996-01-02", 1.5), (2, "1997-03-04", "oops"), (3, "1997-05-06", 2.0)])

    def no_rows(*_a, **_k):
        raise AssertionError("createDataFrame on the ingest path")

    monkeypatch.setattr(SparkSession, "createDataFrame", no_rows)

    good, _bad = read_with_quarantine(spark, src, ORDERS_SCHEMA)
    staging = run_dump_flow(
        spark, good, lake_path=str(tmp_path / "lake"),
        staging_table="stg_no_py_rows", date_col="o_orderdate",
    )
    assert staging.count() == 2

    logs, zone = str(tmp_path / "logs"), str(tmp_path / "staging")
    failing = {"on": True}

    def fetch(_start, end):
        if failing["on"] and end.minute == 1:
            raise OSError("http 500")
        return spark.read.schema("sensor_id long, v string").json(str(events))

    t0, t1 = datetime(2024, 1, 1, 0, 0), datetime(2024, 1, 1, 0, 1)
    kw = dict(keys=["sensor_id"], staging_path=zone, logs_path=logs)
    assert run_capture_window(spark, fetch, window_start=t0, window_end=t0, **kw)
    assert not run_capture_window(spark, fetch, window_start=t0, window_end=t1,
                                  fetch_attempts=1, **kw)
    failing["on"] = False
    assert recapture_missing(spark, fetch, spine_start="2024-01-01 00:00:00",
                             spine_end="2024-01-01 00:01:00", interval="1 minute",
                             **kw) == 1
    assert spark.read.parquet(zone).count() == 4

    spark.read.parquet(zone).createOrReplaceTempView("no_py_rows_staged")
    model = SqlModel(
        name="no_py_rows_hourly",
        sql="""SELECT data, hora, count(*) AS n FROM no_py_rows_staged
               WHERE timestamp_captura > timestamp '{date_range_start}'
                 AND timestamp_captura <= timestamp '{date_range_end}'
               GROUP BY data, hora""",
        materialization="incremental", path=str(tmp_path / "hourly"),
        partition_cols=["data", "hora"],
    )
    store = WatermarkStore(spark, str(tmp_path / "wm_not_yet"))
    runner = ModelRunner(spark, [model])
    assert run_materialization(
        spark, runner, store, model_name="no_py_rows_hourly", now=t1,
        fallback_start=datetime(2023, 12, 31),
    ) == (datetime(2023, 12, 31), t1)
    assert run_materialization(
        spark, runner, store, model_name="no_py_rows_hourly", now=t1,
    ) is None


def test_gap_read_prunes_the_capture_log_to_the_spine_days(spark, tmp_path, monkeypatch):
    """recapture_missing reads the capture log with its known schema and
    only the partitions of the spine's days: as the log grows from 4 to
    40 daily partitions, the gap read runs no schema-inference job and
    no file-listing job (above 32 directories Spark lists in a job of
    its own), reads only the spine day's files and finds the same
    gaps."""
    import pipelines_spark.flows as flows

    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    logs = str(tmp_path / "logs")
    find_gaps, log_reads, replayed = flows.find_gaps, [], []

    def recording_find_gaps(spine, log, **kw):
        log_reads.append(log)
        return find_gaps(spine, log, **kw)

    monkeypatch.setattr(flows, "find_gaps", recording_find_gaps)
    monkeypatch.setattr(flows, "run_capture_window",
                        lambda _spark, _fetch, **kw: replayed.append(kw["window_end"]))
    day0, grown, non_listing_jobs = datetime(2024, 1, 1), 0, {}
    for size in (4, 40):
        append_capture_log(spark, logs, [day0 + timedelta(days=d) for d in range(grown, size)],
                           success=True)
        grown, last = size, day0 + timedelta(days=size - 1)
        append_capture_log(spark, logs, [last + timedelta(minutes=1)], success=False)
        group = f"gap-read-{size}"
        sc.setJobGroup(group, group)
        try:
            n = recapture_missing(
                spark, None, spine_start=str(last), spine_end=str(last + timedelta(minutes=2)),
                interval="1 minute", keys=["k"], staging_path=str(tmp_path / "stg"),
                logs_path=logs,
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert n == 2
        assert replayed[-2:] == [last + timedelta(minutes=1), last + timedelta(minutes=2)]
        # the spine's day holds two files: its success row and its failure row
        assert log_reads[-1].select(F.input_file_name()).distinct().count() == 2
        _wait_for_listeners(sc)
        jobs = [store.job(j) for j in sc.statusTracker().getJobIdsForGroup(group)]
        # a file-source job is either a listing of the log's
        # directories or schema inference
        listing = [
            j.description().get() for j in jobs
            if j.description().isDefined()
            and j.description().get().startswith("Listing leaf files")
        ]
        assert listing == [], listing
        non_listing = [j.name() for j in jobs]
        assert not [name for name in non_listing if name.startswith("parquet at")], non_listing
        non_listing_jobs[size] = len(non_listing)
    assert non_listing_jobs[4] == non_listing_jobs[40]


def test_dump_flow_releases_the_quarantine_cache(spark, tmp_path):
    """Each dump releases the scan read_with_quarantine cached, so
    resident RDDs stay bounded however many dumps a session runs; the
    quarantined rows stay readable (a re-parse) after the release."""
    sc = spark.sparkContext

    def resident():
        return set(sc._jsc.getPersistentRDDs().keySet())

    before = resident()
    for i in range(4):
        src = _orders_csv(tmp_path / f"orders_{i}.csv",
                          [(i, f"199{i}-01-02", 1.0), (i + 10, f"199{i}-02-03", "bad")])
        good, bad = read_with_quarantine(spark, src, ORDERS_SCHEMA)
        run_dump_flow(spark, good, lake_path=str(tmp_path / "lake"),
                      staging_table="stg_release", date_col="o_orderdate")
        assert resident() - before == set()
        assert [r["raw_record"] for r in bad.collect()] == [f"{i + 10},199{i}-02-03,bad"]
    assert spark.table("stg_release").count() == 4


def _write_years(spark, lake, years, rows_per_year=2, tag="a"):
    df = spark.range(len(years) * rows_per_year, numPartitions=2).select(
        F.concat(F.lit(tag), F.col("id").cast("string")).alias("v"),
        F.element_at(
            F.array(*(F.lit(str(y)) for y in years)),
            (F.col("id") % len(years) + 1).cast("int"),
        ).alias("ano_particao"),
    )
    df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
        "ano_particao"
    ).parquet(lake)


def test_registered_staging_table_follows_a_growing_lake(spark, tmp_path):
    """Once registered, keeping the table in step with the lake
    launches no Spark job however many partitions the lake holds; the
    table shows every partition, a replayed partition's new rows, and
    all-string columns; a new location re-points it."""
    sc = spark.sparkContext
    lake = str(tmp_path / "lake")
    _write_years(spark, lake, range(1900, 1904))
    create_staging_table(spark, "stg_growing", lake)
    for grown, size in ((4, 16), (16, 64)):
        _write_years(spark, lake, range(1900 + grown, 1900 + size))
        assert _jobs_in(sc, f"stg-register-{size}",
                        lambda: create_staging_table(spark, "stg_growing", lake)) == []
        assert spark.table("stg_growing").select("ano_particao").distinct().count() == size
        assert spark.table("stg_growing").count() == 2 * size
    assert {t for _c, t in spark.table("stg_growing").dtypes} == {"string"}

    # replay one partition with other rows: replaced, not stale or doubled
    _write_years(spark, lake, [1901], rows_per_year=3, tag="replay")
    create_staging_table(spark, "stg_growing", lake)
    replayed = spark.table("stg_growing").where("ano_particao = '1901'")
    got = sorted(r["v"] for r in replayed.collect())
    assert got == ["replay0", "replay1", "replay2"]

    other = str(tmp_path / "other")
    _write_years(spark, other, [2001])
    create_staging_table(spark, "stg_growing", other)
    years = spark.table("stg_growing").select("ano_particao").distinct().collect()
    assert [r["ano_particao"] for r in years] == ["2001"]
    create_staging_table(spark, "stg_growing", lake)
    assert spark.table("stg_growing").select("ano_particao").distinct().count() == 64


def test_staging_table_sees_partitions_of_an_earlier_session(tmp_path):
    """Needs its own JVM: the partitions one session dumped are in the
    next session's table, beside the ones that session adds."""
    lake = str(tmp_path / "lake")
    script = f"""
from pyspark.sql import functions as F
from pipelines_spark.sinks.partitioned import create_staging_table
from pipelines_spark.session import get_spark

def dump(spark, year):
    spark.range(2).select(F.col("id").cast("string").alias("v"),
                          F.lit(str(year)).alias("ano_particao")).write.mode(
        "overwrite").partitionBy("ano_particao").parquet({lake!r})
    create_staging_table(spark, "stg_sessions", {lake!r})

old = get_spark("staging_old", master="local[1]", shuffle_partitions=1)
dump(old, 1990)
dump(old, 1991)
old.stop()
new = get_spark("staging_new", master="local[1]", shuffle_partitions=1)
dump(new, 1992)
dump(new, 1993)
years = sorted(r[0] for r in new.table("stg_sessions").select("ano_particao").distinct().collect())
print("YEARS", ",".join(years), new.table("stg_sessions").count(), flush=True)
new.stop()
"""
    env = dict(os.environ, PYTHONPATH=os.getcwd(), SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, env=env, timeout=600
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "YEARS 1990,1991,1992,1993 8" in proc.stdout, proc.stdout[-2000:]


def test_model_view_registers_the_written_schema_without_a_job(spark, tmp_path):
    """A written model's view is registered with the schema it wrote:
    a warm incremental run launches only the jobs of its write (no
    schema-inference job), and the view reads the rows and schema a
    plain read of the model's path does."""
    from pipelines_spark.sinks.partitioned import write_partitioned

    sc = spark.sparkContext
    spark.range(12).selectExpr(
        "id", "CAST(id % 3 AS STRING) AS data", "id * 1.5 AS v"
    ).createOrReplaceTempView("mv_src")
    model = SqlModel(
        name="mv_incremental",
        sql="SELECT data, count(*) AS n, sum(v) AS s FROM mv_src WHERE id >= {lo} GROUP BY data",
        materialization="incremental", path=str(tmp_path / "model"), partition_cols=["data"],
    )
    runner = ModelRunner(spark, [model])
    runner.run(variables={"lo": 0})
    run_jobs = _jobs_in(sc, "mv-run", lambda: runner.run(variables={"lo": 1}))

    def write_only():
        write_partitioned(spark.sql(model.render({"lo": 1})), str(tmp_path / "copy"), ["data"])

    write_only()
    assert len(run_jobs) == len(_jobs_in(sc, "mv-write", write_only))
    on_disk = spark.read.parquet(model.path)
    assert spark.table("mv_incremental").schema == on_disk.schema
    assert sorted(spark.table("mv_incremental").collect()) == sorted(on_disk.collect())
    assert sorted(r["n"] for r in on_disk.collect()) == [3, 4, 4]


def test_column_expressions_quote_any_name(spark, tmp_path):
    """The all-string cast, the quarantine's raw-record fallback and the
    nested payload build their per-column expressions as one parsed
    projection: names with a backtick, a dot or a space round-trip,
    and the output equals the per-``Column`` build's."""
    from pipelines_spark.functions.json_ops import nest_payload
    from pipelines_spark.llm.dedup import release_staging
    from pipelines_spark.sinks.partitioned import to_all_string

    odd = spark.range(2).selectExpr(
        "id AS `a``b`", "id * 2 AS `x.y`", "CAST(id AS DOUBLE) / 4 AS `with space`",
        "CAST(id = 1 AS BOOLEAN) AS flag",
    )
    names = ["a`b", "x.y", "with space", "flag"]
    staged = to_all_string(odd)
    assert staged.columns == names
    assert {t for _c, t in staged.dtypes} == {"string"}
    assert sorted(tuple(r) for r in staged.collect()) == [
        ("0", "0", "0.0", "false"), ("1", "2", "0.25", "true"),
    ]
    plain = spark.range(3).selectExpr(
        "id", "CAST(id AS DOUBLE) / 3 AS d", "DATE'2024-01-01' + CAST(id AS INT) AS day",
        "TIMESTAMP'2024-01-01 00:00:00' AS ts", "CAST(NULL AS DECIMAL(18,6)) AS dec",
    )
    per_column = plain.select(*(F.col(c).cast("string").alias(c) for c in plain.columns))
    assert to_all_string(plain).schema == per_column.schema
    assert sorted(to_all_string(plain).collect()) == sorted(per_column.collect())

    nested = nest_payload(odd.withColumn("timestamp_captura", F.lit(datetime(2024, 1, 1))),
                          ["a`b"])
    assert nested.columns == ["a`b", "content", "timestamp_captura"]
    assert sorted((r["a`b"], json.loads(r["content"])) for r in nested.collect()) == [
        (0, {"x.y": "0", "with space": "0.0", "flag": "false"}),
        (1, {"x.y": "2", "with space": "0.25", "flag": "true"}),
    ]
    per_column = plain.select(F.col("id"), F.to_json(F.struct(
        *(F.col(c).cast("string").alias(c) for c in plain.columns[1:])
    )).alias("content"))
    assert sorted(nest_payload(plain, ["id"]).collect()) == sorted(per_column.collect())

    src = tmp_path / "odd.csv"
    src.write_text("1,a\nx,b\n3,c\n")
    good, bad = read_with_quarantine(spark, str(src), "`n.1` int, `v ``w` string")
    assert good.columns == ["n.1", "v `w"]
    assert sorted(tuple(r) for r in good.collect()) == [(1, "a"), (3, "c")]
    assert [r["raw_record"] for r in bad.collect()] == ["x,b"]
    release_staging(good)
    assert [r["raw_record"] for r in bad.collect()] == ["x,b"]
