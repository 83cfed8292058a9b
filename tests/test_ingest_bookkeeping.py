"""Ingest bookkeeping at the cost of its own rows: capture-log and
watermark rows built as JVM literals (no Python worker), a watermark
store that reads back on any Hadoop URI, a staging table registered
once per session, and a quarantine cache released by the flow that
consumed it."""

from __future__ import annotations

import os
import subprocess
import sys
import time
from datetime import datetime

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
from pipelines_spark.sinks.logs import LOG_SCHEMA, literal_rows
from pipelines_spark.sinks.partitioned import create_staging_table
from pipelines_spark.sources.files import read_with_quarantine
from pipelines_spark.state.watermark import STATE_SCHEMA, WatermarkStore

TIMESTAMPS = [
    datetime(2024, 1, 1, 0, 0),
    datetime(2024, 2, 18, 23, 30, 0, 123456),  # Sao Paulo DST end
    datetime(2018, 11, 4, 0, 30),  # Sao Paulo DST gap
    datetime(1969, 12, 31, 23, 59, 59, 999999),
]


def _jobs_in(sc, group: str, fn) -> list[int]:
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("tz", ["UTC", "America/Sao_Paulo"])
def test_literal_rows_equal_create_dataframe_rows(spark, monkeypatch, tz):
    """Both builders turn a naive datetime into an instant by the
    Python process's local time; the stored micros must be identical,
    also where the local zone has DST gaps and overlaps."""
    monkeypatch.setenv("TZ", tz)
    time.tzset()
    try:
        for schema, rows in (
            (LOG_SCHEMA, [(ts, i % 2 == 0, None if i else "x", None)
                          for i, ts in enumerate(TIMESTAMPS)]),
            (STATE_SCHEMA, [("s", "k", ts, None if i else 7, ts)
                            for i, ts in enumerate(TIMESTAMPS)]
             + [("s", "k", None, 1, TIMESTAMPS[0])]),
        ):
            def micros(df):
                return df.select(
                    *(F.unix_micros(f.name).alias(f.name)
                      if f.name in ("timestamp_captura", "watermark_ts", "updated_at")
                      else F.col(f.name)
                      for f in schema)
                ).collect()

            lit = literal_rows(spark, schema, rows)
            assert [f.dataType for f in lit.schema] == [f.dataType for f in schema]
            assert lit.rdd.getNumPartitions() == 1
            assert micros(lit) == micros(spark.createDataFrame(rows, schema))
        assert literal_rows(spark, LOG_SCHEMA, []).count() == 0
    finally:
        monkeypatch.delenv("TZ")
        time.tzset()


def test_watermark_roundtrip_on_file_uri(spark, tmp_path):
    store = WatermarkStore(spark, f"file://{tmp_path}/wm")
    assert store.get_table_watermark("t") == (None, None)
    store.set_table_watermark("t", ts=datetime(2024, 1, 2, 3, 4), id_=9)
    assert store.get_table_watermark("t") == (datetime(2024, 1, 2, 3, 4), 9)
    assert WatermarkStore(spark, str(tmp_path / "wm")).get_table_watermark("t") == (
        datetime(2024, 1, 2, 3, 4), 9
    )


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
