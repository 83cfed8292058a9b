"""End-to-end lifecycle parity with the reference's three entry
points (SURVEY §3):

§3.1 dump_sql_flow      — source scan → normalize → partition-derive
                          → Hive-partitioned lake write → all-string
                          staging table → typed view → SQL answer
§3.2 capture flow       — windowed incremental capture with capture
                          logs and recapture-spine reconciliation
§3.3 materialization    — watermark-driven incremental model run,
                          idempotent re-run, checks, watermark advance

One test per flow, all on the driver's synthetic lake.
"""

import os
from datetime import datetime

from pyspark.sql import functions as F

from pipelines_spark.functions.datetime_ops import derive_partition_columns
from pipelines_spark.naming import normalize_columns
from pipelines_spark.operators.spine import find_gaps, time_spine
from pipelines_spark.plans.checks import Check, run_checks
from pipelines_spark.plans.models import ModelRunner, SqlModel
from pipelines_spark.sinks.logs import append_capture_log
from pipelines_spark.sinks.partitioned import (
    create_staging_table,
    to_all_string,
    write_partitioned,
)
from pipelines_spark.state.watermark import WatermarkStore


def test_dump_flow_end_to_end(spark, sf_small, tmp_path):
    lake = str(tmp_path / "lake" / "orders")

    # scan -> normalize -> derive partitions -> partitioned write
    src = normalize_columns(spark.read.parquet(f"{sf_small}/orders.parquet"))
    staged = to_all_string(derive_partition_columns(src, "o_orderdate"))
    write_partitioned(staged, lake, ["ano_particao"], mode="overwrite_partitions")
    assert any(d.startswith("ano_particao=") for d in os.listdir(lake))

    # staging table (all string) + typed view (SAFE_CAST contract)
    create_staging_table(spark, "orders_staging", lake)
    types = {f.name: f.dataType.simpleString() for f in spark.table("orders_staging").schema.fields}
    assert types["o_totalprice"] == "string"

    spark.sql(
        """
        CREATE OR REPLACE TEMP VIEW orders_typed AS
        SELECT cast(o_orderkey AS bigint)    AS o_orderkey,
               try_cast(o_totalprice AS double) AS o_totalprice,
               try_cast(o_orderdate AS timestamp) AS o_orderdate,
               o_orderstatus
        FROM orders_staging
        """
    )

    # answer a query on the typed view and cross-check against the
    # source parquet directly
    got = spark.sql(
        "SELECT round(sum(o_totalprice), 2) AS s, count(*) AS n FROM orders_typed"
    ).collect()[0]
    want = src.agg(
        F.round(F.sum("o_totalprice"), 2).alias("s"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    assert (got["s"], got["n"]) == (want["s"], want["n"])


def test_db_dump_flow_incremental_against_derby(spark, tmp_path):
    """§3.1 against a LIVE embedded DBMS: first dump loads everything;
    after new source rows arrive, the second dump pushes the watermark
    predicate INTO the DB query and loads only the new window —
    S1 + F6 + T2 + K3/K6 composed, the reference's core loop."""
    import pytest

    from pipelines_spark.flows import run_db_dump_flow
    from pipelines_spark.sources.jdbc import JdbcSource

    jvm = spark._jvm
    try:
        # instantiating the driver (re)registers it with DriverManager
        jvm.org.apache.derby.jdbc.EmbeddedDriver()
    except Exception:
        pytest.skip("no embedded JDBC driver on the classpath")
    jvm.java.lang.System.setProperty("derby.system.home", str(tmp_path))
    db = str(tmp_path / "dumpdb")

    def insert(rows):
        conn = jvm.java.sql.DriverManager.getConnection(
            f"jdbc:derby:{db};create=true"
        )
        st = conn.createStatement()
        try:
            st.executeUpdate(
                "CREATE TABLE sales (id INT NOT NULL, updated_at TIMESTAMP, "
                "amount DOUBLE)"
            )
        except Exception:
            pass  # table exists on second call
        ps = conn.prepareStatement("INSERT INTO sales VALUES (?, ?, ?)")
        for i, day, amount in rows:
            ps.setInt(1, i)
            # hours VARY within a day: regression guard for the
            # sub-day-watermark + day-partition-overwrite data loss
            ps.setTimestamp(
                2,
                jvm.java.sql.Timestamp.valueOf(
                    f"2024-01-{day:02d} {8 + i % 3:02d}:00:00"
                ),
            )
            ps.setDouble(3, amount)
            ps.addBatch()
        ps.executeBatch()
        conn.close()

    insert([(i, 1 + i % 5, float(i)) for i in range(50)])

    src = JdbcSource("derby", "", 0, db, "", "")
    store = WatermarkStore(spark, str(tmp_path / "wm"))
    lake = str(tmp_path / "lake")

    staged = run_db_dump_flow(
        spark, src, "SELECT * FROM sales",
        store=store, scope="sales", ts_col="updated_at",
        lake_path=lake, staging_table="sales_staging",
        partition_cols=("data_particao",),
        partition_column="id", lower_bound=0, upper_bound=100,
        num_partitions=4,
    )
    assert staged.count() == 50
    wm1, _ = store.get_table_watermark("sales")
    assert wm1 == datetime(2024, 1, 5, 10)  # max hour seen on day 5
    day1 = os.path.join(lake, "data_particao=2024-01-01")
    day1_files = {
        f: os.path.getmtime(os.path.join(day1, f)) for f in os.listdir(day1)
    }

    # new rows land in the source after the first dump
    insert([(100 + i, 5 + i % 3, 999.0) for i in range(12)])
    staged2 = run_db_dump_flow(
        spark, src, "SELECT * FROM sales",
        store=store, scope="sales", ts_col="updated_at",
        lake_path=lake, staging_table="sales_staging",
        partition_cols=("data_particao",),
        partition_column="id", lower_bound=0, upper_bound=200,
        num_partitions=4,
    )
    # merged lake: everything once (boundary re-read FLOORED to the
    # day grain — ALL of day 5 re-read and replaced idempotently, so
    # earlier-hour day-5 rows survive; no duplicates either)
    assert staged2.count() == 62
    day5_ids = {
        int(r["id"])
        for r in staged2.filter(F.col("data_particao") == "2024-01-05").collect()
    }
    assert {i for i in range(50) if 1 + i % 5 == 5} <= day5_ids
    assert {
        int(r["id"]) for r in staged2.filter(F.col("data_particao") >= "2024-01-06").collect()
    } == {100 + i for i in range(12) if 5 + i % 3 >= 6}
    # pre-watermark partitions were never rewritten: the second read
    # was incremental, only >= watermark days flowed through the sink
    assert {
        f: os.path.getmtime(os.path.join(day1, f)) for f in os.listdir(day1)
    } == day1_files
    wm2, _ = store.get_table_watermark("sales")
    assert wm2 == datetime(2024, 1, 7, 8)


def test_floor_to_partition_grain():
    """The incremental bound must floor to the leaf partition unit
    dynamic overwrite replaces — a sub-grain bound would drop earlier
    same-partition rows on the boundary re-read."""
    from pipelines_spark.flows import _floor_to_partition_grain as floor_

    ts = datetime(2024, 3, 15, 13, 45, 7)
    assert floor_(ts, ("ano_particao", "mes_particao", "data_particao")) == datetime(2024, 3, 15)
    assert floor_(ts, ("ano_particao", "mes_particao")) == datetime(2024, 3, 1)
    assert floor_(ts, ("ano_particao",)) == datetime(2024, 1, 1)
    assert floor_(ts, ()) == ts
    assert floor_(None, ("data_particao",)) is None


def test_capture_flow_with_recapture_spine(spark, tmp_path):
    logs = str(tmp_path / "logs")
    # three scheduled minutes: one success, one failure, one missing
    append_capture_log(spark, logs, [datetime(2024, 1, 1, 0, 0)], success=True)
    append_capture_log(spark, logs, [datetime(2024, 1, 1, 0, 1)], success=False, error="http 500")

    spine = time_spine(
        spark, "2024-01-01 00:00:00", "2024-01-01 00:02:00", interval="1 minute"
    )
    gaps = [r["timestamp_captura"] for r in find_gaps(spine, spark.read.parquet(logs)).collect()]
    assert gaps == [datetime(2024, 1, 1, 0, 1), datetime(2024, 1, 1, 0, 2)]

    # recapture heals the gaps; the spine is then clean
    append_capture_log(spark, logs, gaps, success=True, recapture=True)
    assert find_gaps(spine, spark.read.parquet(logs)).count() == 0
    healed = spark.read.parquet(logs).filter(F.col("erro").startswith("[recapturado]"))
    assert healed.count() == 2


def test_materialization_flow_incremental_with_watermark(spark, sf_small, tmp_path):
    store = WatermarkStore(spark, str(tmp_path / "wm"))
    target = str(tmp_path / "daily_revenue")

    spark.read.parquet(f"{sf_small}/orders.parquet").createOrReplaceTempView("orders_src")

    model = SqlModel(
        name="daily_revenue",
        sql="""
            SELECT date_format(o_orderdate, 'yyyy-MM-dd') AS data_particao,
                   round(sum(o_totalprice), 2) AS revenue,
                   count(*) AS n_orders
            FROM orders_src
            WHERE o_orderdate > timestamp '{date_range_start}'
              AND o_orderdate <= timestamp '{date_range_end}'
            GROUP BY 1
        """,
        materialization="incremental",
        path=target,
        partition_cols=["data_particao"],
    )
    runner = ModelRunner(spark, [model])

    # window 1: everything up to 1998
    runner.run(variables={"date_range_start": "1990-01-01 00:00:00",
                          "date_range_end": "1998-01-01 00:00:00"})
    n1 = spark.read.parquet(target).count()
    store.set_table_watermark("daily_revenue", ts=datetime(1998, 1, 1))

    # window 2 from the watermark: disjoint partitions appended
    ts, _ = store.get_table_watermark("daily_revenue")
    runner.run(variables={"date_range_start": ts.strftime("%Y-%m-%d %H:%M:%S"),
                          "date_range_end": "2002-01-01 00:00:00"})
    n2 = spark.read.parquet(target).count()
    assert n2 > n1

    # idempotency (T6): re-running window 2 must not change the table
    runner.run(variables={"date_range_start": ts.strftime("%Y-%m-%d %H:%M:%S"),
                          "date_range_end": "2002-01-01 00:00:00"})
    assert spark.read.parquet(target).count() == n2

    # whole-table equivalence with a direct aggregation
    want = (
        spark.table("orders_src")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM-dd"))
        .count()
        .count()
    )
    assert n2 == want

    # post-materialization checks (U5)
    spark.read.parquet(target).createOrReplaceTempView("daily_revenue")
    results = run_checks(
        spark,
        [
            Check("no_negative_revenue", "SELECT * FROM daily_revenue WHERE revenue < 0"),
            Check("no_dup_partitions",
                  "SELECT data_particao FROM daily_revenue GROUP BY 1 HAVING count(*) > 1"),
        ],
    )
    assert all(r.passed for r in results)


def test_flows_api_end_to_end(spark, sf_small, tmp_path):
    """SURVEY §3 entry points through the one-call flows API:
    dump → capture window (+failure + recapture) → materialization."""
    from pipelines_spark.flows import (
        recapture_missing,
        run_capture_window,
        run_dump_flow,
        run_materialization,
    )

    # §3.1 dump
    staging = run_dump_flow(
        spark,
        spark.read.parquet(f"{sf_small}/orders.parquet"),
        lake_path=str(tmp_path / "lake" / "orders"),
        staging_table="orders_staging_flow",
        date_col="o_orderdate",
    )
    assert staging.count() == spark.read.parquet(f"{sf_small}/orders.parquet").count()
    assert dict(staging.dtypes)["o_totalprice"] == "string"

    # §3.2 capture: minute 0 succeeds, minute 1 fails, spine replays it
    staging_path = str(tmp_path / "cap_staging")
    logs_path = str(tmp_path / "cap_logs")
    calls = {"n": 0}

    def fetch(start, end):
        calls["n"] += 1
        if end.minute == 1 and calls["n"] < 4:  # :01 fails through both retries
            raise RuntimeError("http 500")
        return spark.createDataFrame(
            [(1, "x"), (1, "x"), (2, "y")], "sensor_id long, reading string"
        )

    t0 = datetime(2024, 1, 1, 0, 0)
    assert run_capture_window(
        spark, fetch, window_start=t0, window_end=t0,
        keys=["sensor_id"], staging_path=staging_path, logs_path=logs_path,
    )
    t1 = datetime(2024, 1, 1, 0, 1)
    assert not run_capture_window(
        spark, fetch, window_start=t0, window_end=t1,
        keys=["sensor_id"], staging_path=staging_path, logs_path=logs_path,
        fetch_attempts=2, _sleep=lambda _: None,  # retried, still fails
    )
    replayed = recapture_missing(
        spark, fetch,
        spine_start="2024-01-01 00:00:00", spine_end="2024-01-01 00:01:00",
        interval="1 minute", keys=["sensor_id"],
        staging_path=staging_path, logs_path=logs_path,
    )
    assert replayed == 1
    staged = spark.read.parquet(staging_path)
    # dedup on (key, capture ts): the duplicate (1, x) collapsed
    assert staged.count() == 4  # 2 sensors x 2 successful windows
    assert set(staged.columns) >= {"sensor_id", "content", "timestamp_captura"}

    # §3.3 materialization driven by the watermark store
    from pipelines_spark.plans.models import ModelRunner, SqlModel
    from pipelines_spark.state.watermark import WatermarkStore

    spark.read.parquet(f"{sf_small}/orders.parquet").createOrReplaceTempView("orders_src_f")
    model = SqlModel(
        name="rev_flow",
        sql="""
            SELECT date_format(o_orderdate, 'yyyy-MM-dd') AS data_particao,
                   count(*) AS n FROM orders_src_f
            WHERE o_orderdate > timestamp '{date_range_start}'
              AND o_orderdate <= timestamp '{date_range_end}'
            GROUP BY 1
        """,
        materialization="incremental",
        path=str(tmp_path / "rev_flow"),
        partition_cols=["data_particao"],
    )
    runner = ModelRunner(spark, [model])
    store = WatermarkStore(spark, str(tmp_path / "wm_flow"))

    r1 = run_materialization(
        spark, runner, store, model_name="rev_flow",
        now=datetime(2000, 1, 1), fallback_start=datetime(1990, 1, 1),
    )
    assert r1 == (datetime(1990, 1, 1), datetime(2000, 1, 1))
    n1 = spark.read.parquet(str(tmp_path / "rev_flow")).count()
    # second call from the advanced watermark: more partitions appear
    r2 = run_materialization(
        spark, runner, store, model_name="rev_flow", now=datetime(2003, 1, 1)
    )
    assert r2 == (datetime(2000, 1, 1), datetime(2003, 1, 1))
    assert spark.read.parquet(str(tmp_path / "rev_flow")).count() > n1
    # nothing new -> no-op
    assert run_materialization(
        spark, runner, store, model_name="rev_flow", now=datetime(2003, 1, 1)
    ) is None


def test_run_maintenance_vacuum_then_compact_idempotent(spark, tmp_path):
    from pipelines_spark.flows import run_maintenance

    path = str(tmp_path / "zone")
    logs = str(tmp_path / "zone_logs")
    # simulate a minutely capture: many small appends into few partitions
    for i in range(5):
        df = spark.createDataFrame(
            [(i * 10 + j, f"199{5 + (i % 2)}") for j in range(4)],
            "id long, year string",
        )
        df.coalesce(1).write.mode("append").partitionBy("year").parquet(path)

    before = spark.read.parquet(path).count()
    stats = run_maintenance(
        spark,
        path,
        ["year"],
        keep=lambda v: v["year"] >= "1996",
        min_files_to_compact=2,
        log_path=logs,
        now=datetime(2024, 1, 1),
    )
    assert stats == {"partitions_removed": 1, "partitions_compacted": 1}
    kept = spark.read.parquet(path)
    assert {r["year"] for r in kept.select("year").distinct().collect()} == {"1996"}
    assert kept.count() < before
    n_files = sum(
        f.endswith(".parquet")
        for f in os.listdir(os.path.join(path, "year=1996"))
    )
    assert n_files == 1  # compacted
    assert spark.read.parquet(logs).filter(F.col("sucesso")).count() == 1

    # immediate re-run is a no-op
    stats2 = run_maintenance(
        spark, path, ["year"], keep=lambda v: v["year"] >= "1996",
        min_files_to_compact=2,
    )
    assert stats2 == {"partitions_removed": 0, "partitions_compacted": 0}


def test_dedup_operators_release_staging_caches(spark, sf_medium):
    """The standalone dedup operators persist staging frames; after
    materializing the output and calling release_staging, no extra
    persisted RDDs remain (explicit cache lifecycle, not LRU/teardown)."""
    from pipelines_spark.llm.dedup import (
        minhash_near_dup_pairs,
        ngram_jaccard_pairs,
        release_staging,
        simhash_pairs,
    )

    docs = spark.read.parquet(f"{sf_medium}/documents.parquet").limit(300)

    def persisted() -> set:
        # ids, not a count: the ContextCleaner may free an earlier
        # test's lazily staged blocks at any point during this one
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    ops = [
        lambda: minhash_near_dup_pairs(docs, id_col="doc_id", text_col="text"),
        lambda: ngram_jaccard_pairs(
            docs, id_col="doc_id", text_col="text", max_shingle_freq=50
        ),
        lambda: simhash_pairs(docs, id_col="doc_id", text_col="text"),
    ]
    for build in ops:
        before = persisted()
        out = build()
        out.count()  # materialize while staging is cached
        added = persisted() - before
        assert added
        released = release_staging(out)
        assert released >= 1
        assert not added & persisted()
        assert release_staging(out) == 0  # idempotent


def test_query_local_staging_leaves_no_cachemanager_entries(spark):
    """Persist-hygiene sweep for the query-local staging sites: the
    five formerly-persist() frames (boilerplate shingles, PCA
    covariance, fuzzy-decontamination corpus shingles, both MMR loop
    invariants) and incremental dedup's batch_fps/sets now stage via
    lazy localCheckpoint — blocks free with the frame via the
    ContextCleaner instead of accreting CacheManager entries for the
    session's lifetime. A reintroduced bare ``.persist()`` in any of
    these queries fails here: the SQL CacheManager must be exactly as
    empty after the action as before it.

    (Operators that persist THROUGH ``_attach_staging`` keep the
    explicit ``release_staging`` lifecycle — that's a caller-owned
    cache, not a leak, and out of scope here.)
    """
    from pipelines_spark.queries import QUERIES

    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert cm.isEmpty()
    for name in (
        "text_boilerplate_stats",
        "embed_pca_power_iteration",
        "text_decontamination_fuzzy",
        "embed_mmr_select",
        "dedup_incremental_batch",
    ):
        df = QUERIES[name](spark, "/root/testdata/sf0.001")
        assert df.count() >= 0
        assert cm.isEmpty(), f"{name} left a CacheManager entry behind"
