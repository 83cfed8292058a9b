from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from pipelines_spark.sinks.snapshots import snapshot_read, snapshot_write
from pipelines_spark.sources.files import read_with_quarantine
from pipelines_spark.state.rollup import (
    full_rollup_rebuild,
    run_incremental_rollup,
)


# ---------------------------------------------------------------- quarantine

def test_csv_quarantine_splits_good_and_bad(spark, tmp_path):
    src = tmp_path / "in.csv"
    src.write_text(
        "1,alice,10.5\n"
        "2,bob,oops_not_a_number\n"   # bad double
        "3,carol,7.25\n"
        "not_an_int,dave,1.0\n"       # bad int
    )
    qdir = str(tmp_path / "dead_letter")
    good, bad = read_with_quarantine(
        spark, str(src), "id int, name string, score double",
        quarantine_path=qdir,
    )
    assert sorted(r["id"] for r in good.collect()) == [1, 3]
    bad_rows = bad.collect()
    assert len(bad_rows) == 2
    assert all(r["source_file"].endswith("in.csv") for r in bad_rows)
    assert {r["raw_record"] for r in bad_rows} == {
        "2,bob,oops_not_a_number",
        "not_an_int,dave,1.0",
    }
    # dead-letter zone holds the same raw rows
    dl = spark.read.parquet(qdir)
    assert dl.count() == 2


def test_json_quarantine(spark, tmp_path):
    src = tmp_path / "in.jsonl"
    src.write_text(
        '{"id": 1, "name": "a"}\n'
        "THIS IS NOT JSON\n"
        '{"id": 2, "name": "b"}\n'
    )
    good, bad = read_with_quarantine(
        spark, str(src), "id int, name string", file_format="json"
    )
    assert good.count() == 2
    assert bad.collect()[0]["raw_record"] == "THIS IS NOT JSON"


def test_all_good_yields_empty_quarantine(spark, tmp_path):
    src = tmp_path / "ok.csv"
    src.write_text("1,a,1.0\n2,b,2.0\n")
    good, bad = read_with_quarantine(spark, str(src), "id int, name string, score double")
    assert good.count() == 2 and bad.count() == 0


def test_landing_file_rewritten_in_place_is_read_again(spark, tmp_path):
    """A later call on the same path must not be served the earlier
    call's cached scan: a capture that rewrites its landing file in
    place gets the new rows, as a plain spark.read.csv does."""
    src = tmp_path / "orders.csv"
    src.write_text("1\n2\n")
    good, _bad = read_with_quarantine(spark, str(src), "k int")
    assert sorted(r["k"] for r in good.collect()) == [1, 2]
    src.write_text("10\n20\n30\n40\n")
    good, bad = read_with_quarantine(spark, str(src), "k int")
    assert sorted(r["k"] for r in good.collect()) == [10, 20, 30, 40]
    assert bad.count() == 0


# ------------------------------------------------------------------- rollup

def _events(spark, rows):
    return spark.createDataFrame(rows, "k string, v long")


MEASURES = {
    "n": ("count", "v"),
    "v_sum": ("sum", "v"),
    "v_min": ("min", "v"),
    "v_max": ("max", "v"),
}


def _check_equals_full(spark, source, rollup):
    full = (
        snapshot_read(spark, source)
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("v_sum"),
            F.min("v").alias("v_min"),
            F.max("v").alias("v_max"),
        )
    )
    got = {tuple(r) for r in snapshot_read(spark, rollup).collect()}
    want = {tuple(r) for r in full.collect()}
    assert got == want


def test_incremental_rollup_matches_full_recompute(spark, tmp_path):
    source, rollup = str(tmp_path / "src"), str(tmp_path / "roll")
    snapshot_write(spark, source, _events(spark, [("a", 1), ("b", 10)]))
    r1 = run_incremental_rollup(
        spark, source, rollup, keys=["k"], measures=MEASURES
    )
    assert r1["action"] == "bootstrap" and r1["rows_delta"] == 2
    _check_equals_full(spark, source, rollup)

    snapshot_write(spark, source, _events(spark, [("a", 5), ("c", -3), ("a", 2)]))
    r2 = run_incremental_rollup(
        spark, source, rollup, keys=["k"], measures=MEASURES
    )
    # only the delta was aggregated
    assert r2["action"] == "merged" and r2["rows_delta"] == 3
    _check_equals_full(spark, source, rollup)

    # idempotent: nothing new committed -> no write, no state change
    r3 = run_incremental_rollup(
        spark, source, rollup, keys=["k"], measures=MEASURES
    )
    assert r3["action"] == "noop" and r3["rows_delta"] == 0
    _check_equals_full(spark, source, rollup)


def test_rollup_rejects_source_overwrite_then_rebuild_recovers(spark, tmp_path):
    source, rollup = str(tmp_path / "src"), str(tmp_path / "roll")
    snapshot_write(spark, source, _events(spark, [("a", 1)]))
    run_incremental_rollup(spark, source, rollup, keys=["k"], measures=MEASURES)

    snapshot_write(spark, source, _events(spark, [("z", 100)]), mode="overwrite")
    with pytest.raises(ValueError, match="overwrite"):
        run_incremental_rollup(spark, source, rollup, keys=["k"], measures=MEASURES)

    r = full_rollup_rebuild(spark, source, rollup, keys=["k"], measures=MEASURES)
    assert r["action"] == "rebuild"
    _check_equals_full(spark, source, rollup)
    # and incremental maintenance resumes cleanly after the rebuild
    snapshot_write(spark, source, _events(spark, [("z", 1), ("y", 2)]))
    r2 = run_incremental_rollup(spark, source, rollup, keys=["k"], measures=MEASURES)
    assert r2["action"] == "merged" and r2["rows_delta"] == 2
    _check_equals_full(spark, source, rollup)


def test_rollup_rejects_non_distributive_measure(spark, tmp_path):
    with pytest.raises(ValueError, match="not distributive"):
        run_incremental_rollup(
            spark, str(tmp_path / "s"), str(tmp_path / "r"),
            keys=["k"], measures={"bad": ("avg", "v")},
        )


def test_transactional_curation_flow_wap(spark, tmp_path, sf_small):
    """Curation flagship through write-audit-publish: a healthy run
    publishes the curated corpus atomically with funnel stats; a
    misconfigured gate that would empty (here: shrink below min_docs)
    the corpus fails the audit INVISIBLY — the table keeps its last
    good version and the stage stays for triage."""
    from pipelines_spark.flows import run_curation_flow_transactional
    from pipelines_spark.llm.curation import BENCH_CONFIG, CurationConfig
    from pipelines_spark.sinks.snapshots import current_version, snapshot_read

    table = str(tmp_path / "corpus_tbl")
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").select(
        "doc_id", "text", "source"
    )
    # the flow owns the corpus it caches: none left behind
    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    r = run_curation_flow_transactional(
        spark, docs, table_path=table,
        config=CurationConfig(**BENCH_CONFIG), min_docs=10,
    )
    assert cm.isEmpty()
    assert r["published"] is True and r["version"] == 1
    stats = dict(r["stats"])
    assert stats["input"] == 500
    published = snapshot_read(spark, table)
    assert published.count() == stats["near_dup_canonical"]
    assert "shard_no" in published.columns and "split" in published.columns

    # audit failure: impossible min_docs — nothing new published
    r2 = run_curation_flow_transactional(
        spark, docs, table_path=table,
        config=CurationConfig(**BENCH_CONFIG), min_docs=10**9,
    )
    assert cm.isEmpty()
    assert r2["published"] is False and r2["failed_checks"] == ["min_docs"]
    assert current_version(spark, table) == 1
    assert snapshot_read(spark, table).count() == stats["near_dup_canonical"]


def test_transactional_dump_flow_wap(spark, tmp_path):
    from pipelines_spark.flows import run_dump_flow_transactional
    from pipelines_spark.plans.checks import Check
    from pipelines_spark.sinks.snapshots import current_version, snapshot_read

    table = str(tmp_path / "dump_tbl")
    src = spark.createDataFrame(
        [(1, "2024-01-05 10:00:00", 5.0), (2, "2024-02-01 11:00:00", -1.0)],
        "ID int, Data_Medicao string, Valor double",
    ).withColumn("Data_Medicao", F.to_timestamp("Data_Medicao"))

    checks = [Check(
        name="no_negative_values",
        sql="SELECT * FROM _staged_dump WHERE CAST(valor AS DOUBLE) < 0",
    )]
    # first dump fails its audit: nothing published, no table version
    r = run_dump_flow_transactional(
        spark, src, table_path=table, date_col="Data_Medicao", checks=checks
    )
    assert r["published"] is False and r["failed_checks"] == ["no_negative_values"]
    assert current_version(spark, table) is None

    # clean batch publishes v1 with normalized columns + partitions
    clean = src.filter(F.col("Valor") >= 0)
    r2 = run_dump_flow_transactional(
        spark, clean, table_path=table, date_col="Data_Medicao", checks=checks
    )
    assert r2["published"] is True and r2["version"] == 1
    out = snapshot_read(spark, table)
    assert out.count() == 1
    assert "data_medicao" in out.columns and "ano_particao" in out.columns
