"""Plan-once reuse in a long-lived session: ``queries.register`` builds
each table's frame once per session, and the session factory's
compiled-code cache holds the query working set."""

from __future__ import annotations

import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

from pipelines_spark.queries import QUERIES, register

#: the read-only query mix of the repository benchmark (perfbench)
QUERY_MIX = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "j7_shipdate_range_join", "j11_asof_enrichment",
    "a3_latest_event_per_user", "w6_sessionize", "funnel_windowed_conversion",
    "a29_hll_distinct", "a4_nested_content", "text_quality_by_source",
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_second_register_launches_no_jobs(spark, sf_medium):
    register(spark, sf_medium, ("lineitem",))
    first = sorted(spark.table("lineitem").collect())
    sc = spark.sparkContext
    sc.setJobGroup("registry-second-register", "second register()")
    try:
        register(spark, sf_medium, ("lineitem",))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("registry-second-register") == []
    assert sorted(spark.table("lineitem").collect()) == first


@pytest.mark.parametrize("layout", ["file", "directory"])
def test_rewritten_table_is_read_again(spark, sf_small, tmp_path, layout):
    """A table file rewritten in place is read again — also one inside
    a table directory, whose own status the rewrite leaves unchanged."""
    nation = pq.read_table(f"{sf_small}/nation.parquet")
    path = tmp_path / "registry_probe.parquet"
    if layout == "directory":
        path.mkdir()
        path = path / "part-0.parquet"
    pq.write_table(nation, path)
    register(spark, str(tmp_path), ("registry_probe",))
    assert spark.table("registry_probe").count() == 25
    pq.write_table(nation.slice(0, 5), path)  # rewritten in place
    register(spark, str(tmp_path), ("registry_probe",))
    got = sorted(r["n_nationkey"] for r in spark.table("registry_probe").collect())
    assert got == sorted(nation.column("n_nationkey").to_pylist()[:5])


def test_no_widen_between_calls_gives_unwidened_plan(spark, sf_medium, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_NO_WIDEN", raising=False)
    # ceil(1 MB / 128 KiB) = 8 tasks against one scan split: widened
    # at any parallelism of 3 or more
    monkeypatch.setenv("SPARK_GRAFT_WIDEN_SPLIT_BYTES", str(128 * 1024))
    register(spark, sf_medium, ("lineitem",))
    assert "hashpartitioning(l_orderkey" in _plan(spark.table("lineitem"))
    monkeypatch.setenv("SPARK_GRAFT_NO_WIDEN", "1")
    register(spark, sf_medium, ("lineitem",))
    assert "hashpartitioning" not in _plan(spark.table("lineitem"))
    monkeypatch.delenv("SPARK_GRAFT_NO_WIDEN")
    register(spark, sf_medium, ("lineitem",))
    assert "hashpartitioning(l_orderkey" in _plan(spark.table("lineitem"))
    # a split size that is not a positive integer is refused by name
    for bad in ("0", "-1", "abc"):
        monkeypatch.setenv("SPARK_GRAFT_WIDEN_SPLIT_BYTES", bad)
        with pytest.raises(ValueError, match="SPARK_GRAFT_WIDEN_SPLIT_BYTES"):
            register(spark, sf_medium, ("lineitem",))


def test_new_session_never_gets_stopped_sessions_frame(sf_small):
    """Needs its own JVM: stopping the suite's shared session would
    break every later test."""
    script = f"""
from pipelines_spark.queries import register
from pipelines_spark.session import get_spark
old = get_spark("registry_old", master="local[1]", shuffle_partitions=1)
register(old, {sf_small!r}, ("nation",))
old.stop()
new = get_spark("registry_new", master="local[1]", shuffle_partitions=1)
register(new, {sf_small!r}, ("nation",))
df = new.table("nation")
assert df.sparkSession is new
print("ROWS", df.count(), flush=True)
new.stop()
"""
    env = dict(os.environ, PYTHONPATH=os.getcwd(), SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        env=env,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "ROWS 25" in proc.stdout, proc.stdout[-2000:]


def test_warm_query_mix_pass_compiles_no_classes(spark, sf_medium):
    """The compiled-code cache holds the mix's working set (about 150
    classes; Spark's default cache of 100 recompiles all of them on
    every pass). The first pass compiles the set. A later pass can
    still meet an adaptive plan it has not seen — a29's cross join
    takes its build side from whichever input stage finishes first —
    so up to three warm passes run, and one of them must compile
    nothing."""
    compiled = (
        spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )
    counts = []
    for _ in range(4):
        before = compiled.getCount()
        for name in QUERY_MIX:
            QUERIES[name](spark, sf_medium).collect()
        counts.append(compiled.getCount() - before)
        if len(counts) > 1 and counts[-1] == 0:
            break
    assert counts[-1] == 0, counts
