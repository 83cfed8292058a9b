"""Model runner (dbt-equivalent), check harness, cost guard."""

import pytest

from pyspark.sql import functions as F

from pipelines_spark.plans.checks import Check, run_checks
from pipelines_spark.plans.cost_guard import ScanTooLargeError, guard_scan
from pipelines_spark.plans.models import ModelRunner, SqlModel


@pytest.fixture()
def base_view(spark):
    spark.createDataFrame(
        [(1, "2024-01-01", 10.0), (2, "2024-01-02", 20.0), (3, "2024-01-03", 30.0)],
        "id long, d string, v double",
    ).createOrReplaceTempView("base_tbl")


def test_model_runner_dependency_order_and_vars(spark, base_view):
    models = [
        SqlModel(
            name="daily",
            sql="SELECT d, sum(v) AS total FROM base_tbl "
                "WHERE d >= '{date_range_start}' GROUP BY d",
        ),
        SqlModel(name="grand", sql="SELECT sum(total) AS g FROM daily", depends_on=["daily"]),
    ]
    out = ModelRunner(spark, models).run(variables={"date_range_start": "2024-01-02"})
    assert out["grand"].collect()[0]["g"] == 50.0


def test_model_runner_graph_selection(spark, base_view):
    models = [
        SqlModel(name="a", sql="SELECT * FROM base_tbl"),
        SqlModel(name="b", sql="SELECT * FROM a", depends_on=["a"]),
        SqlModel(name="c", sql="SELECT * FROM b", depends_on=["b"]),
    ]
    runner = ModelRunner(spark, models)
    assert list(runner.run(select="+b")) == ["a", "b"]
    assert list(runner.run(select="b+")) == ["b", "c"]


def test_incremental_model_overwrites_only_touched_partitions(spark, base_view, tmp_path):
    path = str(tmp_path / "inc")
    model = SqlModel(
        name="inc",
        sql="SELECT id, v, d AS data_particao FROM base_tbl "
            "WHERE d BETWEEN '{start}' AND '{end}'",
        materialization="incremental",
        path=path,
        partition_cols=["data_particao"],
    )
    runner = ModelRunner(spark, [model])
    runner.run(variables={"start": "2024-01-01", "end": "2024-01-02"})
    assert spark.read.parquet(path).count() == 2
    # re-run a single day: its partition is replaced, other days kept
    runner.run(variables={"start": "2024-01-02", "end": "2024-01-03"})
    out = spark.read.parquet(path)
    assert out.count() == 3
    assert out.filter(F.col("data_particao") == "2024-01-02").count() == 1


def test_checks(spark, base_view):
    checks = [
        Check(name="no_negative_v", sql="SELECT * FROM base_tbl WHERE v < 0"),
        Check(name="has_rows", sql="SELECT count(*) > 0 FROM base_tbl", kind="expect_true"),
        Check(name="will_fail", sql="SELECT * FROM base_tbl WHERE v > {threshold}"),
    ]
    results = run_checks(spark, checks, variables={"threshold": "25"})
    by_name = {r.name: r for r in results}
    assert by_name["no_negative_v"].passed
    assert by_name["has_rows"].passed
    assert not by_name["will_fail"].passed


def test_cost_guard(spark, sf_medium):
    df = spark.read.parquet(f"{sf_medium}/lineitem.parquet")
    guard_scan(df, max_bytes=10 * 1024**3)  # passes
    with pytest.raises(ScanTooLargeError):
        guard_scan(df, max_bytes=1024)


def test_join_advisor_recommendations(spark):
    """Sketch-driven pre-flight: tiny side → broadcast; hot key →
    salted_join; and the CMS output estimate is exact when
    collision-free."""
    from pipelines_spark.plans.advisor import advise_join

    dim = spark.createDataFrame([(i, f"n{i}") for i in range(20)], "k long, name string")
    fact = spark.createDataFrame(
        [(i % 20, "x" * 50) for i in range(2000)], "k long, payload string"
    )
    adv = advise_join(fact, dim, "k")
    assert adv.recommendation == "broadcast_b"
    assert adv.est_join_size == 2000  # every fact row matches once
    assert adv.n_rows_a == 2000 and adv.n_rows_b == 20

    # skew: one key holds half of a big (past-broadcast-budget) side
    skewed = spark.createDataFrame(
        [((0 if i % 2 == 0 else i), "y" * 40) for i in range(4000)],
        "k long, payload string",
    )
    other = spark.createDataFrame(
        [(i, "z" * 40) for i in range(4000)], "k long, p2 string"
    )
    adv2 = advise_join(skewed, other, "k", broadcast_bytes=1000)
    assert adv2.recommendation == "salted_join"
    assert adv2.top_key_share_a > 0.4
    assert "one reducer" in adv2.reason

    # no skew, both big → plain shuffle
    adv3 = advise_join(other, other, "k", broadcast_bytes=1000)
    assert adv3.recommendation == "shuffle_join"
    assert adv3.est_join_size >= 4000


def test_execute_advised_join_routes_each_recommendation(spark):
    """The advisor's recommendation must CHANGE the executed plan:
    broadcast rec → BroadcastHashJoin; salted rec → the join runs on
    the composite (key, _salt) with the small side replicated per
    bucket (operators/skew.py::salted_join); results always equal the
    plain join."""
    from pipelines_spark.plans.advisor import execute_advised_join

    # tiny dim → broadcast_b → BroadcastHashJoin in the executed plan
    dim = spark.createDataFrame(
        [(i, f"n{i}") for i in range(20)], "k long, name string"
    )
    fact = spark.createDataFrame(
        [(i % 20, "x" * 50) for i in range(2000)], "k long, payload string"
    )
    joined, adv = execute_advised_join(fact, dim, "k")
    assert adv.recommendation == "broadcast_b"
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert joined.count() == 2000

    # hot key past the broadcast budget → salted_join: the physical
    # join clusters on (k, _salt) and the build side carries the
    # explode(sequence(0..buckets-1)) replication
    skewed = spark.createDataFrame(
        [((0 if i % 2 == 0 else i), "y" * 40) for i in range(4000)],
        "k long, payload string",
    )
    other = spark.createDataFrame(
        [(i, "z" * 40) for i in range(4000)], "k long, p2 string"
    )
    joined2, adv2 = execute_advised_join(
        skewed, other, "k", broadcast_bytes=1000
    )
    assert adv2.recommendation == "salted_join"
    plan2 = joined2._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan2  # the composite salt key reached the plan
    assert "explode" in plan2  # replicated build side
    want = skewed.join(other, "k").count()
    assert joined2.count() == want
    assert set(joined2.columns) == {"k", "payload", "p2"}

    # no skew, both big → plain shuffle join, no salt, no broadcast
    joined3, adv3 = execute_advised_join(other, other.withColumnRenamed("p2", "p3"), "k", broadcast_bytes=1000)
    assert adv3.recommendation == "shuffle_join"
    plan3 = joined3._jdf.queryExecution().executedPlan().toString()
    assert "_salt" not in plan3


def test_dump_flow_enrichment_uses_advisor(spark, tmp_path):
    """Flow-level integration: run_dump_flow's optional enrichment
    join is routed through the advisor — a tiny dimension rides a
    broadcast join into the staged write."""
    from pipelines_spark.flows import run_dump_flow

    fact = spark.createDataFrame(
        [(i, i % 3, f"2024-0{1 + i % 3}-15") for i in range(60)],
        "id long, Region_Key long, event_date string",
    ).withColumn("event_date", F.col("event_date").cast("date"))
    dim = spark.createDataFrame(
        [(0, "north"), (1, "south"), (2, "east")],
        "region_key long, region_name string",
    )
    staging = run_dump_flow(
        spark,
        fact,
        lake_path=str(tmp_path / "lake"),
        staging_table="dump_enriched_staging",
        date_col="event_date",
        enrich_with=dim,
        enrich_key="region_key",
    )
    assert staging.count() == 60
    assert "region_name" in staging.columns
    assert (
        staging.filter(F.col("region_name") == "north").count() == 20
    )
    spark.sql("DROP TABLE IF EXISTS dump_enriched_staging")


#: body of test_register_widens_fact_scans, run in its own local[32]
#: session: the asserted 8-task target must sit under the parallelism
#: cap, so the suite's session (one slot per host core) cannot hold it
_WIDEN_SCRIPT = """
import os
import re
from pyspark.sql import functions as F
from pipelines_spark.queries import QUERIES, register
from pipelines_spark.session import get_spark

spark = get_spark("widen_probe", master="local[32]", shuffle_partitions=32)
register(spark, SF_MEDIUM, ("lineitem", "nation", "events"))
plan = (
    spark.table("lineitem")._jdf.queryExecution().executedPlan().toString()
)
assert "hashpartitioning(l_orderkey" in plan, plan
# right-sized: 8 tasks from the size estimate, NOT the session
# parallelism (32)
assert ", 8)" in plan and ", 32)" not in plan, plan
# a scan whose size-derived target is within 2x of its split
# count gains nothing (events at sf0.01: ceil(221 KB/128 KB)=2
# vs 1 existing split — not worth an exchange)
eplan = (
    spark.table("events")._jdf.queryExecution().executedPlan().toString()
)
assert "hashpartitioning" not in eplan, eplan
# dims are not widened (they broadcast; an exchange would be waste)
nplan = spark.table("nation")._jdf.queryExecution().executedPlan().toString()
assert "Exchange" not in nplan, nplan
# pushdown reaches the scan THROUGH the widen exchange
q = spark.table("lineitem").filter(F.col("l_quantity") < 2.0).select("l_orderkey")
fplan = q._jdf.queryExecution().executedPlan().toString()
assert "PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity,2.0)]" in fplan, fplan
# register is the only place a scan is widened: an operator keeps the
# split it is handed. documents at the pinned split: ceil(65049 B x
# weight 16 / 128 KiB) = 8 tasks, so the shingle operator's only
# widen exchange is register's, and building it runs no Spark job
register(spark, SF_MEDIUM, ("documents",))
sc = spark.sparkContext
sc.setJobGroup("widen-build", "dedup_ngram_jaccard build")
dplan = QUERIES["dedup_ngram_jaccard"](spark, SF_MEDIUM)._jdf.queryExecution().executedPlan().toString()
sc.setLocalProperty("spark.jobGroup.id", None)
assert list(sc.statusTracker().getJobIdsForGroup("widen-build")) == []
widen = re.findall(r"Exchange (.*?), REPARTITION_BY_NUM", dplan)
assert {re.sub(r"#\\d+L?", "", w) for w in widen} == {"hashpartitioning(doc_id, 8)"}, dplan
# at the default split register declines to widen documents (2
# tasks vs its 1 split), and no operator fans it out to 32 tasks
del os.environ["SPARK_GRAFT_WIDEN_SPLIT_BYTES"]
for name in ("dedup_ngram_jaccard", "dedup_minhash_lsh", "curation_pipeline"):
    df = QUERIES[name](spark, SF_MEDIUM)
    fmt = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert "RoundRobinPartitioning" not in fmt, (name, fmt)
# kill-switch: bare scan again
os.environ["SPARK_GRAFT_NO_WIDEN"] = "1"
register(spark, SF_MEDIUM, ("lineitem",))
plan_off = (
    spark.table("lineitem")._jdf.queryExecution().executedPlan().toString()
)
assert "hashpartitioning" not in plan_off, plan_off
print("WIDEN OK", flush=True)
spark.stop()
"""


def test_register_widens_fact_scans(sf_medium):
    """register() (queries.py, r12 guide §2.5 + r13 right-sizing): an
    under-parallel fact-table scan (single-row-group parquet = one
    task) gains ONE hash exchange on the table's unique key — hash,
    not round-robin, so no sortBeforeRepartition local sort rides the
    serial scan task — and the target split count is DERIVED FROM THE
    SCAN'S SIZE ESTIMATE (one task per weighted split-bytes, capped at
    parallelism), never flat parallelism: a small scan must not fan
    out to near-empty tasks. Small broadcast dims gain nothing.
    Kill-switch restores the bare scan. Filter pushdown must survive
    the exchange (the scan still carries PushedFilters). The operators
    keep the split register chose: the shingle and curation queries
    add no round-robin exchange, and building one runs no Spark job.

    Runs in its own 32-slot JVM (``_WIDEN_SCRIPT``), so the result
    does not depend on the host's core count."""
    import os
    import subprocess
    import sys

    env = dict(os.environ, PYTHONPATH=os.getcwd(), SPARK_GRAFT_DRIVER_MEM="1g")
    env.pop("SPARK_GRAFT_NO_WIDEN", None)
    # pin the split size so the ~1 MB sf0.01 lineitem maps to a known
    # target: ceil(1042463 / 131072) = 8 tasks — well under the
    # session's 32-way parallelism
    env["SPARK_GRAFT_WIDEN_SPLIT_BYTES"] = str(128 * 1024)
    proc = subprocess.run(
        [sys.executable, "-c", f"SF_MEDIUM = {sf_medium!r}\n" + _WIDEN_SCRIPT],
        capture_output=True,
        text=True,
        env=env,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "WIDEN OK" in proc.stdout, proc.stdout[-2000:]
