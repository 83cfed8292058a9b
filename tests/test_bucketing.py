"""Bucketed tables: co-located joins and aggregations run without a
shuffle — the plan-level proof of the pre-partitioning strategy."""

import contextlib
import io

import pytest

from pyspark.sql import functions as F

from pipelines_spark.sinks.partitioned import write_bucketed_table


@pytest.fixture(scope="module")
def bucketed(spark, sf_small):
    orders = spark.read.parquet(f"{sf_small}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_small}/lineitem.parquet")
    write_bucketed_table(orders, "orders_b", ["o_orderkey"], num_buckets=8)
    write_bucketed_table(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "lineitem_b",
        ["o_orderkey"],
        num_buckets=8,
    )
    yield
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")


def _plan_text(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def test_cobucketed_join_has_no_exchange(spark, bucketed):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("orders_b").join(spark.table("lineitem_b"), "o_orderkey")
        plan = _plan_text(joined)
        assert "Exchange" not in plan  # bucket layout satisfies the join
        # and results are correct
        n = joined.count()
        want = (
            spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
            .join(
                spark.read.parquet("/root/testdata/sf0.001/orders.parquet"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .count()
        )
        assert n == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_bucketed_aggregation_has_no_exchange(spark, bucketed):
    agg = spark.table("lineitem_b").groupBy("o_orderkey").agg(F.sum("l_quantity"))
    assert "Exchange" not in _plan_text(agg)


def test_fingerprint_store_bucketed_probe_skips_store_shuffle(spark, sf_small):
    """The incremental-dedup fingerprint store persisted BUCKETED on
    band_key: probing it with a new batch shuffles only the (small)
    batch side — the store's bucket layout satisfies the join, so the
    100 TB store is never re-shuffled per ingestion batch. Decisions
    must equal the plain unbucketed probe."""
    from pipelines_spark.llm.dedup import (
        incremental_dedup_batch,
        minhash_fingerprints,
    )

    docs = spark.read.parquet(f"{sf_small}/documents.parquet").select(
        "doc_id", "text"
    )
    store_docs = docs.filter(F.col("doc_id") < 250)
    batch = docs.filter(F.col("doc_id") >= 250)
    fps = minhash_fingerprints(store_docs, id_col="doc_id", text_col="text")
    # bucketed on BOTH probe-join keys: a single-key bucket layout
    # does not satisfy Spark's all-cluster-keys co-partition rule
    write_bucketed_table(
        fps, "fps_store_b", ["band_no", "band_key"], num_buckets=8
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        store = spark.table("fps_store_b")
        # the probe join itself (the cand_store leg of
        # incremental_dedup_batch — since r9 that leg lives inside a
        # lazy-localCheckpointed candidate stage, so the outer plan no
        # longer exposes the store scan; pin the probe's own plan):
        # the store scan must feed its SortMergeJoin with NO Exchange
        # in between (only Sort/Project/Filter) — the bucket layout
        # already satisfies the join's distribution
        batch_fps = minhash_fingerprints(
            batch, id_col="doc_id", text_col="text"
        )
        probe = batch_fps.withColumnsRenamed({"doc_id": "_new_id"}).join(
            store.withColumnsRenamed({"doc_id": "_prev_id"}),
            ["band_no", "band_key"],
        )
        plan = probe._jdf.queryExecution().executedPlan().toString()
        lines = plan.splitlines()
        scan_idx = [i for i, ln in enumerate(lines) if "fps_store_b" in ln]
        assert scan_idx, plan
        above = "\n".join(lines[max(0, scan_idx[0] - 3) : scan_idx[0]])
        assert "Exchange" not in above, above
        assert "Sort [band_no" in above  # SMJ-ready straight off the scan
        # and the operator over the bucketed store stays correct
        got = {
            tuple(r)
            for r in incremental_dedup_batch(batch, store, store_docs).collect()
        }
        want = {
            tuple(r)
            for r in incremental_dedup_batch(batch, fps, store_docs).collect()
        }
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS fps_store_b")


def test_incremental_dedup_verification_is_candidate_bounded(spark, sf_small):
    """The 100 TB-shape pin for exact verification: the shingle
    projection (the `_sh` word-shingles Project) must sit DIRECTLY
    above a LeftSemi join on the candidate-id set, for BOTH corpus
    legs (store texts and batch texts) — i.e. the store corpus is
    never shingled in full per ingestion batch; only candidate docs'
    texts are read and shingled. Companion to the bucketed store
    probe pin above (fingerprints) — this one bounds the TEXT side."""
    from pipelines_spark.llm.dedup import (
        incremental_dedup_batch,
        minhash_fingerprints,
        release_staging,
    )

    docs = spark.read.parquet(f"{sf_small}/documents.parquet").select(
        "doc_id", "text"
    )
    store_docs = docs.filter(F.col("doc_id") < 250)
    batch = docs.filter(F.col("doc_id") >= 250)
    fps = minhash_fingerprints(store_docs, id_col="doc_id", text_col="text")
    # persist_staging=False: the default path stages batch_fps/sets
    # via lazy localCheckpoint (r10 persist-hygiene), which compiles
    # the structure under pin into an opaque LogicalRDD — the unstaged
    # variant builds the IDENTICAL plan tree minus the stage wrappers,
    # so the pin inspects the real structure (correctness of the
    # staged default is covered by the parity tests + the
    # CacheManager-hygiene sweep in test_lifecycle.py)
    out = incremental_dedup_batch(batch, fps, store_docs, persist_staging=False)
    opt = out._jdf.queryExecution().optimizedPlan().toString()
    lines = [ln for ln in opt.splitlines() if ln.strip()]
    # the verification shingle-set projection aliases the CASE-WHEN
    # shingles expression as `_sh`; without the stage boundary Catalyst
    # collapses the `_sn`/`_sp` renames into that Project, so the
    # optimized plan shows "END AS _sn#"/"END AS _sp#" (one per union
    # leg per join side); the minhash pipeline's internal per-shingle
    # explode never binds these aliases, so this matches only the
    # text-side legs
    shingle_projs = [
        i
        for i, ln in enumerate(lines)
        if "Project" in ln
        and ("END AS _sh#" in ln or "END AS _sn#" in ln or "END AS _sp#" in ln)
    ]
    assert len(shingle_projs) >= 2, opt  # one per union leg, at least
    for i in shingle_projs:
        assert "LeftSemi" in lines[i + 1], "\n".join(lines[i : i + 2])
    release_staging(out)


@pytest.mark.parametrize("mode", ["overwrite", "append"])
def test_bucketed_write_over_orphan_location(spark, mode):
    """An interrupted write leaves ``<warehouse>/<name>/`` behind with
    no catalog entry. The next write must replace it, not fail with
    LOCATION_ALREADY_EXISTS, and must leave every other directory of
    the warehouse alone."""
    import os
    import shutil
    from urllib.parse import urlparse

    name = "orphan_b"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    stale = os.path.join(warehouse, name)
    neighbour = os.path.join(warehouse, f"{name}_neighbour")
    for d in (stale, neighbour):
        os.makedirs(d, exist_ok=True)
        spark.range(5).toPandas().to_parquet(os.path.join(d, "part-stale.parquet"))
    df = spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("v"))
    try:
        write_bucketed_table(df, name, ["id"], num_buckets=4, mode=mode)
        got = sorted(tuple(r) for r in spark.table(name).collect())
        assert got == [(i, 2 * i) for i in range(10)]
        assert not os.path.exists(os.path.join(stale, "part-stale.parquet"))
        assert os.path.exists(os.path.join(neighbour, "part-stale.parquet"))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(neighbour, ignore_errors=True)
