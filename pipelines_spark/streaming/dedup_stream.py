"""Streaming incremental dedup: the production ingestion loop over
the batch operator.

Each micro-batch of new documents probes the PERSISTED fingerprint
store (llm/dedup.py::minhash_fingerprints — batch×store band-key
equi-join, never store×store), writes per-doc decisions with
provenance, and advances the store idempotently (per-batch partition
replace, so a replayed micro-batch after a crash re-writes its own
fingerprints instead of duplicating them). Composition of the r8
batch operator with the reference's incremental-sync discipline
(anti-join registry, sources/ftp.py provenance) lifted to streaming.

State lives in the LAKE (the fingerprint store), not in Spark state
stores — the store outlives the query, is shared by concurrent
pipelines, and is the thing a 100 TB ingestion actually keeps. The
checkpoint only tracks source offsets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from pipelines_spark.llm.dedup import (
    incremental_dedup_batch,
    persist_fingerprints,
    release_staging,
)
from pipelines_spark.sinks.partitioned import BATCH_ID_COL, is_missing_path, write_batch


def run_incremental_dedup_stream(
    source: DataFrame,
    *,
    corpus_path: str,
    store_path: str,
    decisions_path: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    trigger: dict | None = None,
    staging: str = "local",
) -> StreamingQuery:
    """Start the ingestion-dedup stream.

    ``staging`` picks the durability mode for the per-batch staged
    frames (plans/staging.py): ``"local"`` (default — fastest) or
    ``"checkpoint"`` for preemption-prone clusters, where losing an
    executor mid-batch must re-read rather than fail the micro-batch
    (``spark.sparkContext.setCheckpointDir`` must be configured).

    Per micro-batch: probe the store at ``store_path`` (empty on
    first batch), append decision rows (id, is_dup, dup_of,
    n_dup_sources, batch id) to ``decisions_path``, append the FULL
    batch with its decision columns to ``corpus_path`` (the raw zone
    keeps dropped docs too — their texts must stay readable because
    their fingerprints stay in the store and future candidates verify
    against them; the deduped corpus is the ``is_dup = false``
    filter), and advance the store with ALL of the batch's
    fingerprints (the seen-before semantics that make incremental ≡
    one-shot; llm/dedup.py). Batch-id-keyed partition replaces make
    every write idempotent under micro-batch replay: store/corpus
    reads EXCLUDE the current batch's own ``_batch_id`` partition, so
    a crash between the lake writes and the checkpoint commit cannot
    make the replay dedup the batch against its own partial output
    (incremental_dedup_batch's ``_prev_id != _new_id`` guard is the
    second layer of the same defence).
    """
    spark = source.sparkSession

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_df = batch_df.persist()
        store_fps = _read_store(spark, store_path, id_col, str(batch_id))
        store_docs = _read_corpus(
            spark, corpus_path, batch_df, id_col, text_col, str(batch_id)
        )
        decisions = incremental_dedup_batch(
            batch_df.select(id_col, text_col),
            store_fps,
            store_docs,
            id_col=id_col,
            text_col=text_col,
            threshold=threshold,
            staging=staging,
        ).persist()
        write_batch(decisions, decisions_path, batch_id)
        write_batch(batch_df.join(decisions, id_col, "left"), corpus_path, batch_id)
        # the batch's fingerprints were already computed (and persisted
        # in-memory) inside incremental_dedup_batch — reuse them for the
        # store advance instead of re-running the 32-hash pipeline
        persist_fingerprints(decisions._batch_fps, store_path, str(batch_id))
        # release the operator's staging frames (batch_fps, cands,
        # shingle sets) — a long-running stream must not leak persisted
        # frames per micro-batch
        release_staging(decisions)
        decisions.unpersist()
        batch_df.unpersist()

    writer = source.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint_path
    )
    if trigger:
        writer = writer.trigger(**trigger)
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _read_store(
    spark: SparkSession, path: str, id_col: str, batch_id: str
) -> DataFrame:
    try:
        fps = spark.read.parquet(path)
    except Exception as exc:
        # only a store not created yet (first batch) reads as empty:
        # deduping against an empty store after any OTHER failure
        # would permanently record wrong keep decisions
        if is_missing_path(spark, path, exc):
            return spark.createDataFrame(
                [], f"{id_col} long, band_no int, band_key long"
            )
        raise
    # replay guard: a crashed run may have written this batch's own
    # partition already — it must not be probed as "previously seen"
    return fps.filter(F.col(BATCH_ID_COL) != batch_id).select(
        id_col, "band_no", "band_key"
    )


def _read_corpus(
    spark: SparkSession,
    path: str,
    like: DataFrame,
    id_col: str,
    text_col: str,
    batch_id: str,
) -> DataFrame:
    try:
        corpus = spark.read.parquet(path)
    except Exception as exc:
        if is_missing_path(spark, path, exc):
            return like.select(id_col, text_col).filter(F.lit(False))
        raise
    return corpus.filter(F.col(BATCH_ID_COL) != batch_id).select(id_col, text_col)
