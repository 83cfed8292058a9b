"""The reference's three entry points (SURVEY §3) as one-call flows.

§3.1 ``run_dump_flow``       — dump_sql_flow: source scan → column
     normalization → partition derivation → Hive-partitioned lake
     write → all-string staging table (+ optional typed view).
§3.2 ``run_capture_window``  — default_capture_flow, one window:
     fetch → stamp timestamp_captura → dedup on (keys, capture ts)
     → nested-content staging write → capture-log row (success or
     failure). ``recapture_missing`` replays the T4 spine.
§3.3 ``run_materialization`` — default_materialization_flow: compute
     the date range from the watermark store (now − delay fallback),
     run the SQL model incrementally, advance the watermark only on
     success.

Each flow is a thin composition of the engine modules — the pieces
stay independently usable; these functions pin the reference's
orchestration contract (parameter shapes, idempotency, log/watermark
side effects) in one place. Prefect-flow equivalents:
pipelines/utils/dump_db/flows.py:35-238,
pipelines/rj_smtr/flows.py:46-290.
"""

from __future__ import annotations

import logging

from collections.abc import Callable
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pipelines_spark.functions.datetime_ops import derive_partition_columns
from pipelines_spark.functions.json_ops import nest_payload
from pipelines_spark.llm.dedup import release_staging
from pipelines_spark.naming import normalize_columns
from pipelines_spark.operators.spine import find_gaps, time_spine
from pipelines_spark.plans.models import ModelRunner
from pipelines_spark.sinks.logs import append_capture_log
from pipelines_spark.sinks.partitioned import (
    create_staging_table,
    to_all_string,
    write_partitioned,
)
from pipelines_spark.state.watermark import WatermarkStore

_LOG = logging.getLogger("pipelines_spark.flows")


def run_dump_flow(
    spark: SparkSession,
    source_df: DataFrame,
    *,
    lake_path: str,
    staging_table: str,
    date_col: str,
    partition_cols: tuple[str, ...] = ("ano_particao",),
    mode: str = "overwrite_partitions",
    sort_by_date: bool = False,
    enrich_with: DataFrame | None = None,
    enrich_key: str | None = None,
) -> DataFrame:
    """§3.1 dump: normalize → derive partitions → all-string staged
    write → staging table registered; returns the staging DataFrame.

    ``sort_by_date=True`` sorts rows inside each write task on the
    (normalized) date column, so parquet zone maps support range
    pruning for every downstream incremental consumer — the sort is
    task-local and costs no extra shuffle (see
    ``write_partitioned(sort_cols=...)``).

    ``enrich_with`` + ``enrich_key``: optional dimension enrichment
    BEFORE the lake write, routed through the sketch-driven join
    advisor (plans/advisor.py::execute_advised_join) — the pre-flight
    prices the join from bounded sketches and the executed strategy
    follows its recommendation (broadcast / salted / plain shuffle);
    the decision and its inputs are logged, the reference's auditable
    cost-guard discipline applied to a join instead of a scan."""
    from pipelines_spark.naming import normalize_column_name

    df = normalize_columns(source_df)
    if enrich_with is not None:
        if enrich_key is None:
            raise ValueError("enrich_with requires enrich_key")
        from pipelines_spark.plans.advisor import execute_advised_join

        df, advice = execute_advised_join(
            df, normalize_columns(enrich_with), normalize_column_name(enrich_key)
        )
        _LOG.info(
            "dump enrichment join on %s: %s (%s; est output %d rows)",
            enrich_key,
            advice.recommendation,
            advice.reason,
            advice.est_join_size,
        )
    # the frame is normalized, so every later reference to date_col
    # must use its normalized name too
    date_norm = normalize_column_name(date_col)
    df = derive_partition_columns(df, date_norm)
    staged = to_all_string(df)
    try:
        write_partitioned(
            staged,
            lake_path,
            list(partition_cols),
            mode=mode,
            sort_cols=[date_norm] if sort_by_date else None,
        )
    finally:
        # the write is the source's only action: free a quarantine
        # read's cached scan (sources/files.py::read_with_quarantine)
        release_staging(source_df)
    create_staging_table(spark, staging_table, lake_path)
    table = spark.table(staging_table)
    if set(table.columns) != set(staged.columns):
        # the dump changed the lake's columns: infer them again
        spark.sql(f"DROP TABLE IF EXISTS {staging_table}")
        create_staging_table(spark, staging_table, lake_path)
        table = spark.table(staging_table)
    return table


def _floor_to_partition_grain(ts: datetime | None, partition_cols) -> datetime | None:
    """Floor a watermark timestamp to the finest partition grain in
    ``partition_cols`` (the leaf unit dynamic overwrite replaces):
    data_particao → day, mes_particao → month, ano_particao → year."""
    if ts is None:
        return None
    cols = set(partition_cols)
    if "data_particao" in cols:
        return datetime(ts.year, ts.month, ts.day)
    if "mes_particao" in cols:
        return datetime(ts.year, ts.month, 1)
    if "ano_particao" in cols:
        return datetime(ts.year, 1, 1)
    return ts


def run_db_dump_flow(
    spark: SparkSession,
    source,
    base_query: str,
    *,
    store: WatermarkStore,
    scope: str,
    ts_col: str,
    lake_path: str,
    staging_table: str,
    date_col: str | None = None,
    partition_cols: tuple[str, ...] = ("ano_particao",),
    partition_column: str | None = None,
    lower_bound=None,
    upper_bound=None,
    num_partitions: int = 8,
) -> DataFrame:
    """§3.1 dump from a LIVE DBMS, incremental: wrap ``base_query``
    with the watermark predicate (pushed INTO the source DB — the
    reference's format_partitioned_query rewrite), read it as a
    partitioned parallel JDBC scan, run the dump (normalize →
    partition-derive → all-string staged write → staging table), and
    advance the watermark to MAX(ts_col) of the batch — only after
    the write succeeded, so a failed run re-reads the same window.

    The incremental bound is FLOORED to the partition grain before it
    reaches the source query: dynamic partition overwrite replaces
    whole leaf partitions, so a sub-grain bound would rewrite the
    watermark's partition with only its tail rows and silently drop
    earlier same-partition data. Re-reading the full boundary
    partition costs one partition of overlap and is exactly the
    reference's partition-date rewrite semantics
    (format_partitioned_query uses the last partition DATE, never a
    timestamp). Composes sources/jdbc + state/watermark +
    run_dump_flow. Reference: pipelines/utils/dump_db/flows.py:35-238
    + tasks.py:182-259.
    """
    from pipelines_spark.sources.jdbc import (
        incremental_query,
        read_jdbc,
        reader_options,
    )

    wm_ts, _ = store.get_table_watermark(scope)
    wm_ts = _floor_to_partition_grain(wm_ts, partition_cols)
    q = incremental_query(base_query, ts_col, wm_ts, db_type=source.db_type)
    opts = reader_options(
        source, q,
        partition_column=partition_column,
        lower_bound=lower_bound, upper_bound=upper_bound,
        num_partitions=num_partitions,
    )
    # persist: the batch feeds both the lake write and the watermark
    # aggregation — without it each action would re-query the DBMS.
    # run_dump_flow normalizes column names itself; column resolution
    # here is case-insensitive, so the raw JDBC casing resolves.
    batch = read_jdbc(spark, opts).persist()
    try:
        staged = run_dump_flow(
            spark, batch,
            lake_path=lake_path, staging_table=staging_table,
            date_col=(date_col or ts_col).lower(),
            partition_cols=partition_cols,
        )
        store.advance_from(scope, batch, ts_col=ts_col)
    finally:
        batch.unpersist()
    return staged


def run_capture_window(
    spark: SparkSession,
    fetch: Callable[[datetime, datetime], DataFrame],
    *,
    window_start: datetime,
    window_end: datetime,
    keys: list[str],
    staging_path: str,
    logs_path: str,
    recapture: bool = False,
    fetch_attempts: int = 3,
    fetch_delay_s: float = 10.0,
    _sleep=None,
) -> bool:
    """§3.2 capture, one tumbling window. The fetch retries
    ``fetch_attempts`` × ``fetch_delay_s`` (reference: 3 × 10 s,
    pipelines/rj_smtr/constants.py:22-23) before the window is logged
    as failed; the recapture spine then picks it up next run (T4)."""
    from pipelines_spark.retry import with_retries

    try:
        raw = with_retries(
            lambda: fetch(window_start, window_end),
            attempts=fetch_attempts,
            delay_s=fetch_delay_s,
            **({"sleep": _sleep} if _sleep else {}),
        )
        staged = (
            raw.withColumn("timestamp_captura", F.lit(window_end))
            .dropDuplicates([*keys, "timestamp_captura"])
        )
        staged = nest_payload(staged, keys)
        staged = staged.withColumn(
            "data", F.date_format("timestamp_captura", "yyyy-MM-dd")
        ).withColumn("hora", F.date_format("timestamp_captura", "HH"))
        staged.write.mode("append").partitionBy("data", "hora").parquet(staging_path)
    except Exception as exc:  # noqa: BLE001 — the log row is the contract
        append_capture_log(
            spark, logs_path, [window_end], success=False,
            error=str(exc)[:500], recapture=recapture,
        )
        return False
    append_capture_log(
        spark, logs_path, [window_end], success=True, recapture=recapture
    )
    return True


def recapture_missing(
    spark: SparkSession,
    fetch: Callable[[datetime, datetime], DataFrame],
    *,
    spine_start: str,
    spine_end: str,
    interval: str,
    keys: list[str],
    staging_path: str,
    logs_path: str,
    cap: int = 90,
) -> int:
    """§3.2/T4: anti-join the schedule spine against the capture log
    and re-run the missing/failed windows (oldest first, ``cap``
    bounded — the reference's 90-recapture backlog contract).
    Returns how many windows were replayed."""
    spine = time_spine(spark, spine_start, spine_end, interval=interval)
    gaps = [
        r["timestamp_captura"]
        for r in find_gaps(spine, spark.read.parquet(logs_path), cap=cap).collect()
    ]
    seconds = {"1 minute": 60, "5 minutes": 300, "1 hour": 3600}.get(interval, 60)
    for ts in gaps:
        run_capture_window(
            spark, fetch,
            window_start=ts - timedelta(seconds=seconds), window_end=ts,
            keys=keys, staging_path=staging_path, logs_path=logs_path,
            recapture=True,
        )
    return len(gaps)


def run_materialization(
    spark: SparkSession,
    runner: ModelRunner,
    store: WatermarkStore,
    *,
    model_name: str,
    now: datetime,
    delay_minutes: int = 0,
    fallback_start: datetime | None = None,
) -> tuple[datetime, datetime] | None:
    """§3.3 materialize: date range = (watermark, now − delay]; run
    the model; advance the watermark only on success. Returns the
    materialized range, or None when there is nothing new."""
    start, _ = store.get_table_watermark(model_name)
    if start is None:
        start = fallback_start or datetime(1970, 1, 1)
    end = now - timedelta(minutes=delay_minutes)
    if end <= start:
        return None
    fmt = "%Y-%m-%d %H:%M:%S"
    runner.run(
        select=model_name,
        variables={
            "date_range_start": start.strftime(fmt),
            "date_range_end": end.strftime(fmt),
        },
    )
    store.set_table_watermark(model_name, ts=end)
    return (start, end)


def run_maintenance(
    spark: SparkSession,
    path: str,
    partition_cols: list[str],
    *,
    keep: Callable[[dict], bool] | None = None,
    target_file_mb: int = 128,
    min_files_to_compact: int = 4,
    log_path: str | None = None,
    now: datetime | None = None,
) -> dict:
    """Scheduled lake upkeep for a capture/staging zone: age out
    partitions failing ``keep`` (retention), then compact the
    small-file debris the minutely cadence leaves behind, and record
    one log row. The reference splits this between storage lifecycle
    rules and ad-hoc jobs; here it is one idempotent call — re-running
    immediately is a no-op (nothing left to delete, nothing above the
    compaction threshold).

    Order matters: vacuum BEFORE compact, so the sweep never pays to
    rewrite files it is about to delete. A failed run still logs
    (success=False with the error) — the same reconciliation contract
    the capture flow keeps.
    """
    from pipelines_spark.sinks.partitioned import (
        compact_partitions,
        vacuum_partitions,
    )

    # validate BEFORE any destructive step: a bad-call ValueError must
    # never land after partitions are already deleted
    if log_path and now is None:
        raise ValueError("log_path requires an explicit `now` timestamp")
    try:
        removed = (
            vacuum_partitions(path, partition_cols, keep=keep, spark=spark)
            if keep
            else []
        )
        compacted = compact_partitions(
            spark,
            path,
            partition_cols,
            target_file_mb=target_file_mb,
            min_files_to_compact=min_files_to_compact,
        )
    except Exception as e:
        if log_path:
            append_capture_log(
                spark, log_path, [now], success=False, error=str(e)[:500]
            )
        raise
    stats = {"partitions_removed": len(removed), "partitions_compacted": len(compacted)}
    if log_path:
        append_capture_log(spark, log_path, [now], success=True)
    return stats


def run_dump_flow_transactional(
    spark: SparkSession,
    source_df: DataFrame,
    *,
    table_path: str,
    date_col: str,
    checks: list | None = None,
    mode: str = "append",
    clock=None,
) -> dict:
    """§3.1 dump targeting a SNAPSHOT table with write-audit-publish:
    normalize → derive partition columns → stage the commit invisibly
    → run the check harness against the WOULD-BE table → publish
    atomically (or leave the table untouched and the stage in place
    for triage).

    This is the transactional upgrade of ``run_dump_flow``: the Hive
    layout's dynamic-overwrite idempotency contract is replaced by
    versioned manifests — readers can never observe a half-loaded
    batch, failed audits never expose bad data, and every dump is a
    time-travelable version. ``checks`` is a list of
    ``plans.checks.Check`` evaluated over the staged table registered
    as the temp view ``_staged_dump``.

    Returns {"published", "version" | "stage_id", "failed_checks"}.
    """
    import time as _time

    from pipelines_spark.naming import normalize_column_name
    from pipelines_spark.plans.checks import run_checks
    from pipelines_spark.sinks.snapshots import (
        publish_snapshot,
        snapshot_write_staged,
        staged_snapshot_read,
    )

    clock = clock or _time.time
    df = normalize_columns(source_df)
    df = derive_partition_columns(df, normalize_column_name(date_col))
    try:
        stage_id = snapshot_write_staged(spark, table_path, df, mode=mode, clock=clock)
    finally:
        release_staging(source_df)

    failed: list[str] = []
    if checks:
        staged_snapshot_read(spark, table_path, stage_id).createOrReplaceTempView(
            "_staged_dump"
        )
        results = run_checks(spark, checks)
        failed = [r.name for r in results if not r.passed]
    if failed:
        _LOG.warning(
            "dump to %s NOT published: %d failed checks (%s); stage %s kept for triage",
            table_path, len(failed), ", ".join(failed), stage_id,
        )
        return {"published": False, "stage_id": stage_id, "failed_checks": failed}
    version = publish_snapshot(spark, table_path, stage_id, clock=clock)
    return {"published": True, "version": version, "failed_checks": []}


def run_curation_flow_transactional(
    spark: SparkSession,
    docs: DataFrame,
    *,
    table_path: str,
    config=None,
    checks: list | None = None,
    min_docs: int = 1,
    clock=None,
) -> dict:
    """The LLM-corpus counterpart of ``run_dump_flow_transactional``:
    curate → stage the curated corpus invisibly → audit the WOULD-BE
    table → publish atomically, or keep the stage for triage.

    Composition of the two flagships: ``llm/curation.py::
    curate_corpus`` produces the corpus + per-stage funnel stats;
    the snapshot write-audit-publish path (sinks/snapshots.py)
    guarantees a training run can never read a half-curated or
    audit-failed corpus — the same "bad data caught while INVISIBLE"
    contract the reference's quality checks aim at, upgraded from
    log-and-alert to cannot-be-observed. Built-in audit: the curated
    corpus must keep at least ``min_docs`` documents (a gate
    misconfiguration that empties the corpus fails the audit, not
    the training run); pass ``checks`` (``plans.checks.Check`` over
    the staged view ``_staged_corpus``) for corpus-specific audits.

    Returns {"published", "version" | "stage_id", "failed_checks",
    "stats": [(stage, n_docs), ...]}.
    """
    import time as _time

    from pipelines_spark.llm.curation import curate_corpus
    from pipelines_spark.plans.checks import Check, run_checks
    from pipelines_spark.sinks.snapshots import (
        publish_snapshot,
        snapshot_write_staged,
        staged_snapshot_read,
    )

    clock = clock or _time.time
    curated, stats = curate_corpus(docs, config, collect_stats=True)
    try:
        stage_id = snapshot_write_staged(
            spark, table_path, curated, mode="append", clock=clock
        )
    finally:
        # the staged write is the corpus's only action: free its cache
        release_staging(curated)

    staged_snapshot_read(spark, table_path, stage_id).createOrReplaceTempView(
        "_staged_corpus"
    )
    all_checks = [
        Check(
            name="min_docs",
            sql=f"SELECT 1 WHERE (SELECT count(*) FROM _staged_corpus) >= {int(min_docs)}",
            kind="expect_true",
            description="curation must not empty the corpus",
        ),
        *(checks or []),
    ]
    results = run_checks(spark, all_checks)
    failed = [r.name for r in results if not r.passed]
    stats_rows = [(r["stage"], r["n_docs"]) for r in stats.collect()]
    if failed:
        _LOG.warning(
            "curated corpus for %s NOT published: %d failed checks (%s); "
            "stage %s kept for triage",
            table_path, len(failed), ", ".join(failed), stage_id,
        )
        return {
            "published": False,
            "stage_id": stage_id,
            "failed_checks": failed,
            "stats": stats_rows,
        }
    version = publish_snapshot(spark, table_path, stage_id, clock=clock)
    return {
        "published": True,
        "version": version,
        "failed_checks": [],
        "stats": stats_rows,
    }
