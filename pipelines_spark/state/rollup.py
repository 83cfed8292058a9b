"""Incremental rollup maintenance over snapshot tables.

The reference re-materializes aggregate tables by re-running their SQL
over a date range every cycle (build_incremental_model,
pipelines/rj_smtr/tasks.py:70-140 — the dbt incremental pattern). When
the aggregate is distributive (count/sum/min/max — and mean as
sum+count), re-aggregating old data is pure waste: the new rows'
PARTIAL aggregate merges into the existing rollup algebraically. At
100 TB this is the difference between scanning a day and scanning
three years.

``run_incremental_rollup`` composes with ``sinks.snapshots``:

- the SOURCE is a snapshot table; ``snapshot_changes`` yields exactly
  the rows committed since the last maintained version — no
  timestamps, no late-data heuristics, the manifest log IS the delta
  contract (append-only sources; an overwrite commit is rejected as
  a rebase signal rather than silently double-counted);
- the ROLLUP is itself a snapshot table: each maintenance run commits
  one new rollup version whose manifest records the source version it
  covers, so the state is transactional WITH the data (crash between
  "write rollup" and "save watermark" can't double-apply — the
  watermark lives in the rollup's own manifest).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pipelines_spark.sinks.snapshots import (
    APPEND_ONLY,
    LOG_DIR,
    _fs,
    _list_versions,
    _load_manifest,
    _write,
    current_version,
    snapshot_changes,
    snapshot_history,
    snapshot_read,
)

#: distributive aggregates a rollup can maintain incrementally
_MERGE = {
    "sum": lambda old, new: F.coalesce(old, F.lit(0)) + F.coalesce(new, F.lit(0)),
    "count": lambda old, new: F.coalesce(old, F.lit(0)) + F.coalesce(new, F.lit(0)),
    "min": lambda old, new: F.least(old, new),
    "max": lambda old, new: F.greatest(old, new),
}
_APPLY = {
    "sum": F.sum,
    "count": lambda c: F.count(F.lit(1)),
    "min": F.min,
    "max": F.max,
}


def _covered_version(spark: SparkSession, rollup_path: str) -> int | None:
    """Source version the latest rollup snapshot covers (recorded in
    its manifest under ``app:covered_source_version``), or None for a
    first run."""
    fs, jvm = _fs(spark, rollup_path)
    log_dir = f"{rollup_path}/{LOG_DIR}"
    versions = _list_versions(fs, jvm, log_dir)
    if not versions:
        return None
    manifest = _load_manifest(fs, jvm, log_dir, versions[-1])
    return manifest.get("app", {}).get("covered_source_version")


def run_incremental_rollup(
    spark: SparkSession,
    source_path: str,
    rollup_path: str,
    *,
    keys: list[str],
    measures: dict[str, tuple[str, str]],
    clock=None,
) -> dict:
    """Maintain ``rollup_path`` = SELECT keys, aggs FROM source GROUP
    BY keys, incrementally: aggregate ONLY the source rows committed
    after the last covered version, then merge algebraically.

    ``measures`` maps output column → (agg, input column) with agg in
    sum|count|min|max (count ignores its input column). Returns
    ``{"source_version", "rows_delta", "action"}``; a no-op (nothing
    new committed) performs no write at all, so re-runs are idempotent.

    Append-only contract: if any commit in the maintained range is an
    ``overwrite``, incremental merge would double-count — the run
    raises and the caller rebuilds with ``full_rollup_rebuild``.
    """
    for out_col, (agg, _src) in measures.items():
        if agg not in _APPLY:
            raise ValueError(f"{out_col}: agg {agg!r} not distributive (have {sorted(_APPLY)})")
    src_version = current_version(spark, source_path)
    if src_version is None:
        raise FileNotFoundError(f"no snapshot table at {source_path}")
    covered = _covered_version(spark, rollup_path)
    if covered is not None and covered >= src_version:
        return {"source_version": covered, "rows_delta": 0, "action": "noop"}

    if covered is not None:
        bad = [
            h for h in snapshot_history(spark, source_path)
            if covered < h["version"] <= src_version
            and h["operation"] not in APPEND_ONLY
            # compact commits change no rows; snapshot_changes already
            # yields them as empty deltas
        ]
        if bad:
            raise ValueError(
                f"source versions {[h['version'] for h in bad]} are overwrites — "
                "incremental merge would double-count; rebuild with "
                "full_rollup_rebuild"
            )
        delta = snapshot_changes(
            spark, source_path, since_version=covered, to_version=src_version
        )
    else:
        delta = snapshot_read(spark, source_path, version=src_version)

    aggs = [
        _APPLY[agg](F.col(src)).alias(out) if agg != "count" else _APPLY[agg](src).alias(out)
        for out, (agg, src) in measures.items()
    ]
    partial = delta.groupBy(*keys).agg(*aggs)
    n_delta = delta.count()

    if covered is None:
        merged = partial
    else:
        old = snapshot_read(spark, rollup_path)
        o = old.select(*keys, *[F.col(c).alias(f"_o_{c}") for c in measures])
        p = partial.select(*keys, *[F.col(c).alias(f"_p_{c}") for c in measures])
        merged = o.join(p, keys, "full_outer").select(
            *keys,
            *[
                _MERGE[agg](F.col(f"_o_{out}"), F.col(f"_p_{out}")).alias(out)
                for out, (agg, _src) in measures.items()
            ],
        )
    # the covered source version commits in the same manifest as the
    # data: one rename, so a crash cannot separate them
    _write(
        spark, rollup_path, merged, "overwrite", clock=clock or time.time,
        app={"covered_source_version": src_version},
    )
    return {"source_version": src_version, "rows_delta": n_delta, "action": "merged" if covered is not None else "bootstrap"}


def full_rollup_rebuild(
    spark: SparkSession,
    source_path: str,
    rollup_path: str,
    *,
    keys: list[str],
    measures: dict[str, tuple[str, str]],
    clock=None,
) -> dict:
    """Recompute the rollup from the full current source snapshot (the
    escape hatch after an overwrite/rebase of the source)."""
    src_version = current_version(spark, source_path)
    full = snapshot_read(spark, source_path, version=src_version)
    aggs = [
        _APPLY[agg](F.col(src)).alias(out) if agg != "count" else _APPLY[agg](src).alias(out)
        for out, (agg, src) in measures.items()
    ]
    merged = full.groupBy(*keys).agg(*aggs)
    _write(
        spark, rollup_path, merged, "overwrite", clock=clock or time.time,
        app={"covered_source_version": src_version},
    )
    return {"source_version": src_version, "rows_delta": full.count(), "action": "rebuild"}
