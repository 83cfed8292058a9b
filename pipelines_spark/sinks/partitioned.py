"""Hive-partitioned lake writer with idempotent partition overwrite.

Reference semantics being reproduced (SURVEY K3/K6/K7/T6):
- ``to_partitions`` splits a dataframe by distinct partition-column
  combos and writes each under ``k=v/`` dirs
  (pipelines/utils/utils.py:569-654) → native
  ``write.partitionBy(...)``.
- Re-uploading the same partition replaces it (same-filename trick,
  pipelines/utils/tasks.py:273-276; blob-delete-then-upload,
  pipelines/utils/dump_db/tasks.py:401-435) → dynamic partition
  overwrite: ``INSERT OVERWRITE`` only the partitions present in the
  incoming batch. Re-running a window is idempotent — the engine's
  exactly-once-ish contract.
- dump modes append/overwrite (pipelines/utils/dump_db/tasks.py:436-587).
- every ``foreachBatch`` sink writes through ``write_batch``: a
  ``_batch_id`` partition under dynamic overwrite, so a replayed
  micro-batch replaces its own files.

Scale notes: the writer repartitions by the partition columns before
writing so each task writes few files per partition (avoids the
many-small-files explosion at 1000 executors); dynamic overwrite
touches only affected partitions, never the whole table.
"""

from __future__ import annotations

import threading
import weakref
from urllib.parse import unquote

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    *,
    mode: str = "overwrite_partitions",
    file_format: str = "parquet",
    target_files_per_partition: int = 1,
    sort_cols: list[str] | None = None,
) -> None:
    """Write ``df`` Hive-partitioned at ``path``.

    Modes: ``append`` | ``overwrite`` (whole table) |
    ``overwrite_partitions`` (dynamic: only incoming partitions are
    replaced — enforced per-write via the writer-level
    ``partitionOverwriteMode`` option, so the semantics hold in ANY
    session. r12: this used to rely on the session-wide conf from
    session.get_spark; under a vanilla session (static mode — e.g.
    the external driver's) the same call silently overwrote the
    WHOLE table, which the restart-resume test caught as a
    fingerprint store losing its history partitions).

    ``sort_cols`` sorts rows inside each write task (a task-local
    sort, no extra shuffle). Parquet footer min/max stats per row
    group then carry tight, mostly disjoint ranges on those columns,
    so point/range scans skip row groups instead of reading them —
    the cheap half of Z-ordering, and the right default for the
    time column every incremental consumer filters on.
    """
    save_mode = {"append": "append", "overwrite": "overwrite", "overwrite_partitions": "overwrite"}[mode]
    writer_df = df
    if partition_cols:
        if target_files_per_partition <= 1:
            writer_df = df.repartition(*[F.col(c) for c in partition_cols])
        else:
            writer_df = df.repartition(
                *[F.col(c) for c in partition_cols],
                (F.rand(seed=0) * target_files_per_partition).cast("int"),
            )
    if sort_cols:
        writer_df = writer_df.sortWithinPartitions(
            *partition_cols, *sort_cols
        )
    writer = writer_df.write.mode(save_mode).format(file_format)
    if mode == "overwrite_partitions":
        writer = writer.option("partitionOverwriteMode", "dynamic")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.save(path)


#: partition column of every micro-batch sink (``write_batch``)
BATCH_ID_COL = "_batch_id"


def write_batch(
    df: DataFrame,
    path: str,
    batch_id: int | str,
    partition_cols: list[str] | None = None,
) -> None:
    """Write one micro-batch under ``partition_cols`` + ``_batch_id``
    with dynamic partition overwrite.

    ``foreachBatch`` is at-least-once: a batch re-run after a crash
    before the checkpoint commit gets the same id, so its rows replace
    that batch's own files and the table ends as one run would leave
    it — provided ``partition_cols`` are replay-stable (row values, or
    a stream's ``current_timestamp()``, which is the batch timestamp
    kept in the offset log), never the wall clock. Other batches'
    files are untouched. Spark's file listing skips ``_``-prefixed
    names only when they hold no ``=``, so ``_batch_id=…`` is read.
    """
    write_partitioned(
        df.withColumn(BATCH_ID_COL, F.lit(str(batch_id))),
        path,
        [*(partition_cols or []), BATCH_ID_COL],
        mode="overwrite_partitions",
    )


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the Hadoop FileSystem API —
    the same abstraction Spark's writers use, so deletes/listing work
    on any configured scheme (file://, hdfs://, s3a://, …), not just
    the local disk."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    # qualify so path strings compare stably against listStatus output
    # (which always returns fully-qualified scheme://… paths)
    return fs, fs.makeQualified(hpath)


def is_missing_path(spark: SparkSession, path: str, exc: Exception) -> bool:
    """True only when ``exc`` says the table at ``path`` does not exist
    yet (a stream's first batch); any other failure must propagate.
    The error class is matched exactly — matching ``str(exc)`` would
    miss pre-error-class Sparks and match unrelated errors that merely
    mention PATH_NOT_FOUND. Without an error class the path is probed.
    """
    if not isinstance(exc, AnalysisException):
        return False
    cond = getattr(exc, "getCondition", lambda: None)()
    if cond is not None:
        return cond == "PATH_NOT_FOUND"
    fs, hpath = _hadoop_fs(spark, path)
    return not fs.exists(hpath)


#: schemes whose directory rename IS atomic — the compaction swap
#: relies on it, so this is an ALLOWLIST: any scheme not known-atomic
#: (s3a, gs, wasb, swift, …) is rejected rather than left with a
#: corruption window. Object-store "rename" is a non-atomic O(data)
#: copy even when the connector exposes the call.
_ATOMIC_RENAME_SCHEMES = frozenset(
    {"", "file", "hdfs", "viewfs", "abfs", "abfss", "o3fs", "ofs"}
)


def _require_atomic_rename(path: str, op: str) -> None:
    from urllib.parse import urlparse

    scheme = urlparse(path).scheme
    if scheme not in _ATOMIC_RENAME_SCHEMES:
        raise NotImplementedError(
            f"{op} swaps directories with atomic renames, and scheme "
            f"{scheme!r} is not on the known-atomic allowlist "
            f"({sorted(s for s in _ATOMIC_RENAME_SCHEMES if s)}); object-"
            "store rename is a non-atomic copy, leaving a corruption "
            "window — use a table format with file-level transactions "
            "(Delta/Iceberg rewrite) instead"
        )


def _walk_partition_dirs(fs, root, partition_cols):
    """Yield ``(rel_path, values_dict, hadoop_path)`` for every
    directory exactly ``len(partition_cols)`` levels below ``root``
    whose segments are structural ``col=value`` pairs, via the Hadoop
    FileSystem API (works on file://, hdfs://, s3a://, …). Staging and
    bookkeeping entries (underscore/dot-prefixed) are never entered."""
    stack = [(root, [], {})]
    while stack:
        cur, segs, vals = stack.pop()
        depth = len(segs)
        if depth == len(partition_cols):
            yield "/".join(segs), vals, cur
            continue
        col = partition_cols[depth]
        for st in fs.listStatus(cur):
            if not st.isDirectory():
                continue
            name = st.getPath().getName()
            if name.startswith(("_", ".")) or not name.startswith(f"{col}="):
                continue
            stack.append(
                (
                    st.getPath(),
                    segs + [name],
                    {**vals, col: unquote(name[len(col) + 1 :])},
                )
            )


# Above this many touched partitions the static OR-chain predicate is
# replaced by a broadcast semi-join: a thousands-clause Catalyst tree
# costs analysis time and can hit codegen limits, while the semi-join
# stays O(1) in plan size and still prunes partitions at runtime via
# dynamic partition pruning.
_STATIC_PRUNE_MAX_COMBOS = 32


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    partition_cols: list[str],
    *,
    file_format: str = "parquet",
) -> dict[str, int]:
    """Delta-style MERGE (matched → replace row, unmatched → insert)
    on a plain Hive-partitioned lake table, touching ONLY the
    partitions present in ``updates``.

    The reference's incremental dumps re-upload whole partitions
    (pipelines/utils/dump_db/tasks.py:401-435); this keys the replace
    at row grain while keeping the partition-level I/O contract:

    1. the affected partition combos are collected (bounded by the
       number of touched partitions, never row count); few combos
       become a static pruning predicate, many become a broadcast
       semi-join on the partition columns (plan size stays bounded,
       dynamic partition pruning keeps the scan pruned);
    2. survivors = existing rows of those partitions whose key is NOT
       in ``updates`` (left-anti join);
    3. survivors ∪ updates is staged under ``_tmp_merge/``
       (underscore-prefixed: invisible to concurrent scans) — never
       read-and-overwrite the same files in one lazy job;
    4. the staged partitions replace the live ones via dynamic
       partition overwrite; untouched partitions stay byte-identical.

    ``updates`` must carry the full table schema (data + partition
    columns). Rows may move between partitions only if the OLD
    partition also appears in ``updates`` (otherwise the stale copy
    survives — same contract as Hive dynamic overwrite).

    Returns ``{"partitions_touched": n, "rows_upserted": m}``.
    """
    overwrite_mode = str(
        spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    )
    if overwrite_mode.lower() != "dynamic":
        raise RuntimeError(
            "merge_upsert requires "
            "spark.sql.sources.partitionOverwriteMode=dynamic (got "
            f"{overwrite_mode!r}): under static mode the final "
            "partition-replace write deletes EVERY partition not present "
            "in `updates` — whole-table data loss. Create the session "
            "with pipelines_spark.session.get_spark or set the conf."
        )
    existing = spark.read.format(file_format).load(path)
    if set(existing.columns) != set(updates.columns):
        raise ValueError(
            f"updates schema {sorted(updates.columns)} != table schema "
            f"{sorted(existing.columns)}"
        )
    # type drift in data columns would be silently widened by the
    # unionByName below and written back, mutating the table's physical
    # schema — reject it. Partition columns are exempt from the hard
    # check: their types on the `existing` side are re-INFERRED from
    # directory names, so a string-typed partition column legitimately
    # reads back as int.
    existing_types = {f.name: f.dataType for f in existing.schema.fields}
    drift = [
        (f.name, str(existing_types[f.name]), str(f.dataType))
        for f in updates.schema.fields
        if f.name not in partition_cols
        and existing_types[f.name] != f.dataType
    ]
    if drift:
        raise ValueError(
            "updates column types drift from the table schema "
            "(col, table, updates): " + ", ".join(map(str, drift))
        )
    # one pass over updates yields the affected-partition combos AND
    # the row count — counted BEFORE the table mutates, so an updates
    # frame derived from `path` itself can never re-scan overwritten
    # files for the stat
    agg = (
        updates.groupBy(*partition_cols)
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    )
    combos = agg
    n_rows = sum(r["_n"] for r in agg)
    if len(combos) <= _STATIC_PRUNE_MAX_COMBOS:
        # few partitions: a static predicate prunes at plan time
        pred = F.lit(False)
        for row in combos:
            clause = F.lit(True)
            for c in partition_cols:
                clause = clause & F.col(c).eqNullSafe(F.lit(row[c]))
            pred = pred | clause
        pruned = existing.filter(pred)
    else:
        # many partitions (backfill): broadcast semi-join on the
        # partition columns — bounded plan, runtime partition pruning
        combo_schema = updates.select(*partition_cols).schema
        combos_df = spark.createDataFrame(
            [tuple(r[c] for c in partition_cols) for r in combos],
            schema=combo_schema,
        )
        cond = F.lit(True)
        for c in partition_cols:
            cond = cond & existing[c].eqNullSafe(combos_df[c])
        pruned = existing.join(F.broadcast(combos_df), cond, "left_semi")
    survivors = (
        pruned
        .join(updates.select(*keys).distinct(), keys, "left_anti")
        .select(*updates.columns)
    )
    merged = survivors.unionByName(updates)

    tmp = f"{path.rstrip('/')}/_tmp_merge"
    write_partitioned(merged, tmp, partition_cols, mode="overwrite", file_format=file_format)
    try:
        # explicit schema: partition-dir values must cast back to the
        # table's types, not re-inferred ones
        staged = (
            spark.read.format(file_format).schema(merged.schema).load(tmp)
        )
        write_partitioned(
            staged, path, partition_cols,
            mode="overwrite_partitions", file_format=file_format,
        )
    finally:
        # Hadoop FS delete, not shutil: the staged _tmp_merge copy must
        # also disappear on hdfs:///s3a:// tables, where a local rmtree
        # silently leaves it behind (doubling storage per merge)
        fs, hpath = _hadoop_fs(spark, tmp)
        fs.delete(hpath, True)
    return {"partitions_touched": len(combos), "rows_upserted": n_rows}


def create_staging_table(
    spark: SparkSession,
    name: str,
    path: str,
    *,
    file_format: str = "parquet",
) -> None:
    """Register an unmanaged table over lake files (external-table
    equivalent, reference pipelines/rj_smtr/utils.py:95-133), once per
    session, then keep its partitions in step with the lake.

    The first call in a session for ``name``, or a call that re-points
    it at another ``path``, drops and creates the table (inferring its
    columns from the files) and runs one ``MSCK REPAIR TABLE``, which
    lists every file of the lake. A later call asks the Hadoop
    FileSystem for the partition directories (a driver-side listing,
    no Spark job), adds only those the catalog lacks, drops the ones
    whose directory is gone, and refreshes the table so that files a
    replay rewrote inside a known partition are read. Its cost grows
    with the partitions a dump added, not with the lake's history.

    The table's columns are the ones its registration inferred; a
    caller whose dump changed them re-registers (``run_dump_flow``
    does)."""
    fs, root = _hadoop_fs(spark, path)
    key = (str(root), file_format)
    with _STAGING_LOCK:
        tables = _STAGING.setdefault(spark, {})
        registered = tables.get(name) == key
    partition_cols = _registered_partition_cols(spark, name, root) if registered else None
    if partition_cols is None:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        spark.sql(
            f"CREATE TABLE {name} USING {file_format} LOCATION '{path}'"
        )
        spark.sql(f"MSCK REPAIR TABLE {name}")
        with _STAGING_LOCK:
            tables[name] = key
        return
    if partition_cols:
        on_disk = {
            tuple(vals[c] for c in partition_cols)
            for _rel, vals, _dir in _walk_partition_dirs(fs, root, partition_cols)
        }
        known = {
            _partition_values(r["partition"])
            for r in spark.sql(f"SHOW PARTITIONS {name}").collect()
        }

        def specs(values, sep):
            return sep.join(
                "PARTITION ("
                + ", ".join(f"`{c}` = {_sql_string(v)}" for c, v in zip(partition_cols, vs))
                + ")"
                for vs in sorted(values)
            )

        if on_disk - known:
            spark.sql(f"ALTER TABLE {name} ADD IF NOT EXISTS {specs(on_disk - known, ' ')}")
        if known - on_disk:
            spark.sql(f"ALTER TABLE {name} DROP IF EXISTS {specs(known - on_disk, ', ')}")
    spark.catalog.refreshTable(name)


#: session -> {staging table name: (qualified location, file format)}
#: of the tables ``create_staging_table`` registered; weak on the
#: session, so a stopped session's record goes with it
_STAGING: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_STAGING_LOCK = threading.Lock()


def _registered_partition_cols(spark: SparkSession, name: str, root) -> list[str] | None:
    """The partition columns of catalog table ``name`` if it still
    exists at ``root``; None if it is gone or was re-created elsewhere
    (catalog metadata only, no Spark job)."""
    if not spark.catalog.tableExists(name):
        return None
    state = spark._jsparkSession.sessionState()
    meta = state.catalog().getTableMetadata(state.sqlParser().parseTableIdentifier(name))
    if str(_hadoop_fs(spark, meta.location().toString())[1]) != str(root):
        return None
    cols = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        meta.partitionColumnNames()
    )
    return list(cols)


def _sql_string(value: str) -> str:
    """``value`` as a SQL string literal."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _partition_values(rel: str) -> tuple[str, ...]:
    """The values of a ``k=v/…`` partition path, unescaped."""
    return tuple(unquote(seg.partition("=")[2]) for seg in rel.split("/"))


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_cols: list[str],
    *,
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    file_format: str = "parquet",
) -> None:
    """Write a bucketed (hash-clustered) managed table.

    Bucketing pre-shuffles the data once at write time; joins and
    aggregations on the bucket columns between co-bucketed tables
    then run with NO exchange — the big-fact ⋈ big-fact strategy at
    100 TB, where a runtime shuffle of either side is the dominant
    cost. Requires the session catalog (saveAsTable), not a bare
    path — bucket metadata lives in the catalog.

    An interrupted write can leave the table's managed directory
    behind without a catalog entry; every later write would then fail
    with LOCATION_ALREADY_EXISTS. So before an overwrite, or any write
    of a table the catalog does not hold, the table is dropped and its
    own managed path (the catalog's default location for ``name``,
    never an external LOCATION) is removed.
    """
    spark = df.sparkSession
    if mode == "overwrite" or not spark.catalog.tableExists(name):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        state = spark._jsparkSession.sessionState()
        ident = state.sqlParser().parseTableIdentifier(name)
        fs, managed = _hadoop_fs(spark, str(state.catalog().defaultTablePath(ident)))
        if fs.exists(managed):
            fs.delete(managed, True)
    writer = df.write.mode(mode).format(file_format).bucketBy(
        num_buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(name)


def to_all_string(df: DataFrame) -> DataFrame:
    """Apply the all-string staging contract (SURVEY §1.2): every
    column cast to string; typed views SAFE_CAST back downstream."""
    return df.select(*[F.col(c).cast("string").alias(c) for c in df.columns])


def vacuum_partitions(
    path: str,
    partition_cols: list[str],
    *,
    keep,
    dry_run: bool = False,
    spark: SparkSession | None = None,
) -> list[str]:
    """Retention sweep: delete Hive partition directories whose
    partition values fail the ``keep`` predicate.

    ``keep`` receives a ``{col: value}`` dict of the partition's
    (string) values and returns True to retain it. The sweep is a
    driver-side directory walk over the Hadoop FileSystem API — it
    works on any configured scheme (``file://``, ``hdfs://``,
    ``s3a://``, …) and its cost scales with partition COUNT, never
    row count; data files are not opened. A raw/staging zone on a
    minutely capture cadence grows partitions forever without this
    (the reference ages them out storage-side; here it is an explicit,
    testable operation).

    ``dry_run=True`` reports what would be deleted without touching
    anything. Returns the (relative) partition paths removed, sorted.
    Partition-value parsing is purely structural (``k=v`` path
    segments in ``partition_cols`` order); non-partition entries
    (underscore-prefixed staging dirs, ``_SUCCESS``) are never
    touched.
    """
    spark = spark or SparkSession.active()
    fs, root = _hadoop_fs(spark, path)

    removed: list[str] = []
    for rel, vals, hdir in _walk_partition_dirs(fs, root, partition_cols):
        if keep(vals):
            continue
        if dry_run:
            removed.append(rel)
            continue
        # Hadoop FileSystem.delete signals failure with a False return,
        # not an exception — a partition that survives (permissions, a
        # concurrent writer recreating it) must not be reported vacuumed
        if not fs.delete(hdir, True):
            raise IOError(f"vacuum_partitions: delete failed for {rel}")
        removed.append(rel)
        # prune now-empty parents up to the table root —
        # otherwise multi-level layouts accumulate empty
        # year=… shells that every future listing re-walks
        parent = hdir.getParent()
        while str(parent) != str(root) and not fs.listStatus(parent):
            fs.delete(parent, False)
            parent = parent.getParent()
    return sorted(removed)


def compact_partitions(
    spark,
    path: str,
    partition_cols: list[str],
    *,
    target_file_mb: int = 128,
    min_files_to_compact: int = 4,
) -> dict[str, int]:
    """Rewrite small files inside each Hive partition into
    ~``target_file_mb`` files (the minutely-capture small-files
    problem: a 1-minute cadence writes 1440 files/day/table; scans
    then pay per-file open cost and tiny row groups).

    Only partitions with at least ``min_files_to_compact`` files
    rewrite. Each partition is first FULLY written to a temp
    directory (``_tmp_compact/`` — underscore-prefixed, so Spark
    scans ignore it), then swapped in with two atomic directory
    renames. Never read-and-overwrite the same path in one lazy job:
    a task retry after the overwrite committed would re-read deleted
    source files. The rename swap keeps the window where the
    partition is incomplete to a metadata operation; untouched
    partitions keep their files byte-identical. (On an object store
    without atomic rename, use a table format with file-level
    transactions — Delta/Iceberg rewrite — instead of this
    directory-swap path.)

    Returns {partition_path: files_before} for the rewritten ones.
    Runs over the Hadoop FileSystem API, so ``file://`` and
    ``hdfs://`` lakes both work (HDFS rename is atomic); object-store
    schemes whose rename is a non-atomic copy are rejected explicitly.
    """
    _require_atomic_rename(path, "compact_partitions")

    fs, root = _hadoop_fs(spark, path)
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path

    sizes: dict[str, list[int]] = {}
    for rel, _vals, hdir in _walk_partition_dirs(fs, root, partition_cols):
        sizes[rel] = [
            st.getLen()
            for st in fs.listStatus(hdir)
            if st.isFile() and st.getPath().getName().endswith(".parquet")
        ]

    tmp_root = jvm_path(root, "_tmp_compact")
    rewritten: dict[str, int] = {}
    for rel, files in sizes.items():
        if len(files) < min_files_to_compact:
            continue
        part_dir = jvm_path(root, rel)
        tmp_dir = jvm_path(tmp_root, rel)
        n_target = max(1, int(sum(files) / (target_file_mb * (1 << 20))) or 1)
        # materialize the compacted copy completely before touching
        # the source files
        spark.read.parquet(str(part_dir)).coalesce(n_target).write.mode(
            "overwrite"
        ).parquet(str(tmp_dir))
        # underscore prefix: invisible to Spark partition discovery
        # while it briefly exists
        old_dir = jvm_path(
            part_dir.getParent(), "_old_" + part_dir.getName()
        )
        # Hadoop FileSystem.rename/delete report failure via a False
        # return, not an exception. Every step of the swap is checked:
        # if the live→_old_ rename fails, the second rename would move
        # the compacted tmp dir INTO the still-existing live dir
        # (rename-into-existing-directory semantics), nesting duplicate
        # data under the live partition — abort before touching it.
        if fs.exists(old_dir) and not fs.delete(old_dir, True):
            raise IOError(f"compact_partitions: stale {old_dir} not deletable")
        if not fs.rename(part_dir, old_dir):
            raise IOError(
                f"compact_partitions: rename {part_dir} -> {old_dir} failed; "
                "live partition untouched, compacted copy left in _tmp_compact"
            )
        if not fs.rename(tmp_dir, part_dir):
            # roll the live data back so the partition never stays missing
            fs.rename(old_dir, part_dir)
            raise IOError(
                f"compact_partitions: rename {tmp_dir} -> {part_dir} failed; "
                "original partition restored"
            )
        if not fs.delete(old_dir, True):
            raise IOError(
                f"compact_partitions: swap succeeded but {old_dir} not "
                "deletable — remove it manually (underscore prefix keeps it "
                "invisible to scans)"
            )
        rewritten[rel] = len(files)
    if fs.exists(tmp_root):
        fs.delete(tmp_root, True)
    return rewritten
