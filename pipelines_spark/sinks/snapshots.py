"""Snapshot table format: a manifest-log over plain parquet files
giving atomic commits, time travel, and incremental change reads.

Why this exists (reference parity + scale): the reference's
exactly-once-ish contract is partition-level replace with
same-filename uploads (pipelines/utils/tasks.py:273-276,
pipelines/utils/dump_db/tasks.py:401-435) — readers racing a re-upload
can observe a half-replaced partition, and there is no way to read
"the table as of yesterday's run" or "only what the last run added".
At 100 TB those gaps dominate: a 1000-executor scan that starts
mid-overwrite reads a torn table, and every incremental consumer
re-lists millions of files. The fix is the same one Delta/Iceberg
made standard, reduced to its core:

- data files are immutable; a write job lands files under a unique
  ``data/w-<id>`` subdirectory (``_stage``), invisible to readers;
- a table VERSION is a manifest (JSON in ``_log/``) listing the exact
  files of that snapshot — readers never list directories, they read
  the manifest (O(1) listing at any file count) and hand Spark the
  explicit file list;
- every version is one rename of a COMPLETE manifest into place
  (``_commit``, the only code that creates a ``_log/v*.json``). The
  operation, per-file stats and Bloom filters are computed from the
  staged files before the rename, and a committed manifest is never
  rewritten, so a crash leaves the previous version or the new
  complete one. ``tests/test_snapshots.py::
  test_one_commit_path_no_manifest_written_in_place`` fails for any
  writer that writes a manifest in place;
- rename fails if the destination exists, which doubles as optimistic
  concurrency control. Readers see the old complete snapshot or the
  new complete snapshot, never a mix. Two commit rules:
  - a BLIND write (append, overwrite, ``publish_snapshot``) re-bases
    on the new head and retries up to ``max_retries`` times;
  - a REWRITE of a version it read (``snapshot_merge``,
    ``compact_snapshot``, ``snapshot_delete_where``,
    ``compact_small_files``) commits with that version as its parent
    or raises ``CommitConflict``, so a racing commit is never dropped;
- time travel = read an older manifest; incremental consumption =
  the files ``change_files`` picks from manifests in ``(since, to]`` —
  the streaming-ish "what changed" read without a streaming source;
- ``expire_snapshots`` drops old manifests and deletes data files no
  retained snapshot references (storage reclaim with a bounded
  time-travel window).

All filesystem access goes through the Hadoop FileSystem API, so the
same code runs on file:// and hdfs:// (HDFS rename is atomic and
fails on existing destinations). On S3-style stores without atomic
rename, front the log with a coordinating catalog — documented, not
silently wrong.
"""

from __future__ import annotations

import json
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

LOG_DIR = "_log"
_DATA_DIR = "data"

#: operations whose 'added' files rewrite rows the table already held
#: (a compaction changes no rows; a delete removes some, which an
#: append-only consumer cannot retract): change consumers skip them
_REWRITES = ("compact", "delete")
#: operations that never drop or replace a row: over a run of them the
#: change feed is exactly what the table gained, so an incremental
#: fold (state/rollup.py) may consume it
APPEND_ONLY = ("append", "compact")


class CommitConflict(RuntimeError):
    """Another writer committed this version first; re-read the log
    and retry."""


def manifest_name(version: int) -> str:
    return f"v{version:08d}.json"


def manifest_versions(names) -> list[int]:
    """Sorted versions of the committed manifests among the file
    ``names`` of a log directory (temp and staged manifests start with
    ``_`` and are skipped)."""
    out = []
    for name in names:
        if name.startswith("v") and name.endswith(".json"):
            try:
                out.append(int(name[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def change_files(manifests: list[dict]) -> list[str]:
    """The files a change consumer reads for ``manifests`` (oldest
    first): every commit's 'added' files, except those of file-level
    rewrites (compact, delete), whose replay would duplicate rows the
    consumer already has. An overwrite contributes its full new file
    set, matching overwrite-as-reload semantics."""
    return [f for m in manifests if m["operation"] not in _REWRITES for f in m["added"]]


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), jvm


def _hp(jvm, path: str):
    return jvm.org.apache.hadoop.fs.Path(path)


def _write_text(fs, jvm, path: str, text: str) -> None:
    out = fs.create(_hp(jvm, path), True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _read_text(fs, jvm, path: str) -> str:
    # py4j passes bytearrays by value, so stream.read(buf) can't fill a
    # Python buffer — drain the stream JVM-side instead
    stream = fs.open(_hp(jvm, path))
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(
            stream, jvm.java.nio.charset.StandardCharsets.UTF_8
        )
    finally:
        stream.close()


def _list_versions(fs, jvm, log_dir: str) -> list[int]:
    if not fs.exists(_hp(jvm, log_dir)):
        return []
    return manifest_versions(s.getPath().getName() for s in fs.listStatus(_hp(jvm, log_dir)))


def _load_manifest(fs, jvm, log_dir: str, version: int) -> dict:
    return json.loads(_read_text(fs, jvm, f"{log_dir}/{manifest_name(version)}"))


def _data_files(fs, jvm, path: str, directory: str) -> list[str]:
    """Paths, relative to the table root ``path``, of the parquet files
    under ``directory``."""
    root = _hp(jvm, path).toUri().getPath().rstrip("/") + "/"
    out = []
    it = fs.listFiles(_hp(jvm, directory), True)
    while it.hasNext():
        p = it.next().getPath().toUri().getPath()
        if p.endswith(".parquet"):
            out.append(p[len(root):] if p.startswith(root) else p)
    return sorted(out)


def _read_files(spark: SparkSession, path: str, schema_json: str, files: list[str]) -> DataFrame:
    """The table files ``files`` read with the manifest schema."""
    schema = StructType.fromJson(json.loads(schema_json))
    if not files:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*[f"{path}/{f}" for f in files])


def current_version(spark: SparkSession, path: str) -> int | None:
    """Latest committed version, or None for a non-existent table."""
    fs, jvm = _fs(spark, path)
    versions = _list_versions(fs, jvm, f"{path}/{LOG_DIR}")
    return versions[-1] if versions else None


def _txn_done(fs, jvm, log_dir: str, versions: list[int], txn: tuple[str, int]) -> bool:
    """Whether a retained manifest committed batch ``txn[1]`` or a
    later one for app ``txn[0]``. Chain walk — O(log length); a
    production table format folds this into the latest manifest, but
    the walk stays correct across interleaved merge/compact/delete
    commits without threading txn state through every commit path."""
    app, batch = txn
    for v in versions:
        t = _load_manifest(fs, jvm, log_dir, v).get("txn")
        if t and t.get("app") == app and t["batch"] >= batch:
            return True
    return False


# ------------------------------------------------------------ the one commit

def _stage(fs, jvm, path: str, df: DataFrame, write_id: str | None = None) -> list[str]:
    """Write ``df`` into its own ``data/w-<id>`` directory, invisible
    until a manifest lists it, and return its files relative to the
    table root. The only writer of table data files."""
    data_dir = f"{path}/{_DATA_DIR}/w-{write_id or uuid.uuid4().hex[:12]}"
    df.write.mode("error").parquet(data_dir)
    return _data_files(fs, jvm, path, data_dir)


def _commit(fs, jvm, log_dir: str, manifest: dict) -> bool:
    """Publish ``manifest`` as its version: write a temp file, then
    rename it into place only if the version is absent. Returns False,
    with the temp file removed, when another writer holds the version.
    The only code that creates a ``_log/v*.json``."""
    tmp = f"{log_dir}/_tmp-{uuid.uuid4().hex}.json"
    _write_text(fs, jvm, tmp, json.dumps(manifest))
    if fs.rename(_hp(jvm, tmp), _hp(jvm, f"{log_dir}/{manifest_name(manifest['version'])}")):
        return True
    fs.delete(_hp(jvm, tmp), False)
    return False


def _commit_blind(
    fs, jvm, path: str, entry: dict, *, clock, max_retries: int,
    txn: tuple[str, int] | None = None,
) -> dict | None:
    """Commit rule of a BLIND write: ``entry`` (operation append or
    overwrite, schema, added files and extras) becomes the child of
    whatever version is the head; a lost race re-bases on the new head
    and retries, up to ``max_retries`` times. Returns the committed
    manifest, or None when ``txn`` is already committed."""
    log_dir = f"{path}/{LOG_DIR}"
    for _attempt in range(max_retries):
        versions = _list_versions(fs, jvm, log_dir)
        if txn is not None and _txn_done(fs, jvm, log_dir, versions, txn):
            # authoritative re-check under the current log head: the
            # loser of a same-batch race lands here after its rename
            # fails and must NOT commit a duplicate
            return None
        prev = versions[-1] if versions else None
        base = []
        if entry["operation"] == "append" and prev is not None:
            prev_m = _load_manifest(fs, jvm, log_dir, prev)
            base = prev_m["files"]
            # additive evolution only: new columns may appear, but a
            # column the table already has must keep its name AND
            # type — a silently dropped or retyped column would make
            # the latest schema misread every older file
            prev_schema = StructType.fromJson(json.loads(prev_m["schema"]))
            new_fields = {
                f.name: f.dataType
                for f in StructType.fromJson(json.loads(entry["schema"])).fields
            }
            bad = [
                f"{f.name} ({f.dataType.simpleString()} -> "
                f"{new_fields[f.name].simpleString() if f.name in new_fields else 'MISSING'})"
                for f in prev_schema.fields
                if f.name not in new_fields or new_fields[f.name] != f.dataType
            ]
            if bad:
                raise ValueError(
                    f"append schema incompatible with table {path}: "
                    f"{', '.join(bad)}; only additive column changes are "
                    "allowed on append (use mode='overwrite' to redefine)"
                )
        version = (prev or 0) + 1
        manifest = {
            "version": version,
            "parent": prev,
            "committed_at": float(clock()),
            **entry,
            "files": base + entry["added"],
        }
        if txn is not None:
            manifest["txn"] = {"app": txn[0], "batch": txn[1]}
        if _commit(fs, jvm, log_dir, manifest):
            return manifest
    raise CommitConflict(
        f"lost the commit race {max_retries} times at {path} "
        f"(last attempted version {version})"
    )


def _write(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    operation: str,
    *,
    clock=time.time,
    read: dict | None = None,
    kept: tuple[str, ...] | list[str] = (),
    stat_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    fpp: float = 0.01,
    max_retries: int = 3,
    txn: tuple[str, int] | None = None,
    app: dict | None = None,
) -> dict | None:
    """Stage ``df``, complete its manifest from the staged files —
    ``operation``, per-file ``stat_cols`` min/max and ``bloom_cols``
    filters when given, ``app`` metadata — and commit it. Blind
    (``_commit_blind``) when ``read`` is None; else the rewrite of the
    manifest ``read``: ``kept`` (files of ``read``) carry over, and the
    commit lands on ``read``'s version or raises ``CommitConflict``.
    Returns the committed manifest (None for a replayed ``txn``)."""
    if read is None and operation not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {operation!r}")
    fs, jvm = _fs(spark, path)
    log_dir = f"{path}/{LOG_DIR}"
    if read is None:
        fs.mkdirs(_hp(jvm, log_dir))
        # cheap pre-check BEFORE the write job: a replayed batch skips
        # the data write entirely, not just the commit
        if txn is not None and _txn_done(fs, jvm, log_dir, _list_versions(fs, jvm, log_dir), txn):
            return None
    added = _stage(fs, jvm, path, df)
    entry = {
        "operation": operation,
        # a rewrite that carries rows over keeps the table's schema (the
        # read back loosens nullability); an overwrite redefines it
        "schema": df.schema.json() if read is None or operation == "overwrite" else read["schema"],
        "added": added,
    }
    if stat_cols is not None:
        entry["stats"] = _collect_file_stats(path, added, stat_cols)
    if bloom_cols is not None:
        entry["blooms"] = _collect_blooms(path, added, bloom_cols, fpp)
    if app is not None:
        entry["app"] = app
    if read is None:
        return _commit_blind(fs, jvm, path, entry, clock=clock, max_retries=max_retries, txn=txn)
    manifest = {
        "version": read["version"] + 1,
        "parent": read["version"],
        "committed_at": float(clock()),
        **entry,
        "files": [*kept, *added],
    }
    if not _commit(fs, jvm, log_dir, manifest):
        raise CommitConflict(
            f"version {manifest['version']} committed concurrently at {path}; "
            f"re-run the {operation} against the new head (the version it "
            "read is stale)"
        )
    return manifest


def snapshot_write(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    *,
    mode: str = "append",
    clock=time.time,
    max_retries: int = 3,
    txn: tuple[str, int] | None = None,
) -> int | None:
    """Commit ``df`` as a new snapshot of the table at ``path``.

    ``mode='append'``: the new snapshot is the previous file set plus
    this write's files. ``mode='overwrite'``: the new snapshot is
    exactly this write's files (old files stay on disk for time
    travel until ``expire_snapshots``).

    The data job runs FIRST, into a unique uncommitted directory; the
    commit is a single manifest rename afterwards. A crash between
    the two leaves orphan data files (cleaned by ``expire_snapshots``)
    and no visible change. Returns the committed version number.

    ``txn=(app_id, batch_id)`` makes the commit IDEMPOTENT per
    (app, batch) — the exactly-once contract Structured Streaming's
    ``foreachBatch`` needs on task/epoch retry: a batch whose id is
    <= the app's highest committed batch is skipped (returns None,
    nothing becomes visible; the orphaned staged files are swept by
    ``expire_snapshots``). The check re-runs inside the commit-race
    retry loop, so two racing replays of the same batch still commit
    once. Caveat shared with every txn-log design: ``expire_snapshots``
    dropping a manifest older than the app's last batch forgets that
    batch id — keep the retention window longer than the longest
    possible replay gap.

    ``clock`` is injectable (engine-wide determinism contract —
    SURVEY "non-determinism in the reference") so time-travel tests
    replay exactly.
    """
    m = _write(spark, path, df, mode, clock=clock, max_retries=max_retries, txn=txn)
    return None if m is None else m["version"]


def _resolve(
    fs, jvm, log_dir: str, version: int | None = None, as_of: float | None = None
) -> dict:
    """Manifest of ``version``, of the newest commit at-or-before
    ``as_of``, or of the head."""
    versions = _list_versions(fs, jvm, log_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshot log at {log_dir}")
    if version is not None:
        if version not in versions:
            raise ValueError(f"version {version} not in log (have {versions})")
    elif as_of is not None:
        eligible = [
            v for v in versions
            if _load_manifest(fs, jvm, log_dir, v)["committed_at"] <= as_of
        ]
        if not eligible:
            raise ValueError(f"no snapshot committed at or before {as_of}")
        version = eligible[-1]
    else:
        version = versions[-1]
    return _load_manifest(fs, jvm, log_dir, version)


def snapshot_read(
    spark: SparkSession,
    path: str,
    *,
    version: int | None = None,
    as_of: float | None = None,
) -> DataFrame:
    """Read a snapshot: latest by default, else an explicit
    ``version`` or the newest one committed at-or-before ``as_of``
    (unix seconds). The scan gets the manifest's explicit file list —
    no directory listing, no chance of seeing uncommitted files."""
    fs, jvm = _fs(spark, path)
    manifest = _resolve(fs, jvm, f"{path}/{LOG_DIR}", version, as_of)
    return _read_files(spark, path, manifest["schema"], manifest["files"])


def snapshot_changes(
    spark: SparkSession,
    path: str,
    *,
    since_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Rows ADDED by commits in ``(since_version, to_version]`` — the
    incremental-consumption read (SURVEY T2's "start where the last
    materialization ended" as a table-level primitive). The files are
    the ones ``change_files`` picks: an overwrite commit contributes
    its full new file set, and compact/delete commits nothing."""
    fs, jvm = _fs(spark, path)
    log_dir = f"{path}/{LOG_DIR}"
    versions = _list_versions(fs, jvm, log_dir)
    if to_version is None:
        to_version = versions[-1] if versions else since_version
    manifests = [
        _load_manifest(fs, jvm, log_dir, v) for v in versions if since_version < v <= to_version
    ]
    if not manifests:
        return spark.createDataFrame([], snapshot_read(spark, path).schema)
    return _read_files(spark, path, manifests[-1]["schema"], change_files(manifests))


def snapshot_history(spark: SparkSession, path: str) -> list[dict]:
    """Commit log, oldest first: version, parent, operation,
    committed_at, n_files, n_added."""
    fs, jvm = _fs(spark, path)
    log_dir = f"{path}/{LOG_DIR}"
    out = []
    for v in _list_versions(fs, jvm, log_dir):
        m = _load_manifest(fs, jvm, log_dir, v)
        out.append(
            {
                "version": m["version"],
                "parent": m["parent"],
                "operation": m["operation"],
                "committed_at": m["committed_at"],
                "n_files": len(m["files"]),
                "n_added": len(m["added"]),
            }
        )
    return out


def expire_snapshots(
    spark: SparkSession, path: str, *, keep_last: int = 1
) -> dict[str, int]:
    """Drop all but the newest ``keep_last`` manifests and delete
    every data file no retained manifest references (including orphans
    from crashed writes). Bounds the time-travel window and reclaims
    storage; the manifest-listed live set is untouched, so concurrent
    readers of retained versions are safe. Returns counts."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    fs, jvm = _fs(spark, path)
    log_dir = f"{path}/{LOG_DIR}"
    versions = _list_versions(fs, jvm, log_dir)
    retained = versions[-keep_last:]
    live: set[str] = set()
    for v in retained:
        live.update(_load_manifest(fs, jvm, log_dir, v)["files"])

    removed_files = 0
    data_root = f"{path}/{_DATA_DIR}"
    if fs.exists(_hp(jvm, data_root)):
        for rel in _data_files(fs, jvm, path, data_root):
            if rel not in live:
                fs.delete(_hp(jvm, f"{path}/{rel}"), False)
                removed_files += 1
        # sweep write directories holding no live files (only
        # _SUCCESS/.crc markers remain after the deletes above) so
        # listing stays O(live)
        live_dirs = {rel.split("/", 2)[1] for rel in live if rel.startswith(f"{_DATA_DIR}/")}
        for status in fs.listStatus(_hp(jvm, data_root)):
            if status.isDirectory() and status.getPath().getName() not in live_dirs:
                fs.delete(status.getPath(), True)

    removed_manifests = 0
    for v in versions:
        if v not in retained:
            fs.delete(_hp(jvm, f"{log_dir}/{manifest_name(v)}"), False)
            removed_manifests += 1
    return {"manifests_removed": removed_manifests, "data_files_removed": removed_files}


# --------------------------------------------------------------- file stats

#: columns eligible for manifest stats (orderable primitives)
_STAT_TYPES = ("int", "bigint", "long", "double", "float", "date", "timestamp", "string", "smallint", "tinyint", "decimal")


def _stat_cols(schema: StructType, stat_cols: list[str] | None) -> list[str]:
    """``stat_cols``, defaulting to every orderable primitive column."""
    if stat_cols is not None:
        return stat_cols
    return [
        f.name for f in schema.fields
        if f.dataType.simpleString().split("(")[0] in _STAT_TYPES
    ]


def _collect_file_stats(path: str, files: list[str], stat_cols: list[str]) -> dict:
    """Per-file min/max for ``stat_cols`` from the parquet footers of
    the table ``files`` — the write job already computed these;
    reading footers is O(files), zero data scanned."""
    import pyarrow.parquet as pq

    stats: dict[str, dict] = {}
    for rel in files:
        md = pq.ParquetFile(f"{path}/{rel}").metadata
        names = md.schema.names
        per_col = {}
        for c in stat_cols:
            if c not in names:
                continue
            idx = names.index(c)
            lo = hi = None
            ok = True
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    ok = False
                    break
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            if ok and lo is not None:
                per_col[c] = [_json_safe(lo), _json_safe(hi)]
        stats[rel] = per_col
    return stats


def _json_safe(v):
    import datetime

    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    return v


def _file_meta(fs, jvm, log_dir: str, version: int) -> tuple[dict, dict]:
    """Per-file min/max stats and Bloom filters of the files in
    ``version``. Each lives on the manifest that ADDED its file, so
    walk the chain."""
    stats: dict[str, dict] = {}
    blooms: dict[str, dict] = {}
    for ver in _list_versions(fs, jvm, log_dir):
        if ver <= version:
            m = _load_manifest(fs, jvm, log_dir, ver)
            stats.update(m.get("stats", {}))
            blooms.update(m.get("blooms", {}))
    return stats, blooms


def snapshot_write_with_stats(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    *,
    mode: str = "append",
    stat_cols: list[str] | None = None,
    clock=time.time,
    max_retries: int = 3,
) -> int:
    """``snapshot_write`` + per-file column min/max recorded in the
    manifest (Iceberg-style manifest pruning): a filtered
    ``snapshot_read_pruned`` then skips whole FILES from the manifest
    alone — before Spark even plans the scan. At 100 TB the difference
    between 'list a few hundred candidate files' and 'hand the
    planner a million paths and let footer-skipping sort it out' is
    driver memory and planning time, not just I/O.

    Stats default to every orderable primitive column. They are read
    with pyarrow from the footers of the staged (local-scheme) files
    and are part of the manifest the one commit renames into place: a
    committed version never lacks its stats.
    """
    return _write(
        spark, path, df, mode, clock=clock, max_retries=max_retries,
        stat_cols=_stat_cols(df.schema, stat_cols),
    )["version"]


def snapshot_read_pruned(
    spark: SparkSession,
    path: str,
    *,
    col: str,
    lo=None,
    hi=None,
    version: int | None = None,
) -> DataFrame:
    """Read only the files whose manifest ``col`` range intersects
    ``[lo, hi]`` (either bound optional). Files without recorded stats
    for ``col`` are conservatively kept. The residual predicate is
    still applied — pruning is an optimization, never a filter."""
    from pyspark.sql import functions as F

    fs, jvm = _fs(spark, path)
    log_dir = f"{path}/{LOG_DIR}"
    manifest = _resolve(fs, jvm, log_dir, version)
    stats, _blooms = _file_meta(fs, jvm, log_dir, manifest["version"])

    def keep(rel: str) -> bool:
        rng = stats.get(rel, {}).get(col)
        if not rng:
            return True
        mn, mx = rng
        if lo is not None and mx < lo:
            return False
        if hi is not None and mn > hi:
            return False
        return True

    out = _read_files(spark, path, manifest["schema"], [rel for rel in manifest["files"] if keep(rel)])
    if lo is not None:
        out = out.filter(F.col(col) >= F.lit(lo))
    if hi is not None:
        out = out.filter(F.col(col) <= F.lit(hi))
    return out


# ---------------------------------------------------------- merge / compact

def snapshot_merge(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    *,
    clock=time.time,
) -> dict:
    """Row-grain MERGE into a snapshot table (matched → replace row,
    unmatched → insert), committed as one new version: readers see the
    pre-merge or post-merge table, never a mix — the torn-read window
    the Hive-layout ``merge_upsert`` closes with staged dynamic
    overwrite simply does not exist here.

    Copy-on-write at snapshot grain (the whole surviving file set is
    rewritten, committed as an 'overwrite'). For huge tables where
    merges touch few rows, pair the table with partition columns and
    use ``merge_upsert`` on a Hive layout instead — or prune the
    rewrite set with manifest stats; the contract here is
    correctness-first.

    The merge rewrites the version it read, so it commits on exactly
    that version: if another writer commits in between, it raises
    ``CommitConflict`` and the table keeps the racer's rows — re-run
    the merge against the new head. Returns {"version",
    "rows_upserted"}.
    """
    fs, jvm = _fs(spark, path)
    read = _resolve(fs, jvm, f"{path}/{LOG_DIR}")
    current = _read_files(spark, path, read["schema"], read["files"])
    if set(current.columns) != set(updates.columns):
        raise ValueError(
            f"updates schema {sorted(updates.columns)} != table schema "
            f"{sorted(current.columns)}"
        )
    survivors = current.join(
        updates.select(*keys).distinct(), keys, "left_anti"
    ).select(*updates.columns)
    merged = survivors.unionByName(updates)
    m = _write(spark, path, merged, "overwrite", clock=clock, read=read)
    return {"version": m["version"], "rows_upserted": updates.count()}


def compact_snapshot(
    spark: SparkSession,
    path: str,
    *,
    target_files: int = 8,
    sort_cols: list[str] | None = None,
    stat_cols: list[str] | None = None,
    clock=time.time,
) -> dict:
    """Rewrite the current snapshot into ``target_files`` files and
    commit it with operation='compact' — a FILE-LEVEL rewrite that
    changes no rows. Change consumers must not replay it:
    ``change_files`` (behind ``snapshot_changes`` and the
    snapshot_table stream) SKIPS compact commits (their 'added' files
    are rewrites of already-delivered rows), and incremental rollups
    treat them as empty deltas. Old small files stay readable for time
    travel until ``expire_snapshots``. Returns {"version",
    "files_before", "files_after"}.

    The operation and fresh manifest min/max stats (``stat_cols``,
    default: every orderable primitive) are in the manifest the one
    commit renames into place, so ``snapshot_read_pruned`` keeps
    working on the compacted file set and no reader ever sees the
    rewrite as an overwrite. ``sort_cols`` additionally
    range-partitions + sorts the rewrite (the OPTIMIZE-and-cluster
    move): each compacted file owns a disjoint range of the sort key,
    so stat pruning on that key hits single files. Per-file Bloom
    filters are NOT carried through a compact (rebuild with
    ``snapshot_write_with_blooms`` if point lookups matter
    post-compaction).

    The compaction commits on exactly the version it read: a commit
    that lands in between (an append, say) raises ``CommitConflict``
    rather than being overwritten — re-run against the new head."""
    fs, jvm = _fs(spark, path)
    read = _resolve(fs, jvm, f"{path}/{LOG_DIR}")
    df = _read_files(spark, path, read["schema"], read["files"])
    if sort_cols:
        df = df.repartitionByRange(target_files, *sort_cols).sortWithinPartitions(
            *sort_cols
        )
    else:
        df = df.coalesce(target_files)
    m = _write(
        spark, path, df, "compact", clock=clock, read=read,
        stat_cols=_stat_cols(df.schema, stat_cols),
    )
    return {"version": m["version"], "files_before": len(read["files"]), "files_after": len(m["files"])}


def snapshot_delete_where(
    spark: SparkSession,
    path: str,
    predicate,
    *,
    prune_col: str | None = None,
    prune_lo=None,
    prune_hi=None,
    clock=time.time,
) -> dict:
    """File-level copy-on-write DELETE: rows matching ``predicate`` (a
    Column) are removed by rewriting ONLY the files that can contain
    them; untouched files carry over into the new version unread and
    unmoved.

    ``prune_col``/``prune_lo``/``prune_hi`` select the candidate set
    from manifest stats (files whose recorded [min,max] intersects the
    range); without them, or for stat-less files, every file is a
    candidate. The predicate is always applied exactly — pruning only
    bounds the REWRITE I/O: a retention delete on a time column
    rewrites days, not the table.

    Concurrency: the commit must land directly on the version that was
    read (its file set is the carry-over base); if another writer
    commits in between, ``CommitConflict`` is raised — re-run against
    the new head rather than silently dropping the racer's files.

    The commit records operation='delete'. Change-feed consumers skip
    it (its 'added' files are rewrites of surviving rows — replaying
    them would duplicate), and incremental rollups reject the range
    (rows changed non-monotonically) — rebuild or re-window instead.

    Returns {"version", "rows_deleted", "files_rewritten",
    "files_kept"}.
    """
    fs, jvm = _fs(spark, path)
    log_dir = f"{path}/{LOG_DIR}"
    read = _resolve(fs, jvm, log_dir)
    stats = _file_meta(fs, jvm, log_dir, read["version"])[0] if prune_col is not None else {}

    def is_candidate(rel: str) -> bool:
        if prune_col is None:
            return True
        rng = stats.get(rel, {}).get(prune_col)
        if not rng:
            return True
        mn, mx = rng
        if prune_lo is not None and mx < prune_lo:
            return False
        if prune_hi is not None and mn > prune_hi:
            return False
        return True

    candidates = [rel for rel in read["files"] if is_candidate(rel)]
    kept = [rel for rel in read["files"] if rel not in set(candidates)]

    if not candidates:
        return {
            "version": read["version"], "rows_deleted": 0,
            "files_rewritten": 0, "files_kept": len(kept),
        }

    cand_df = _read_files(spark, path, read["schema"], candidates)
    n_before = cand_df.count()
    m = _write(
        spark, path, cand_df.filter(~predicate), "delete", clock=clock, read=read,
        kept=kept, stat_cols=None if prune_col is None else [prune_col],
    )
    n_after = _read_files(spark, path, m["schema"], m["added"]).count() if m["added"] else 0
    return {
        "version": m["version"],
        "rows_deleted": n_before - n_after,
        "files_rewritten": len(candidates),
        "files_kept": len(kept),
    }


# ------------------------------------------------------ write-audit-publish

def snapshot_write_staged(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    *,
    mode: str = "append",
    clock=time.time,
) -> str:
    """Stage a commit WITHOUT publishing it (the write half of
    write-audit-publish): data files land normally, but the manifest
    is written as ``_log/_staged-<id>.json`` — underscore-prefixed, so
    version listing and every reader ignore it. Readers keep seeing
    the current table while audits run against the staged snapshot.
    Returns the stage id."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    fs, jvm = _fs(spark, path)
    log_dir = f"{path}/{LOG_DIR}"
    fs.mkdirs(_hp(jvm, log_dir))

    write_id = uuid.uuid4().hex[:12]
    added = _stage(fs, jvm, path, df, write_id)
    staged = {
        "operation": mode,
        "staged_at": float(clock()),
        "schema": df.schema.json(),
        "added": added,
    }
    _write_text(fs, jvm, f"{log_dir}/_staged-{write_id}.json", json.dumps(staged))
    return write_id


def staged_snapshot_read(spark: SparkSession, path: str, stage_id: str) -> DataFrame:
    """The table AS IT WOULD LOOK if the staged commit published —
    the audit target. For mode='append' that is current ∪ staged
    files; for 'overwrite', the staged files alone."""
    fs, jvm = _fs(spark, path)
    log_dir = f"{path}/{LOG_DIR}"
    staged = json.loads(_read_text(fs, jvm, f"{log_dir}/_staged-{stage_id}.json"))
    files = staged["added"]
    if staged["operation"] == "append":
        versions = _list_versions(fs, jvm, log_dir)
        if versions:
            files = _load_manifest(fs, jvm, log_dir, versions[-1])["files"] + files
    return _read_files(spark, path, staged["schema"], files)


def publish_snapshot(
    spark: SparkSession,
    path: str,
    stage_id: str,
    *,
    audit=None,
    clock=time.time,
    max_retries: int = 3,
) -> int:
    """Audit-then-publish: run ``audit`` (a callable receiving the
    would-be table DataFrame, returning True to allow) against the
    staged snapshot, then promote the staged manifest to the next
    version with the usual blind commit (re-based on the head, retried
    on a lost race). A failing audit leaves the table untouched and
    the stage in place for triage (``abandon_staged`` discards it).
    This is the Iceberg WAP pattern: bad data is caught while
    INVISIBLE, never rolled back after readers saw it."""
    fs, jvm = _fs(spark, path)
    spath = f"{path}/{LOG_DIR}/_staged-{stage_id}.json"
    staged = json.loads(_read_text(fs, jvm, spath))

    if audit is not None and not audit(staged_snapshot_read(spark, path, stage_id)):
        raise ValueError(
            f"audit rejected staged commit {stage_id} at {path}; table "
            "unchanged — fix or abandon_staged"
        )
    entry = {k: staged[k] for k in ("operation", "schema", "added")}
    m = _commit_blind(fs, jvm, path, entry, clock=clock, max_retries=max_retries)
    fs.delete(_hp(jvm, spath), False)
    return m["version"]


def abandon_staged(spark: SparkSession, path: str, stage_id: str) -> None:
    """Discard a staged commit: drop its manifest and data files.
    (Unpublished stages are also swept as orphans by
    ``expire_snapshots`` if never explicitly abandoned.)"""
    fs, jvm = _fs(spark, path)
    spath = f"{path}/{LOG_DIR}/_staged-{stage_id}.json"
    staged = json.loads(_read_text(fs, jvm, spath))
    for rel in staged["added"]:
        fs.delete(_hp(jvm, f"{path}/{rel}"), False)
    fs.delete(_hp(jvm, f"{path}/{_DATA_DIR}/w-{stage_id}"), True)
    fs.delete(_hp(jvm, spath), False)


# ------------------------------------------------------------- bloom filters

def _bloom_params(n: int, fpp: float) -> tuple[int, int]:
    """(bits m, hash count k) for n distinct values at the target
    false-positive rate; standard sizing m = -n·ln(p)/ln²2."""
    import math

    n = max(1, n)
    m = max(8, int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))))
    k = max(1, round(m / n * math.log(2)))
    return m, k


def _bloom_hashes(value: str) -> tuple[int, int]:
    """Two independent 64-bit hashes from one md5 (Kirsch-Mitzenmacher
    double hashing derives all k probes as h1 + i·h2)."""
    import hashlib

    d = hashlib.md5(value.encode("utf-8")).digest()
    return int.from_bytes(d[:8], "big"), int.from_bytes(d[8:], "big")


def _bloom_build(values, fpp: float) -> dict:
    vals = {str(v) for v in values if v is not None}
    m, k = _bloom_params(len(vals), fpp)
    bits = bytearray((m + 7) // 8)
    for v in vals:
        h1, h2 = _bloom_hashes(v)
        for i in range(k):
            idx = (h1 + i * h2) % m
            bits[idx >> 3] |= 1 << (idx & 7)
    import base64

    return {"m": m, "k": k, "bits": base64.b64encode(bytes(bits)).decode("ascii")}


def _bloom_maybe_contains(bloom: dict, value) -> bool:
    import base64

    bits = base64.b64decode(bloom["bits"])
    m, k = bloom["m"], bloom["k"]
    h1, h2 = _bloom_hashes(str(value))
    for i in range(k):
        idx = (h1 + i * h2) % m
        if not bits[idx >> 3] & (1 << (idx & 7)):
            return False
    return True


def _collect_blooms(path: str, files: list[str], bloom_cols: list[str], fpp: float) -> dict:
    """A Bloom filter per table file for each of ``bloom_cols``, built
    from the file's own column pages (pyarrow, column-projected read —
    no Spark job)."""
    import pyarrow.parquet as pq

    blooms: dict[str, dict] = {}
    for rel in files:
        tbl = pq.read_table(f"{path}/{rel}", columns=list(bloom_cols))
        blooms[rel] = {
            c: _bloom_build(tbl.column(c).to_pylist(), fpp)
            for c in bloom_cols if c in tbl.column_names
        }
    return blooms


def snapshot_write_with_blooms(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    *,
    bloom_cols: list[str],
    fpp: float = 0.01,
    mode: str = "append",
    stat_cols: list[str] | None = None,
    clock=time.time,
    max_retries: int = 3,
) -> int:
    """``snapshot_write_with_stats`` + a per-file Bloom filter for each
    ``bloom_cols`` column, recorded in the manifest.

    Min/max stats prune RANGE predicates but are useless for point
    lookups on high-cardinality scattered keys (a UUID or user-id
    column spans nearly the full domain in every file, so no file is
    ever excluded). The Bloom filter answers "could this file contain
    key X?" with a bounded false-positive rate — a needle-in-haystack
    lookup on a 100 TB table touches the handful of files whose
    filters fire instead of every file. ~1.2 KB per file per column at
    1% fpp for 1k distinct values; the manifest stays tiny.

    Filters are built from the staged files' own column pages
    (pyarrow, column-projected read — no Spark job) and committed with
    the stats in the one manifest rename: a committed version never
    lacks its filters. Values hash by their canonical string form, so
    lookups must pass the same type they wrote (int 5 and "5" collide
    by design: str(5)).
    """
    return _write(
        spark, path, df, mode, clock=clock, max_retries=max_retries,
        stat_cols=_stat_cols(df.schema, stat_cols), bloom_cols=bloom_cols, fpp=fpp,
    )["version"]


def snapshot_read_point(
    spark: SparkSession,
    path: str,
    *,
    col: str,
    value,
    version: int | None = None,
) -> DataFrame:
    """Point lookup ``col = value`` reading only the files whose Bloom
    filter (and min/max range, when recorded) could contain the key.
    Files without a filter are conservatively kept; the equality
    predicate is always applied, so a false positive costs one extra
    file scan, never a wrong row."""
    from pyspark.sql import functions as F

    fs, jvm = _fs(spark, path)
    log_dir = f"{path}/{LOG_DIR}"
    manifest = _resolve(fs, jvm, log_dir, version)
    stats, blooms = _file_meta(fs, jvm, log_dir, manifest["version"])

    def keep(rel: str) -> bool:
        rng = stats.get(rel, {}).get(col)
        if rng is not None:
            mn, mx = rng
            try:
                if value < mn or value > mx:
                    return False
            except TypeError:
                pass  # stat type incomparable with the probe: keep
        bl = blooms.get(rel, {}).get(col)
        if bl is not None and not _bloom_maybe_contains(bl, value):
            return False
        return True

    files = [rel for rel in manifest["files"] if keep(rel)]
    return _read_files(spark, path, manifest["schema"], files).filter(F.col(col) == F.lit(value))


def snapshot_foreach_batch(path: str, app_id: str, *, mode: str = "append"):
    """Exactly-once ``foreachBatch`` sink into a snapshot table:

        q = (stream.writeStream
             .foreachBatch(snapshot_foreach_batch(table, "my_app"))
             .option("checkpointLocation", ckpt).start())

    Structured Streaming guarantees ``batch_id`` is stable across
    retries and restarts of the same epoch; ``snapshot_write`` with
    ``txn=(app_id, batch_id)`` turns that into an exactly-once lake
    sink — a replayed micro-batch (failure after commit but before
    the checkpoint advanced) is recognized by its batch id and
    skipped, so the reference's at-least-once capture upload
    (same-filename replace, pipelines/utils/tasks.py:273-276) becomes
    a real transactional guarantee."""

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        snapshot_write(
            batch_df.sparkSession, path, batch_df,
            mode=mode, txn=(app_id, int(batch_id)),
        )

    return _write_batch


def compact_small_files(
    spark: SparkSession,
    path: str,
    *,
    small_file_mb: float = 32,
    target_files: int = 4,
    min_files_to_compact: int = 2,
    stat_cols: list[str] | None = None,
    clock=time.time,
) -> dict:
    """PARTIAL compaction: rewrite only the files below
    ``small_file_mb`` into ~``target_files`` larger ones; every file
    already at a healthy size carries over into the new version
    unread and unmoved (its manifest stats and Bloom filters stay
    valid — they key on the file path, which doesn't change).

    This is the 100 TB-shape maintenance operation: a minutely
    capture stream deposits a trickle of tiny files on top of a huge
    compacted base, and ``compact_snapshot`` (full rewrite) would
    re-copy the entire table to fix a few hundred KB. Here the
    rewrite I/O is proportional to the SMALL-file volume only —
    run it on every maintenance tick.

    Commit semantics match ``snapshot_delete_where``: the commit must
    land directly on the version that was read (its file set is the
    carry-over base); a concurrent commit raises ``CommitConflict`` —
    re-run against the new head. The commit records
    operation='compact', so change feeds, the stream source, and
    incremental rollups skip it (no replay duplication). New files
    get fresh manifest min/max stats (``stat_cols`` default: every
    orderable primitive).

    Returns {"version", "files_rewritten", "files_kept"};
    version is the pre-existing head when nothing qualified.
    """
    fs, jvm = _fs(spark, path)
    read = _resolve(fs, jvm, f"{path}/{LOG_DIR}")

    limit = int(small_file_mb * (1 << 20))
    candidates = [
        rel
        for rel in read["files"]
        if fs.getFileStatus(_hp(jvm, f"{path}/{rel}")).getLen() < limit
    ]
    kept = [rel for rel in read["files"] if rel not in set(candidates)]
    if len(candidates) < min_files_to_compact:
        return {"version": read["version"], "files_rewritten": 0, "files_kept": len(read["files"])}

    small_df = _read_files(spark, path, read["schema"], candidates).coalesce(target_files)
    m = _write(
        spark, path, small_df, "compact", clock=clock, read=read, kept=kept,
        stat_cols=_stat_cols(small_df.schema, stat_cols),
    )
    return {
        "version": m["version"],
        "files_rewritten": len(candidates),
        "files_kept": len(kept),
    }
