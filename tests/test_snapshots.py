from __future__ import annotations

import json
import os

import pytest

from pipelines_spark.sinks.snapshots import (
    CommitConflict,
    current_version,
    expire_snapshots,
    snapshot_changes,
    snapshot_history,
    snapshot_read,
    snapshot_write,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "tbl")


def _df(spark, pairs):
    return spark.createDataFrame(pairs, "id int, v string")


def test_append_accumulates_and_overwrite_resets(spark, table):
    clock = iter(range(100)).__next__
    v1 = snapshot_write(spark, table, _df(spark, [(1, "a")]), mode="append", clock=clock)
    v2 = snapshot_write(spark, table, _df(spark, [(2, "b")]), mode="append", clock=clock)
    assert (v1, v2) == (1, 2)
    assert _rows(snapshot_read(spark, table)) == [(1, "a"), (2, "b")]

    v3 = snapshot_write(spark, table, _df(spark, [(9, "z")]), mode="overwrite", clock=clock)
    assert v3 == 3
    assert _rows(snapshot_read(spark, table)) == [(9, "z")]
    assert current_version(spark, table) == 3


def test_time_travel_by_version_and_timestamp(spark, table):
    times = iter([10.0, 20.0, 30.0])
    clock = lambda: next(times)
    snapshot_write(spark, table, _df(spark, [(1, "a")]), clock=clock)
    snapshot_write(spark, table, _df(spark, [(2, "b")]), clock=clock)
    snapshot_write(spark, table, _df(spark, [(3, "c")]), mode="overwrite", clock=clock)

    assert _rows(snapshot_read(spark, table, version=2)) == [(1, "a"), (2, "b")]
    assert _rows(snapshot_read(spark, table, as_of=25.0)) == [(1, "a"), (2, "b")]
    assert _rows(snapshot_read(spark, table, as_of=10.0)) == [(1, "a")]
    assert _rows(snapshot_read(spark, table)) == [(3, "c")]
    with pytest.raises(ValueError):
        snapshot_read(spark, table, as_of=5.0)
    with pytest.raises(ValueError):
        snapshot_read(spark, table, version=99)


def test_incremental_changes(spark, table):
    snapshot_write(spark, table, _df(spark, [(1, "a")]))
    snapshot_write(spark, table, _df(spark, [(2, "b")]))
    snapshot_write(spark, table, _df(spark, [(3, "c")]))
    # consumer last saw v1: gets exactly what v2+v3 added
    assert _rows(snapshot_changes(spark, table, since_version=1)) == [(2, "b"), (3, "c")]
    assert _rows(snapshot_changes(spark, table, since_version=1, to_version=2)) == [(2, "b")]
    assert _rows(snapshot_changes(spark, table, since_version=3)) == []
    # an overwrite contributes its full (reloaded) file set
    snapshot_write(spark, table, _df(spark, [(7, "r")]), mode="overwrite")
    assert _rows(snapshot_changes(spark, table, since_version=3)) == [(7, "r")]


def test_commit_conflict_loser_fails_cleanly(spark, table, monkeypatch):
    """A writer whose view of the log is permanently stale (a racer
    keeps winning the rename) surfaces CommitConflict instead of
    clobbering or hanging, and leaves no temp manifests behind."""
    import pipelines_spark.sinks.snapshots as snap

    snapshot_write(spark, table, _df(spark, [(1, "a")]))
    m1 = json.load(open(f"{table}/_log/v00000001.json"))
    with open(f"{table}/_log/v00000002.json", "w") as fh:
        json.dump({**m1, "version": 2, "parent": 1, "added": []}, fh)
    # stale listing: the writer keeps believing v1 is the tip, so every
    # retry re-attempts the already-taken v2 rename
    monkeypatch.setattr(snap, "_list_versions", lambda fs, jvm, log_dir: [1])
    with pytest.raises(CommitConflict):
        snap.snapshot_write(
            spark, table, _df(spark, [(2, "b")]), max_retries=2, clock=lambda: 0.0
        )
    monkeypatch.undo()
    leftovers = [f for f in os.listdir(f"{table}/_log") if f.startswith("_tmp")]
    assert leftovers == []
    assert _rows(snapshot_read(spark, table)) == [(1, "a")]


def test_concurrent_style_retry_succeeds(spark, table):
    """A lost race retries against the refreshed log and lands on the
    next free version (what two real committers do)."""
    snapshot_write(spark, table, _df(spark, [(1, "a")]))
    # simulate a racer that committed v2 between our read and rename:
    # pre-create v2 with valid content, then write — retry loop should
    # commit v3 including v2's files in its base
    m1 = json.load(open(f"{table}/_log/v00000001.json"))
    with open(f"{table}/_log/v00000002.json", "w") as fh:
        json.dump({**m1, "version": 2, "parent": 1, "added": []}, fh)
    v = snapshot_write(spark, table, _df(spark, [(3, "c")]))
    assert v == 3
    assert _rows(snapshot_read(spark, table)) == [(1, "a"), (3, "c")]


def test_history_and_expire(spark, table):
    clock = iter([1.0, 2.0, 3.0]).__next__
    snapshot_write(spark, table, _df(spark, [(1, "a")]), clock=clock)
    snapshot_write(spark, table, _df(spark, [(2, "b")]), clock=clock)
    snapshot_write(spark, table, _df(spark, [(3, "c")]), mode="overwrite", clock=clock)

    hist = snapshot_history(spark, table)
    assert [h["version"] for h in hist] == [1, 2, 3]
    assert [h["operation"] for h in hist] == ["append", "append", "overwrite"]
    assert hist[1]["n_files"] == hist[1]["n_added"] + hist[0]["n_files"]

    stats = expire_snapshots(spark, table, keep_last=1)
    assert stats["manifests_removed"] == 2
    assert stats["data_files_removed"] > 0
    # latest snapshot unharmed; old versions gone
    assert _rows(snapshot_read(spark, table)) == [(3, "c")]
    with pytest.raises(ValueError):
        snapshot_read(spark, table, version=1)
    # no dead parquet left outside the live set
    live = set(
        json.load(open(f"{table}/_log/v00000003.json"))["files"]
    )
    on_disk = {
        os.path.relpath(os.path.join(dp, f), table)
        for dp, _dn, fns in os.walk(f"{table}/data")
        for f in fns
        if f.endswith(".parquet")
    }
    assert on_disk == live


def test_orphans_from_crashed_write_are_swept(spark, table):
    snapshot_write(spark, table, _df(spark, [(1, "a")]))
    # a "crashed" writer: data landed, manifest never committed
    _df(spark, [(99, "zz")]).write.parquet(f"{table}/data/w-crashed")
    assert _rows(snapshot_read(spark, table)) == [(1, "a")]  # invisible
    stats = expire_snapshots(spark, table, keep_last=1)
    assert stats["data_files_removed"] >= 1
    assert not os.path.exists(f"{table}/data/w-crashed")
    assert _rows(snapshot_read(spark, table)) == [(1, "a")]


def test_empty_overwrite_reads_back_empty_with_schema(spark, table):
    snapshot_write(spark, table, _df(spark, [(1, "a")]))
    snapshot_write(spark, table, _df(spark, []), mode="overwrite")
    out = snapshot_read(spark, table)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["id", "v"]


def test_schema_evolution_add_column(spark, table):
    """A later commit may add columns: the latest manifest's schema
    governs the read, and older files' missing columns surface as
    NULL — additive evolution with no rewrite of history."""
    from pyspark.sql import functions as F

    snapshot_write(spark, table, _df(spark, [(1, "a")]))
    widened = spark.createDataFrame(
        [(2, "b", 9.5)], "id int, v string, score double"
    )
    snapshot_write(spark, table, widened)
    out = snapshot_read(spark, table)
    assert [f.name for f in out.schema.fields] == ["id", "v", "score"]
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["score"] is None and rows[2]["score"] == 9.5
    # time travel still reads v1 with its own (narrow) schema
    v1 = snapshot_read(spark, table, version=1)
    assert [f.name for f in v1.schema.fields] == ["id", "v"]
    # incremental consumers see the widened schema for the delta
    delta = snapshot_changes(spark, table, since_version=1)
    assert [f.name for f in delta.schema.fields] == ["id", "v", "score"]
    assert delta.collect()[0]["score"] == 9.5


def test_txn_commit_is_idempotent_per_app_batch(spark, tmp_path):
    table = str(tmp_path / "txn_tbl")
    v1 = snapshot_write(spark, table, _df(spark, [(1, "a")]), txn=("app1", 0))
    assert v1 == 1
    # exact replay of the same batch: skipped, no new version
    assert snapshot_write(spark, table, _df(spark, [(1, "dup")]), txn=("app1", 0)) is None
    # a LOWER batch after a higher one (late replay): also skipped
    v2 = snapshot_write(spark, table, _df(spark, [(2, "b")]), txn=("app1", 5))
    assert v2 == 2
    assert snapshot_write(spark, table, _df(spark, [(3, "late")]), txn=("app1", 3)) is None
    # other apps are independent
    v3 = snapshot_write(spark, table, _df(spark, [(4, "c")]), txn=("app2", 0))
    assert v3 == 3
    rows = {(r["id"], r["v"]) for r in snapshot_read(spark, table).collect()}
    assert rows == {(1, "a"), (2, "b"), (4, "c")}
    # interleaved non-txn commits don't break the chain walk
    snapshot_write(spark, table, _df(spark, [(5, "d")]))
    assert snapshot_write(spark, table, _df(spark, [(6, "again")]), txn=("app1", 5)) is None


def test_append_rejects_dropped_or_retyped_columns(spark, tmp_path):
    table = str(tmp_path / "guard_tbl")
    snapshot_write(spark, table, _df(spark, [(1, "a")]))
    # dropped column
    with pytest.raises(ValueError, match="MISSING"):
        snapshot_write(
            spark, table, spark.createDataFrame([(2,)], "id bigint")
        )
    # retyped column
    with pytest.raises(ValueError, match="only additive"):
        snapshot_write(
            spark, table, spark.createDataFrame([("2", "b")], "id string, v string")
        )
    # table unchanged by the failed attempts
    assert snapshot_read(spark, table).count() == 1
    # overwrite may redefine
    snapshot_write(
        spark, table, spark.createDataFrame([(9,)], "id bigint"), mode="overwrite"
    )
    assert [f.name for f in snapshot_read(spark, table).schema.fields] == ["id"]


def test_randomized_op_sequences_match_model(spark, tmp_path):
    """Model-based check of the transactional surface: a seeded
    random walk over append / overwrite / merge / delete / compact /
    partial-compact, with a pure-Python dict as the model. After
    every op the table must equal the model exactly, and a random
    earlier version must still time-travel to its recorded state —
    the invariants that make the format trustworthy, checked under
    op interleavings no hand-written test enumerates."""
    import random

    from pipelines_spark.sinks.snapshots import (
        compact_small_files,
        compact_snapshot,
        snapshot_delete_where,
        snapshot_merge,
    )
    from pyspark.sql import functions as F

    def table_rows(path, version=None):
        df = snapshot_read(spark, path, version=version)
        return {(r["id"], r["v"]) for r in df.collect()}

    for seed in (7, 23):
        rng = random.Random(seed)
        path = str(tmp_path / f"walk_{seed}")
        history: dict[int, set] = {}  # model state per committed version
        next_val = 0

        def fresh_rows(n):
            nonlocal next_val
            out = [(rng.randrange(50), f"s{next_val + i}") for i in range(n)]
            next_val += n
            return out

        # v1 must exist before merge/delete/compact make sense
        rows = fresh_rows(3)
        snapshot_write(spark, path, _df(spark, rows))
        # append keeps duplicates per key; model as set of (id, v)
        # (values are globally unique so a set is exact)
        multiset = set(rows)
        history = {1: set(multiset)}

        for _step in range(10):
            op = rng.choice(["append", "overwrite", "merge", "delete", "compact", "small"])
            if op == "append":
                rows = fresh_rows(rng.randrange(1, 4))
                snapshot_write(spark, path, _df(spark, rows))
                multiset |= set(rows)
            elif op == "overwrite":
                rows = fresh_rows(rng.randrange(1, 4))
                snapshot_write(spark, path, _df(spark, rows), mode="overwrite")
                multiset = set(rows)
            elif op == "merge":
                rows = fresh_rows(rng.randrange(1, 3))
                keys = {k for k, _ in rows}
                snapshot_merge(spark, path, _df(spark, rows), keys=["id"])
                multiset = {(k, v) for k, v in multiset if k not in keys} | set(rows)
            elif op == "delete":
                cut = rng.randrange(50)
                snapshot_delete_where(spark, path, F.col("id") < cut)
                multiset = {(k, v) for k, v in multiset if k >= cut}
            elif op == "compact":
                compact_snapshot(spark, path, target_files=2)
            else:
                compact_small_files(spark, path, small_file_mb=64, target_files=1)
            history[current_version(spark, path)] = set(multiset)
            assert table_rows(path) == multiset, f"seed={seed} op={op}"

        # time travel: each committed version equals its recorded model
        for ver in rng.sample(sorted(history), k=3):
            assert table_rows(path, version=ver) == history[ver], (
                f"seed={seed} version={ver}"
            )


def test_one_commit_path_no_manifest_written_in_place(spark, tmp_path, monkeypatch):
    """Structural guard for the one commit path (sinks/snapshots.py
    docstring): every version is one rename of a complete manifest.
    With every direct write of a ``_log/v*.json`` made to crash, each
    writer still commits its version through ``_commit``, complete
    with its operation, stats, Bloom filters and app metadata — so a
    compaction is never replayed as an overwrite by the change feed.
    A writer that writes a manifest in place fails here."""
    import inspect
    import re

    from pyspark.sql import functions as F

    import pipelines_spark.sinks.snapshots as snap
    from pipelines_spark.state.rollup import run_incremental_rollup

    assert inspect.getsource(snap).count("fs.rename(") == 1

    write_text, commit = snap._write_text, snap._commit
    committed = []

    def crash_on_manifest(fs, jvm, path, text):
        if re.search(r"/_log/v\d+\.json$", path):
            raise OSError(f"crash while writing {path}")
        write_text(fs, jvm, path, text)

    def recording_commit(fs, jvm, log_dir, manifest):
        won = commit(fs, jvm, log_dir, manifest)
        committed.extend([(log_dir, manifest["version"])] if won else [])
        return won

    monkeypatch.setattr(snap, "_write_text", crash_on_manifest)
    monkeypatch.setattr(snap, "_commit", recording_commit)

    table, rollup = str(tmp_path / "crash"), str(tmp_path / "crash_rollup")
    thirty = spark.range(30).select(
        F.col("id").cast("int").alias("id"), F.concat(F.lit("v"), F.col("id")).alias("v")
    ).coalesce(2)
    head_before_compaction = 3

    def publish():
        snap.publish_snapshot(spark, table, snap.snapshot_write_staged(
            spark, table, _df(spark, [(40, "p")])))

    # (writer, what its committed manifest must hold)
    writers = [
        (lambda: snap.snapshot_write(spark, table, thirty),
         lambda m: m["operation"] == "append"),
        (lambda: snap.snapshot_write_with_stats(spark, table, _df(spark, [(30, "s")])),
         lambda m: set(m["stats"]) == set(m["added"]) and m["stats"][m["added"][-1]]),
        (lambda: snap.snapshot_write_with_blooms(
            spark, table, _df(spark, [(31, "b")]), bloom_cols=["id"]),
         lambda m: set(m["blooms"]) == set(m["stats"]) == set(m["added"])),
        (lambda: snap.compact_snapshot(spark, table, target_files=1),
         lambda m: m["operation"] == "compact" and set(m["stats"]) == set(m["added"])),
        (lambda: snap.snapshot_merge(spark, table, _df(spark, [(1, "m")]), keys=["id"]),
         lambda m: m["operation"] == "overwrite"),
        (lambda: snap.snapshot_delete_where(
            spark, table, F.col("id") == 2, prune_col="id", prune_lo=2, prune_hi=2),
         lambda m: m["operation"] == "delete" and "stats" in m),
        (publish, lambda m: m["operation"] == "append"),
        (lambda: snap.compact_small_files(spark, table, small_file_mb=64, target_files=1),
         lambda m: m["operation"] == "compact" and "stats" in m),
        (lambda: snap.snapshot_write(spark, table, _df(spark, [(50, "t")]), txn=("app", 0)),
         lambda m: m["txn"] == {"app": "app", "batch": 0}),
    ]
    for i, (write, complete) in enumerate(writers, start=1):
        try:
            write()
        except OSError:
            pass  # a crashed writer may commit nothing, never half a version
        assert current_version(spark, table) == i
        manifest = json.load(open(f"{table}/_log/v{i:08d}.json"))
        assert complete(manifest), manifest
        if i == head_before_compaction + 1:
            assert snapshot_changes(spark, table, since_version=head_before_compaction).count() == 0
    assert snapshot_read(spark, table).count() == 33

    run_incremental_rollup(spark, table, rollup, keys=["v"], measures={"n": ("count", "id")})
    assert json.load(open(f"{rollup}/_log/v00000001.json"))["app"] == {
        "covered_source_version": len(writers)
    }
    assert committed == [(f"{table}/_log", i) for i in range(1, len(writers) + 1)] + [
        (f"{rollup}/_log", 1)
    ]
    assert not [f for d in (table, rollup) for f in os.listdir(f"{d}/_log") if f.startswith("_tmp")]


@pytest.mark.parametrize("rewrite", ["compact_snapshot", "snapshot_merge"])
def test_rewrite_conflicts_with_a_racing_append(spark, tmp_path, monkeypatch, rewrite):
    """A rewrite commits on exactly the version it read: an append that
    lands between its read and its commit makes it raise
    CommitConflict, and the racer's rows stay in the table."""
    from pyspark.sql import DataFrameWriter
    from pyspark.sql import functions as F

    import pipelines_spark.sinks.snapshots as snap

    table = str(tmp_path / "race")
    snapshot_write(spark, table, spark.range(30).select(
        F.col("id").cast("int").alias("id"), F.lit("v").alias("v")))
    parquet, raced = DataFrameWriter.parquet, []

    def racing_parquet(self, path, *args, **kwargs):
        parquet(self, path, *args, **kwargs)
        if not raced:  # the rewrite's own data write: a racer commits now
            raced.append(path)
            snapshot_write(spark, table, _df(spark, [(100 + i, "r") for i in range(5)]))

    monkeypatch.setattr(DataFrameWriter, "parquet", racing_parquet)
    with pytest.raises(CommitConflict):
        if rewrite == "compact_snapshot":
            snap.compact_snapshot(spark, table, target_files=1)
        else:
            snap.snapshot_merge(spark, table, _df(spark, [(1, "m")]), keys=["id"])
    monkeypatch.undo()
    assert raced and snapshot_read(spark, table).count() == 35
