"""The benchmark's workloads: ``ingest`` and ``query_mix``.

``ingest`` interleaves the three write paths: the CSV lake dump, the
minutely capture with its recapture backlog, and the streaming
capture. ``query_mix`` runs the read-only query passes. Each workload
drives the program through its public functions only, in one
long-lived session, as a closed loop with one client:

- ``warm_up`` runs every op once, untimed but counted in ``setup_s``;
  ``ingest`` warms up on its real targets, so the first timed op of a
  kind finds its table, zone or checkpoint in place;
- ``run(seconds)`` is the timed phase, a fixed plan sized from
  ``seconds`` (see ``plan_units``); it may be called again (the
  traced run does, to compare traced and untraced walls) and then
  continues where the previous call stopped;
- ``check()`` compares the program's outputs with counts the input
  generator produced, or with the DuckDB oracle, and returns one
  message per wrong output.

An op is one dump, one capture window, one recapture, maintenance or
materialization call, one streaming micro-batch, or one query.
"""

from __future__ import annotations

import datetime as dt
import decimal
import json
import math
import os
import random
import re
import shutil
import time

from collections import Counter, defaultdict

import duckdb
import gen

from pipelines_spark.flows import (
    recapture_missing,
    run_capture_window,
    run_dump_flow,
    run_dump_flow_transactional,
    run_maintenance,
    run_materialization,
)
from pipelines_spark.operators.spine import find_gaps, time_spine
from pipelines_spark.oracles import ORACLES
from pipelines_spark.plans.checks import Check
from pipelines_spark.plans.models import ModelRunner, SqlModel
from pipelines_spark.queries import QUERIES
from pipelines_spark.sinks.snapshots import snapshot_read
from pipelines_spark.sources.files import read_with_quarantine
from pipelines_spark.state.watermark import WatermarkStore
from pipelines_spark.streaming.capture import run_capture_stream
from spans import lake_walk


def plan_units(seconds: float, unit_s: float) -> int:
    """How many plan units (cycles, passes) fill ``seconds``.

    The timed phase runs a fixed plan sized from ``--seconds`` and a
    nominal unit cost on a 4-core box, not a deadline: the op mix is
    then the same on every run, so medians do not jump when a
    borderline unit falls in or out.
    """
    return max(1, round(seconds / unit_s))


class OpLog:
    """The ops of a run, each timed and wrapped in a span."""

    def __init__(self, spark, tracer):
        self.spark = spark
        self.tracer = tracer
        self.ops: list[dict] = []
        self.resident_rdds_max = 0

    def run(self, kind: str, rows: int, fn):
        """Time ``fn()`` as one op inside a span named ``kind``."""
        t0 = time.perf_counter()
        with self.tracer.span(kind, op=len(self.ops)):
            result = fn()
        self.add(kind, time.perf_counter() - t0, rows)
        return result

    def add(self, kind: str, seconds: float, rows: int) -> None:
        self.ops.append({"kind": kind, "seconds": seconds, "rows": rows})
        if self.tracer.enabled:
            self.resident_rdds_max = max(
                self.resident_rdds_max,
                self.spark.sparkContext._jsc.getPersistentRDDs().size(),
            )


class Part:
    """One path of a workload; the parts of a workload share its log."""

    def __init__(self, log: OpLog, manifest: dict, work: str, seed: int):
        self.log = log
        self.spark = log.spark
        self.tracer = log.tracer
        self.manifest = manifest
        self.work = work
        self.seed = seed
        self.rng = random.Random(seed)

    def lake_roots(self) -> list[str]:
        """Directories whose bytes count as stored lake data."""
        return []

    def input_bytes(self) -> int:
        return 0

    def layer_metrics(self) -> dict:
        return {}


# ---------------------------------------------------------------------------
# lake dump
# ---------------------------------------------------------------------------


class LakeDump(Part):
    """CSV batches → quarantine read → partitioned all-string dump;
    replays of dumped partitions; one write-audit-publish dump."""

    TABLES = ("lineitem", "orders", "events")

    def __init__(self, *args):
        super().__init__(*args)
        self.queues = {}
        for t in self.TABLES:
            mine = [b for b in self.manifest["batches"] if b["table"] == t]
            self.rng.shuffle(mine)
            self.queues[t] = mine
        self.cursor = Counter()
        self.lake = f"{self.work}/lake"
        self.quarantine = f"{self.work}/quarantine"
        self.snapshot = f"{self.work}/snapshot/orders"
        self.dumped: dict[str, dict] = {}
        self.round_batches: list[dict] = []
        self.lines = 0
        self.bad_expected = 0
        self.txn_rows_expected = 0
        self.txn_bytes = 0
        self.txn_results: list[dict] = []

    def _read(self, b: dict):
        self.lines += b["rows"] + b["bad"]
        self.bad_expected += b["bad"]
        with self.tracer.span("sources.read_with_quarantine"):
            good, _bad = read_with_quarantine(
                self.spark, b["path"], gen.DUMP_TABLES[b["table"]][0],
                quarantine_path=f"{self.quarantine}/{b['table']}",
            )
        return good

    def _dump(self, b: dict) -> None:
        good = self._read(b)
        with self.tracer.span("flows.run_dump_flow"):
            run_dump_flow(
                self.spark, good,
                lake_path=f"{self.lake}/{b['table']}",
                staging_table=f"stg_{b['table']}",
                date_col=gen.DUMP_TABLES[b["table"]][1],
                partition_cols=(b["part_col"],),
            )
        self.dumped[b["path"]] = b

    def _transactional(self, b: dict) -> None:
        good = self._read(b)
        with self.tracer.span("flows.run_dump_flow_transactional"):
            self.txn_results.append(run_dump_flow_transactional(
                self.spark, good, table_path=self.snapshot,
                date_col=gen.DUMP_TABLES[b["table"]][1],
                checks=[Check(
                    "orderkey_not_null",
                    "SELECT * FROM _staged_dump WHERE o_orderkey IS NULL",
                )],
            ))
        self.txn_rows_expected += b["rows"]
        self.txn_bytes += b["bytes"]

    def _next_batch(self, table: str) -> dict:
        q = self.queues[table]
        b = q[self.cursor[table] % len(q)]
        self.cursor[table] += 1
        return b

    def warm_up(self) -> None:
        """One dump per table and one transactional dump, into the real
        targets: the first timed dump of a table then overwrites an
        existing staging table, like every later one."""
        for t in self.TABLES:
            self._dump(self._next_batch(t))
        self._transactional(self.rng.choice(self.queues["orders"]))

    def round(self) -> None:
        """One batch per table, so every round has the same table mix."""
        for t in self.TABLES:
            b = self._next_batch(t)
            self.round_batches.append(b)
            self.log.run("dump", b["rows"] + b["bad"], lambda b=b: self._dump(b))

    def tail(self) -> None:
        """Replay one already-dumped orders batch, seeded (a whole-
        partition replace, so the lake must not change), then one
        transactional dump. The replayed table is fixed, so the rows of
        a run do not depend on the seed."""
        b = self.rng.choice([b for b in self.round_batches if b["table"] == "orders"])
        self.round_batches = []
        self.log.run("replay", b["rows"] + b["bad"], lambda: self._dump(b))
        b = self.rng.choice(self.queues["orders"])
        self.log.run("dump_transactional", b["rows"] + b["bad"],
                     lambda: self._transactional(b))

    def check(self) -> list[str]:
        errors = []
        for t in self.TABLES:
            mine = [b for b in self.dumped.values() if b["table"] == t]
            if not mine:
                continue
            part_col = mine[0]["part_col"]
            got = dict(
                self.spark.read.parquet(f"{self.lake}/{t}").groupBy(part_col).count().collect()
            )
            for b in mine:
                if got.get(b["key"]) != b["rows"]:
                    errors.append(f"{t}/{b['key']}: {got.get(b['key'])} rows, want {b['rows']}")
            types = {typ for _c, typ in self.spark.table(f"stg_{t}").dtypes}
            if types != {"string"}:
                errors.append(f"stg_{t} is not all-string: {sorted(types)}")
        quarantined = self.spark.read.parquet(f"{self.quarantine}/*").count()
        if quarantined != self.bad_expected:
            errors.append(f"quarantined {quarantined} lines, injected {self.bad_expected}")
        if not all(r["published"] for r in self.txn_results):
            errors.append(f"transactional dump not published: {self.txn_results}")
        n_snap = snapshot_read(self.spark, self.snapshot).count()
        if n_snap != self.txn_rows_expected:
            errors.append(f"snapshot holds {n_snap} rows, want {self.txn_rows_expected}")
        return errors

    def lake_roots(self) -> list[str]:
        return [self.lake, self.snapshot]

    def input_bytes(self) -> int:
        return sum(b["bytes"] for b in self.dumped.values()) + self.txn_bytes

    def layer_metrics(self) -> dict:
        return {"sources.quarantine_ratio": self.bad_expected / max(1, self.lines)}


# ---------------------------------------------------------------------------
# capture backlog
# ---------------------------------------------------------------------------

CAPTURE_KEYS = ["event_id"]
TS_FMT = "%Y-%m-%d %H:%M:%S"

#: hourly row counts, recomputed in full for every hour the
#: watermark range touches, so a partition-overwrite of that hour
#: never loses rows captured by an earlier run
HOURLY_MODEL = """
SELECT data, hora, count(*) AS n_rows
FROM capture_staged
WHERE concat(data, hora) IN (
    SELECT DISTINCT concat(data, hora) FROM capture_staged
    WHERE timestamp_captura > timestamp '{date_range_start}'
      AND timestamp_captura <= timestamp '{date_range_end}')
GROUP BY data, hora
"""


class CaptureBacklog(Part):
    """Minutely capture windows with injected fetch failures, the
    recapture spine, small-file compaction and an incremental model."""

    def __init__(self, *args):
        super().__init__(*args)
        self.windows = [
            {**w, "start": dt.datetime.fromisoformat(w["start"]),
             "end": dt.datetime.fromisoformat(w["end"])}
            for w in self.manifest["windows"]
        ]
        self.by_end = {w["end"]: w for w in self.windows}
        self.next = self.tail_from = 0
        self.recapturing = False
        self.attempts: Counter = Counter()
        self.fail_attempts = 0
        self.files_per_partition_pre = 0.0

    def _zone(self, root: str) -> dict:
        model = SqlModel(
            name="capture_hourly", sql=HOURLY_MODEL, materialization="incremental",
            path=f"{root}/hourly", partition_cols=["data", "hora"],
        )
        return {
            "staging": f"{root}/staging", "logs": f"{root}/logs",
            "runner": ModelRunner(self.spark, [model]),
            "store": WatermarkStore(self.spark, f"{root}/watermarks"),
            "hourly": f"{root}/hourly",
        }

    def fetch(self, start: dt.datetime, end: dt.datetime):
        """The capture source: one pre-generated raw-JSON window."""
        w = self.by_end[end]
        self.attempts[end] += 1
        fails = (w["fate"] == "fail_always" and not self.recapturing) or (
            w["fate"] == "fail_once" and self.attempts[end] == 1
        )
        if fails:
            self.fail_attempts += 1
            raise OSError(f"capture source unavailable for window ending {end}")
        with self.tracer.span("sources.read_json_window"):
            return self.spark.read.schema(gen.EVENT_SCHEMA).json(w["path"])

    def _capture(self, w: dict, zone: dict) -> bool:
        with self.tracer.span("flows.run_capture_window"):
            return run_capture_window(
                self.spark, self.fetch, window_start=w["start"], window_end=w["end"],
                keys=CAPTURE_KEYS, staging_path=zone["staging"], logs_path=zone["logs"],
                fetch_attempts=3, fetch_delay_s=0, _sleep=lambda _s: None,
            )

    def _recapture(self, zone: dict, first: dict, last: dict) -> int:
        self.recapturing = True
        try:
            with self.tracer.span("flows.recapture_missing"):
                return recapture_missing(
                    self.spark, self.fetch, spine_start=first["end"].strftime(TS_FMT),
                    spine_end=last["end"].strftime(TS_FMT), interval="1 minute",
                    keys=CAPTURE_KEYS, staging_path=zone["staging"],
                    logs_path=zone["logs"],
                )
        finally:
            self.recapturing = False

    def _maintain(self, zone: dict) -> dict:
        with self.tracer.span("flows.run_maintenance"):
            return run_maintenance(
                self.spark, zone["staging"], ["data", "hora"], min_files_to_compact=4
            )

    def _materialize(self, zone: dict, now: dt.datetime):
        with self.tracer.span("sources.read_staged_zone"):
            self.spark.read.parquet(zone["staging"]).createOrReplaceTempView(
                "capture_staged"
            )
        with self.tracer.span("flows.run_materialization"):
            return run_materialization(
                self.spark, zone["runner"], zone["store"], model_name="capture_hourly",
                now=now, fallback_start=gen.CAPTURE_T0,
            )

    def warm_up(self) -> None:
        """The whole capture cycle once, into the real zone, over the
        generator's first block of 3 windows (one of them failing every
        attempt, so the recapture spine covers one gap)."""
        self.zone = self._zone(f"{self.work}/capture")
        self.next = self.tail_from = 3
        for w in self.windows[: self.next]:
            self._capture(w, self.zone)
        self._recapture(self.zone, self.windows[0], self.windows[2])
        self._maintain(self.zone)
        self._materialize(self.zone, self.windows[2]["end"])
        self.attempts.clear()
        self.fail_attempts = 0

    def window(self) -> None:
        w = self.windows[self.next]
        self.log.run("capture_window", w["rows"], lambda: self._capture(w, self.zone))
        self.next += 1

    def tail(self) -> None:
        """Recapture the windows that failed since the last tail, then
        compact the staging zone and run the hourly model."""
        last = self.windows[self.next - 1]
        failed = [
            w for w in self.windows[self.tail_from: self.next]
            if w["fate"] == "fail_always"
        ]
        self.tail_from = self.next
        self.log.run("recapture", sum(w["rows"] for w in failed),
                     lambda: self._recapture(self.zone, self.windows[0], last))
        self.files_per_partition_pre = lake_walk(self.zone["staging"])["files_per_partition"]
        self.log.run("maintenance", 0, lambda: self._maintain(self.zone))
        self.log.run("materialization", 0, lambda: self._materialize(self.zone, last["end"]))

    def check(self) -> list[str]:
        errors = []
        captured = self.windows[: self.next]
        spine = time_spine(
            self.spark, captured[0]["end"].strftime(TS_FMT),
            captured[-1]["end"].strftime(TS_FMT),
        )
        gaps = find_gaps(spine, self.spark.read.parquet(self.zone["logs"]), cap=None).count()
        if gaps:
            errors.append(f"{gaps} spine windows without a success log row")
        staged = dict(
            self.spark.read.parquet(self.zone["staging"])
            .groupBy("timestamp_captura").count().collect()
        )
        for w in captured:
            if staged.get(w["end"]) != w["unique"]:
                errors.append(
                    f"window {w['end']}: {staged.get(w['end'])} staged, want {w['unique']}"
                )
        want_hourly: Counter = Counter()
        for w in captured:
            want_hourly[(w["end"].strftime("%Y-%m-%d"), w["end"].strftime("%H"))] += w["unique"]
        got_hourly = {
            (r["data"], r["hora"]): r["n_rows"]
            for r in self.spark.read.parquet(self.zone["hourly"]).collect()
        }
        if got_hourly != dict(want_hourly):
            errors.append(f"hourly model {got_hourly} != generator {dict(want_hourly)}")
        return errors

    def lake_roots(self) -> list[str]:
        return [self.zone["staging"], self.zone["logs"], self.zone["hourly"]]

    def input_bytes(self) -> int:
        return sum(w["bytes"] for w in self.windows[: self.next])

    def layer_metrics(self) -> dict:
        return {
            "sinks.files_per_partition_pre_maintenance": self.files_per_partition_pre,
            "retry.failed_fetch_attempts": self.fail_attempts,
        }


# ---------------------------------------------------------------------------
# streaming capture
# ---------------------------------------------------------------------------

class StreamCapture(Part):
    """Event files drained through the watermark-dedup capture stream,
    in availableNow runs over a fixed number of files, one file per
    trigger."""

    FILES_PER_RUN = 2

    def __init__(self, *args):
        super().__init__(*args)
        self.files = self.manifest["files"]
        self.next = 0
        self.progress: list[dict] = []
        self.mtime0 = time.time() - 7200
        self.paths = {
            k: f"{self.work}/stream/{k}" for k in ("source", "raw", "staging", "ckpt", "logs")
        }

    def _drain(self, files: list[dict]) -> list[dict]:
        """Stage ``files`` into the source directory, then run the
        capture stream until it has consumed them; return the
        progress of every micro-batch that read rows."""
        p = self.paths
        os.makedirs(p["source"], exist_ok=True)
        for f in files:
            dst = f"{p['source']}/{os.path.basename(f['path'])}"
            shutil.copyfile(f["path"], dst)
            # the file source orders new files by modification time
            idx = int(re.search(r"(\d+)\.parquet$", dst).group(1))
            os.utime(dst, (self.mtime0 + idx, self.mtime0 + idx))
        with self.tracer.span("streaming.run_capture_stream") as rec:
            source = (
                self.spark.readStream.schema(gen.EVENT_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(p["source"])
            )
            q = run_capture_stream(
                source, keys=["event_id"], event_ts_col="ts",
                raw_path=p["raw"], staging_path=p["staging"],
                checkpoint_path=p["ckpt"], log_path=p["logs"],
                watermark_delay=f"{self.manifest['watermark_minutes']} minutes",
                trigger={"availableNow": True},
            )
            if rec is not None:
                # micro-batch jobs run under the stream's own job group
                rec["groups"].append(str(q.runId))
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"capture stream failed: {q.exception()}")
        out = []
        for prog in q.recentProgress:
            d = prog if isinstance(prog, dict) else json.loads(prog.json)
            if d.get("numInputRows", 0) > 0:
                out.append(d)
        return out

    def warm_up(self) -> None:
        """Drain the first file into the real sinks; the timed drains
        restart the stream from its checkpoint."""
        self._drain(self.files[:1])
        self.next = 1

    def drain_next(self) -> None:
        """One availableNow run over the next FILES_PER_RUN files;
        each micro-batch is one op."""
        chunk = self.files[self.next: self.next + self.FILES_PER_RUN]
        self.next += len(chunk)
        for d in self._drain(chunk):
            self.progress.append(d)
            self.log.add(
                "micro_batch", d["durationMs"]["triggerExecution"] / 1e3,
                d["numInputRows"],
            )

    def check(self) -> list[str]:
        want = sum(f["unique_on_time"] for f in self.files[: self.next])
        got = self.spark.read.parquet(self.paths["raw"]).count()
        errors = []
        if got != want:
            errors.append(f"raw sink holds {got} rows, want {want}")
        if len(self.progress) != self.next - 1:
            errors.append(f"{len(self.progress)} micro-batches for {self.next - 1} timed files")
        late = sum(f["late"] for f in self.files[1: self.next])
        dropped = sum(
            s.get("numRowsDroppedByWatermark", 0)
            for d in self.progress for s in d.get("stateOperators", [])
        )
        if dropped != late:
            errors.append(f"watermark dropped {dropped} rows, {late} were late")
        return errors

    def lake_roots(self) -> list[str]:
        return [self.paths["raw"], self.paths["staging"], self.paths["logs"]]

    def input_bytes(self) -> int:
        return sum(f["bytes"] for f in self.files[: self.next])

    def layer_metrics(self) -> dict:
        if not self.progress:
            return {}

        def med(key):
            vals = sorted(d["durationMs"].get(key, 0) for d in self.progress)
            return vals[len(vals) // 2]

        state = [d["stateOperators"][0] for d in self.progress if d.get("stateOperators")]
        return {
            "streaming.batch.add_batch_ms": med("addBatch"),
            "streaming.batch.wal_commit_ms": med("walCommit"),
            "streaming.batch.query_planning_ms": med("queryPlanning"),
            "streaming.batch.latest_offset_ms": med("latestOffset"),
            "streaming.batch.trigger_ms": med("triggerExecution"),
            "streaming.state.rows_total": state[-1].get("numRowsTotal", 0) if state else 0,
            "streaming.state.memory_bytes": max(
                (s.get("memoryUsedBytes", 0) for s in state), default=0
            ),
            "streaming.state.dropped_by_watermark": sum(
                s.get("numRowsDroppedByWatermark", 0) for s in state
            ),
            "streaming.state.commit_ms": sum(s.get("commitTimeMs", 0) for s in state),
        }


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Ingest:
    """The write side: cycles of one lake-dump round and three capture
    windows, then one dump replay and the transactional dump, the
    capture tail (recapture, maintenance, materialization) and one
    streaming-capture drain."""

    def __init__(self, spark, tracer, manifest: dict, work: str, seed: int):
        self.log = OpLog(spark, tracer)
        args = (self.log, manifest, work, seed)
        self.lake, self.capture, self.stream = (
            LakeDump(*args), CaptureBacklog(*args), StreamCapture(*args)
        )
        self.parts = (self.lake, self.capture, self.stream)

    def warm_up(self) -> None:
        for p in self.parts:
            p.warm_up()

    def run(self, seconds: float) -> None:
        # nominal cost: one cycle plus the tail
        for _ in range(plan_units(seconds, 16.0)):
            self.lake.round()
            for _w in range(3):
                self.capture.window()
        self.lake.tail()
        self.capture.tail()
        self.stream.drain_next()

    def check(self) -> list[str]:
        return [e for p in self.parts for e in p.check()]

    def lake_roots(self) -> list[str]:
        return [r for p in self.parts for r in p.lake_roots()]

    def input_bytes(self) -> int:
        return sum(p.input_bytes() for p in self.parts)

    def layer_metrics(self) -> dict:
        return {k: v for p in self.parts for k, v in p.layer_metrics().items()}


#: the registered queries the mix runs; every one is checked against
#: its DuckDB oracle
QUERY_NAMES = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "j7_shipdate_range_join", "j11_asof_enrichment",
    "a3_latest_event_per_user", "w6_sessionize", "funnel_windowed_conversion",
    "a29_hll_distinct", "a4_nested_content", "text_quality_by_source",
)


def _canon(value):
    """Cell canonicalization of tests/test_oracle_parity.py."""
    if isinstance(value, float):
        return "NaN" if math.isnan(value) else repr(value + 0.0)
    if isinstance(value, (dt.datetime, dt.date)):
        return value.isoformat()
    if isinstance(value, (list, tuple)):
        return tuple(_canon(v) for v in value)
    if isinstance(value, decimal.Decimal):
        return repr(float(value))
    return value


def canon_rows(columns: list[str], rows) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


class QueryMix(Part):
    """Seeded-order passes over registered queries, each collected in
    full; outputs checked against the DuckDB oracles."""

    def __init__(self, spark, tracer, manifest: dict, work: str, seed: int):
        super().__init__(OpLog(spark, tracer), manifest, work, seed)
        self.sf_dir = manifest["tables_dir"]
        rows = manifest["table_rows"]
        # input rows of a query: the rows of every table its oracle
        # SQL reads
        self.input_rows = {
            q: sum(rows[t] for t in gen.TABLES if re.search(rf"\b{t}\b", ORACLES[q]))
            for q in QUERY_NAMES
        }
        self.results: dict[str, list] = defaultdict(list)
        self.build_s: Counter = Counter()
        self.exec_s: Counter = Counter()
        self.passes = 0

    def _query(self, name: str, keep: bool) -> None:
        t0 = time.perf_counter()
        with self.tracer.span(f"queries.{name}.build"):
            df = QUERIES[name](self.spark, self.sf_dir)
        t1 = time.perf_counter()
        with self.tracer.span(f"queries.{name}.exec"):
            rows = df.collect()
        t2 = time.perf_counter()
        if keep:
            self.results[name].append((list(df.columns), rows))
            self.build_s[name] += t1 - t0
            self.exec_s[name] += t2 - t1

    def warm_up(self) -> None:
        for name in QUERY_NAMES:
            self._query(name, keep=False)

    def run(self, seconds: float) -> None:
        # whole passes only: a partial pass would make the mix, and so
        # every figure, depend on the seed
        passes = plan_units(seconds, 15.0)
        for name in gen.query_order(QUERY_NAMES, self.seed, passes):
            self.log.run(f"queries.{name}", self.input_rows[name],
                         lambda name=name: self._query(name, keep=True))
        self.passes += passes

    def check(self) -> list[str]:
        errors = []
        con = duckdb.connect()
        try:
            for t in gen.TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
                )
            for name, outputs in self.results.items():
                res = con.execute(ORACLES[name])
                want = canon_rows([c[0] for c in res.description], res.fetchall())
                for cols, rows in outputs:
                    if canon_rows(cols, rows) != want:
                        errors.append(f"{name}: output differs from the DuckDB oracle")
        finally:
            con.close()
        return errors

    def layer_metrics(self) -> dict:
        out = {}
        for name in QUERY_NAMES:
            out[f"queries.{name}.build_s"] = self.build_s[name] / max(1, self.passes)
            out[f"queries.{name}.exec_s"] = self.exec_s[name] / max(1, self.passes)
        return out


WORKLOADS = {"ingest": Ingest, "query_mix": QueryMix}
