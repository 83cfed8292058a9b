"""Spans, Spark event-log attribution and resource probes.

Spans are recorded from the benchmark's own files around each call
into a layer's public function; the program itself is not touched.
In a traced run each span id is set as the Spark job group, so every
job the call starts is attributed to the innermost open span, and
Spark's uncompressed event log is parsed after the session stops to
attach task and SQL metrics to those spans.
"""

from __future__ import annotations

import glob
import json
import os
import resource
import time

from collections import defaultdict
from contextlib import contextmanager

#: SQL-metric names summed per span (from task accumulables and
#: driver accumulator updates); values normalized to seconds / bytes
SQL_METRICS = (
    "scan time",
    "task commit time",
    "job commit time",
    "spill size",
    "written output",
    "number of written files",
)


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = None

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, op: int | None = None):
        """Record ``name`` (``<layer>.<function>``) around the block.

        Yields the span record (or None when disabled); a caller may
        add ``groups``: extra Spark job-group ids (a streaming run id)
        whose jobs belong to this span.
        """
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"span-{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent or {}).get("op"),
            "start": time.time(),
            "end": None,
            "groups": [],
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if self._sc is not None:
            self._sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._sc is not None:
                if parent is not None:
                    self._sc.setJobGroup(parent["id"], parent["name"])
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def _plan_metrics(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (m["name"], m["metricType"])
    for child in node.get("children", []):
        _plan_metrics(child, out)


def _scaled(kind: str, value: float) -> float:
    """Seconds for timing metrics, raw units otherwise."""
    if kind == "timing":
        return value / 1e3
    if kind == "nsTiming":
        return value / 1e9
    return value


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Aggregate an uncompressed event log per job group.

    Returns {group: {"jobs": [(start_s, end_s)], "stages", "tasks",
    "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "input_bytes",
    "peak_execution_memory_bytes", "sql": {metric: value}}}.
    """
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))) + sorted(
        p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)
    ):
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())

    metric_kind: dict[int, tuple[str, str]] = {}
    exec_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_times: dict[int, list] = {}
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(lambda: {
        "jobs": [], "stages": 0, "tasks": 0, "executor_run_s": 0.0,
        "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
        "shuffle_read_bytes": 0, "spill_bytes": 0, "input_bytes": 0,
        "peak_execution_memory_bytes": 0, "sql": defaultdict(float),
    })

    for e in events:
        kind = e["Event"]
        if kind.endswith("SparkListenerSQLExecutionStart"):
            _plan_metrics(e["sparkPlanInfo"], metric_kind)
            exec_group[e["executionId"]] = e.get("jobGroupId") or ""
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_metrics(e["sparkPlanInfo"], metric_kind)
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            job_group[e["Job ID"]] = group
            job_times[e["Job ID"]] = [e["Submission Time"] / 1e3, None]
            for sid in e["Stage IDs"]:
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd":
            job_times[e["Job ID"]][1] = e["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            groups[stage_group.get(info["Stage ID"], "")]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            g = groups[stage_group.get(e["Stage ID"], "")]
            tm = e.get("Task Metrics") or {}
            g["tasks"] += 1
            g["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
            g["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            sw = tm.get("Shuffle Write Metrics", {})
            sr = tm.get("Shuffle Read Metrics", {})
            g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            g["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0
            )
            g["input_bytes"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
            g["peak_execution_memory_bytes"] = max(
                g["peak_execution_memory_bytes"], tm.get("Peak Execution Memory", 0)
            )
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                name = acc.get("Name")
                if acc.get("Metadata") == "sql" and name in SQL_METRICS:
                    mk = metric_kind.get(acc["ID"], (name, "sum"))[1]
                    g["sql"][name] += _scaled(mk, float(acc.get("Update") or 0))
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            g = groups[exec_group.get(e["executionId"], "")]
            for acc_id, value in e["accumUpdates"]:
                name, mk = metric_kind.get(acc_id, ("", "sum"))
                if name in SQL_METRICS:
                    g["sql"][name] += _scaled(mk, float(value))

    for job_id, (start, end) in job_times.items():
        if end is not None:
            groups[job_group[job_id]]["jobs"].append((start, end))
    return groups


def _union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def span_report(
    tracer: Tracer, groups: dict[str, dict], timed_wall: float, n_ops: int
) -> dict:
    """Per-layer figures for the spans of the timed phase.

    Self time of a span is its duration minus the part its child
    spans cover; it is summed per layer (the span-name prefix).
    """
    spans = tracer.spans
    children: dict[str, list] = defaultdict(list)
    for s in spans:
        if s["parent"]:
            children[s["parent"]].append(s)
    self_by_layer: dict[str, float] = defaultdict(float)
    by_name: dict[str, float] = defaultdict(float)
    for s in spans:
        dur = s["end"] - s["start"]
        covered = _union_length(
            [(c["start"], c["end"]) for c in children[s["id"]]], s["start"], s["end"]
        )
        self_by_layer[s["name"].split(".", 1)[0]] += dur - covered
        by_name[s["name"]] += dur
    top = [s for s in spans if not s["parent"]]
    attributed = sum(s["end"] - s["start"] for s in top)

    totals: dict[str, float] = defaultdict(float)
    sql: dict[str, float] = defaultdict(float)
    n_jobs = 0
    peak_mem = 0
    driver_s = 0.0
    for s in top:
        tree = [s]
        i = 0
        while i < len(tree):
            tree.extend(children[tree[i]["id"]])
            i += 1
        jobs = []
        for node in tree:
            for gid in [node["id"], *node["groups"]]:
                g = groups.get(gid)
                if g is None:
                    continue
                jobs.extend(g["jobs"])
                for k in ("stages", "tasks", "executor_run_s", "executor_cpu_s",
                          "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
                          "spill_bytes", "input_bytes"):
                    totals[k] += g[k]
                for k, v in g["sql"].items():
                    sql[k] += v
                peak_mem = max(peak_mem, g["peak_execution_memory_bytes"])
        n_jobs += len(jobs)
        driver_s += (s["end"] - s["start"]) - _union_length(jobs, s["start"], s["end"])
    n_ops = max(1, n_ops)
    return {
        "by_name_s": dict(by_name),
        "self_s": dict(self_by_layer),
        "unattributed_ratio": max(0.0, timed_wall - attributed) / timed_wall,
        "jobs_per_op": n_jobs / n_ops,
        "stages_per_op": totals["stages"] / n_ops,
        "tasks_per_op": totals["tasks"] / n_ops,
        "driver_s_per_op": driver_s / n_ops,
        "totals": dict(totals),
        "sql": dict(sql),
        "peak_execution_memory_bytes": peak_mem,
    }


# ---------------------------------------------------------------------------
# resource probes
# ---------------------------------------------------------------------------


def cpu_counters(jvm_pid: int) -> tuple[float, float]:
    """(CPU seconds used so far by the driver JVM and this process,
    CPU seconds the host has stolen from this machine's vCPUs)."""
    tick = os.sysconf("SC_CLK_TCK")
    with open(f"/proc/{jvm_pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    t = os.times()
    used = (int(fields[11]) + int(fields[12])) / tick + t.user + t.system
    with open("/proc/stat") as fh:
        steal = int(fh.readline().split()[8]) / tick
    return used, steal


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Driver JVM VmHWM plus this process's peak RSS, in MiB."""
    total_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    if jvm_pid:
        with open(f"/proc/{jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def lake_walk(root: str) -> dict:
    """Bytes and data files under ``root``, and the leaf directories
    (partitions) holding data files; hidden ``_``/``.`` entries are
    skipped."""
    n_bytes = n_files = 0
    leaves = []
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        data = [f for f in filenames if not f.startswith(("_", "."))]
        n_files += len(data)
        n_bytes += sum(os.path.getsize(os.path.join(dirpath, f)) for f in data)
        if data and not dirnames:
            leaves.append(len(data))
    return {
        "bytes": n_bytes,
        "files": n_files,
        "leaves": len(leaves),
        "leaf_files": sum(leaves),
        "files_per_partition": (sum(leaves) / len(leaves)) if leaves else 0.0,
    }
