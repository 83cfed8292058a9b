"""Benchmark entry point: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 15 --trace 0

Run from the repository root. The run generates its inputs from the
seed in a child process, then starts one ``local[<cpus>]`` session
through ``pipelines_spark.session.get_spark``, warms every op up,
runs the timed phase, checks the outputs, stops the session and its
JVM, deletes its scratch directory, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` enables
spans, job groups and the Spark event log and reports the per-layer
metrics instead (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))

#: every per-layer metric but the per-query ones, with its unit; a
#: traced run reports all of them (0 where the workload does not
#: exercise the layer)
PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "sources.read_with_quarantine_s": "s",
    "sources.quarantine_ratio": "ratio",
    "flows.run_dump_flow_s": "s",
    "flows.run_dump_flow_transactional_s": "s",
    "flows.run_capture_window_s": "s",
    "flows.recapture_missing_s": "s",
    "flows.run_maintenance_s": "s",
    "flows.run_materialization_s": "s",
    "streaming.run_capture_stream_s": "s",
    "retry.failed_fetch_attempts": "count",
    "self_s.sources": "s",
    "self_s.flows": "s",
    "self_s.streaming": "s",
    "self_s.queries": "s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.driver_s_per_op": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.scan_time_s": "s",
    "spark.input_bytes": "bytes",
    "spark.peak_execution_memory_bytes": "bytes",
    "sinks.output_bytes": "bytes",
    "sinks.files_written": "count",
    "sinks.task_commit_s": "s",
    "sinks.job_commit_s": "s",
    "sinks.files_per_partition": "count",
    "sinks.files_per_partition_pre_maintenance": "count",
    "sinks.stored_bytes_per_input_byte": "ratio",
    "cache.resident_rdds_max": "count",
    "streaming.batch.add_batch_ms": "ms",
    "streaming.batch.wal_commit_ms": "ms",
    "streaming.batch.query_planning_ms": "ms",
    "streaming.batch.latest_offset_ms": "ms",
    "streaming.batch.trigger_ms": "ms",
    "streaming.state.rows_total": "count",
    "streaming.state.memory_bytes": "bytes",
    "streaming.state.dropped_by_watermark": "count",
    "streaming.state.commit_ms": "ms",
    "trace.unattributed_ratio": "ratio",
    "trace.overhead_ratio": "ratio",
}


def _pin_environment(work: str) -> None:
    """Harness settings, pinned from outside the program."""
    cpus = len(os.sched_getaffinity(0))
    phys_gib = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / 2**30
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(3, int(phys_gib // 4)))}g"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    for d in ("spark-local", "tmp", "events"):
        os.makedirs(f"{work}/{d}", exist_ok=True)


def _start_session(work: str, traced: bool):
    from pipelines_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
        # a fixed young generation: the heap then grows only with
        # promoted (retained) data, not with the collector's adaptive
        # eden sizing, so peak RSS follows what the program keeps
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -Xmn512m",
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/events",
            # Spark 4 compresses event logs by default; stdlib json
            # reads only the plain form
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def hd_median(xs: list[float]) -> float:
    """Harrell–Davis estimate of the median of ``xs``.

    A weighted mean of the order statistics, with weights from the
    Beta((n+1)/2, (n+1)/2) distribution. The ops of a run are of a
    dozen kinds; the sample median jumps whenever two kinds near the
    middle swap places, while this estimate moves smoothly.
    """
    xs = sorted(xs)
    n = len(xs)
    a = (n + 1) / 2
    log_norm = math.lgamma(2 * a) - 2 * math.lgamma(a)
    steps = 200  # midpoint-rule steps per order statistic
    weights = []
    for i in range(n):
        w = 0.0
        for k in range(steps):
            t = (i + (k + 0.5) / steps) / n
            w += math.exp(log_norm + (a - 1) * (math.log(t) + math.log(1 - t)))
        weights.append(w)
    return sum(w * x for w, x in zip(weights, xs)) / sum(weights)


def run(args) -> dict:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "pipelines_spark", "session.py")):
        raise SystemExit("perfbench: run from the repository root (pipelines_spark/ not found)")
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _pin_environment(work)
    traced = bool(args.trace)
    spark = None
    try:
        # inputs are generated in a child process that has ended before
        # set-up starts: generation never counts towards this process's
        # peak RSS, and never shares the cores with the set-up
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), args.workload,
             str(args.seed), f"{work}/inputs"],
            check=True, timeout=120,
        )
        with open(f"{work}/inputs/manifest.json") as fh:
            manifest = json.load(fh)
        _log(f"inputs generated for seed {args.seed}")
        # set-up starts here: importing the program is part of it
        t0 = time.perf_counter()
        from spans import (
            Tracer, cpu_counters, lake_walk, parse_event_log, peak_rss_mb, span_report,
        )
        from workloads import QUERY_NAMES, WORKLOADS

        # spans are recorded in the timed phase of a traced run only
        tracer = Tracer(False)
        s0 = time.perf_counter()
        spark = _start_session(work, traced)
        session_s = time.perf_counter() - s0
        tracer.bind(spark)
        jvm_pid = spark.sparkContext._gateway.proc.pid
        wl = WORKLOADS[args.workload](spark, tracer, manifest, work, args.seed)
        wl.warm_up()
        setup_s = time.perf_counter() - t0
        _log(f"session {session_s:.2f} s, set-up {setup_s:.2f} s")

        overhead_ratio = None
        if traced:
            # the same work untraced first: traced wall per op over
            # untraced wall per op is the tracing overhead
            n0 = len(wl.log.ops)
            c0 = time.perf_counter()
            wl.run(args.seconds)
            calib_per_op = (time.perf_counter() - c0) / max(1, len(wl.log.ops) - n0)
            tracer.enabled = True
        n0 = len(wl.log.ops)
        cpu0, steal0 = cpu_counters(jvm_pid)
        t1 = time.perf_counter()
        wl.run(args.seconds)
        wall = time.perf_counter() - t1
        cpu1, steal1 = cpu_counters(jvm_pid)
        ops = wl.log.ops[n0:]
        rss_mb = peak_rss_mb(jvm_pid)
        if traced:
            overhead_ratio = (wall / max(1, len(ops))) / calib_per_op

        _log(f"timed phase {wall:.2f} s (driver CPU {cpu1 - cpu0:.1f} s, host steal "
             f"{steal1 - steal0:.1f} vCPU-s), {len(ops)} ops: " + ", ".join(
            f"{o['kind']} {o['seconds']:.3f}" for o in ops))
        c0 = time.perf_counter()
        errors = wl.check()
        walks = [lake_walk(r) for r in wl.lake_roots()]
        stored = sum(w["bytes"] for w in walks)
        files_per_partition = sum(w["leaf_files"] for w in walks) / max(
            1, sum(w["leaves"] for w in walks)
        )
        c1 = time.perf_counter()
        _stop_session(spark)
        spark = None
        _log(f"outputs checked in {c1 - c0:.2f} s, session stopped in "
             f"{time.perf_counter() - c1:.2f} s")

        result = {
            "correct": not errors,
            "attempted": len(ops),
            "failed": min(len(ops), len(errors)),
        }
        for e in errors[:20]:
            print(f"perfbench: check failed: {e}", file=sys.stderr)
        if not traced:
            result["metrics"] = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "rows_per_s": {"value": sum(o["rows"] for o in ops) / wall, "unit": "1/s"},
                "op_p50_s": {"value": hd_median([o["seconds"] for o in ops]), "unit": "s"},
                "peak_rss_mb": {"value": rss_mb, "unit": "MB"},
            }
            return result

        rep = span_report(tracer, parse_event_log(f"{work}/events"), wall, len(ops))
        sql, tot = rep["sql"], rep["totals"]
        values = {
            "session.get_spark_s": session_s,
            "self_s.sources": rep["self_s"].get("sources", 0.0),
            "self_s.flows": rep["self_s"].get("flows", 0.0),
            "self_s.streaming": rep["self_s"].get("streaming", 0.0),
            "self_s.queries": rep["self_s"].get("queries", 0.0),
            "spark.jobs_per_op": rep["jobs_per_op"],
            "spark.stages_per_op": rep["stages_per_op"],
            "spark.tasks_per_op": rep["tasks_per_op"],
            "spark.driver_s_per_op": rep["driver_s_per_op"],
            "spark.executor_run_s": tot.get("executor_run_s", 0.0),
            "spark.executor_cpu_s": tot.get("executor_cpu_s", 0.0),
            "spark.gc_s": tot.get("gc_s", 0.0),
            "spark.shuffle_write_bytes": tot.get("shuffle_write_bytes", 0),
            "spark.shuffle_read_bytes": tot.get("shuffle_read_bytes", 0),
            "spark.spill_bytes": tot.get("spill_bytes", 0) + sql.get("spill size", 0),
            "spark.scan_time_s": sql.get("scan time", 0.0),
            "spark.input_bytes": tot.get("input_bytes", 0),
            "spark.peak_execution_memory_bytes": rep["peak_execution_memory_bytes"],
            "sinks.output_bytes": sql.get("written output", 0),
            "sinks.files_written": sql.get("number of written files", 0),
            "sinks.task_commit_s": sql.get("task commit time", 0.0),
            "sinks.job_commit_s": sql.get("job commit time", 0.0),
            "sinks.files_per_partition": files_per_partition,
            "sinks.stored_bytes_per_input_byte": stored / max(1, wl.input_bytes()),
            "cache.resident_rdds_max": wl.log.resident_rdds_max,
            "trace.unattributed_ratio": rep["unattributed_ratio"],
            "trace.overhead_ratio": overhead_ratio,
        }
        for name in (
            "sources.read_with_quarantine", "flows.run_dump_flow",
            "flows.run_dump_flow_transactional", "flows.run_capture_window",
            "flows.recapture_missing", "flows.run_maintenance",
            "flows.run_materialization", "streaming.run_capture_stream",
        ):
            values[f"{name}_s"] = rep["by_name_s"].get(name, 0.0)
        values.update(wl.layer_metrics())
        units = dict(PER_LAYER_UNITS)
        for name in QUERY_NAMES:
            units[f"queries.{name}.build_s"] = units[f"queries.{name}.exec_s"] = "s"
        result["metrics"] = {
            k: {"value": float(values.get(k) or 0.0), "unit": unit}
            for k, unit in units.items()
        }
        tracer.write(f"{root}/.perfbench_work/spans-{args.workload}-{args.seed}.json")
        return result
    finally:
        if spark is not None:
            _stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["ingest", "query_mix"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    result = run(p.parse_args())
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
