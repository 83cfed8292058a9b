"""Per-query profiling harness (guide §1: measure first).

For each named query: capture ``.explain("formatted")`` to
``plans/<round_dir>/<name>_<tag>.txt`` (``round_dir`` defaults to
``r13``), run it N times through the noop sink
(same methodology as bench.py), and report per-run wall clock plus
job/stage/task counts from the status tracker — the per-query
"how many jobs and exchanges did this really run" number that the
static plan alone cannot show (eager staging actions are invisible
there). Each run also reports the Spark jobs spent building the
query, before its result is written (schema inference, eager
staging), and the number of classes codegen compiled for it — on a
warm run the compiled-code cache should leave that at 0.

Usage:
    python scripts/profile_query.py [--tag before] [--runs 2] \
        [--plans-only] name [name ...]
    python scripts/profile_query.py --all-slow   # the round-12 worklist
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pipelines_spark.queries import QUERIES  # noqa: E402
from pipelines_spark.session import get_spark  # noqa: E402


def profile(names, tag="before", runs=2, plans_only=False, sf_dir=None, round_dir="r13"):
    sf_dir = sf_dir or os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", round_dir
    )
    os.makedirs(plans_dir, exist_ok=True)
    spark = get_spark("pipelines_spark_profile")
    sc = spark.sparkContext
    # one count per class whole-stage / expression codegen compiles
    compiled = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    QUERIES["a6_distinct_segments"](spark, sf_dir).count()  # JVM warm-up
    out = {}
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(plan)
        n_exchanges = plan.count("Exchange") - plan.count("BroadcastExchange")
        if plans_only:
            out[name] = {"exchanges": n_exchanges}
            print(f"{name}: exchanges={n_exchanges}", flush=True)
            continue
        times = []
        build_jobs = []
        compilations = []
        jobs = stages = tasks = 0
        tracker = sc.statusTracker()
        for r in range(runs):
            group = f"{name}-run{r}"
            c0 = compiled.getCount()
            sc.setJobGroup(f"{group}-build", name)
            t0 = time.perf_counter()
            # rebuild the frame per run: eager staging inside the query
            # function is part of its real cost (bench.py does the same)
            q = QUERIES[name](spark, sf_dir)
            build_ids = list(tracker.getJobIdsForGroup(f"{group}-build"))
            build_jobs.append(len(build_ids))
            sc.setJobGroup(group, name)
            q.write.format("noop").mode("overwrite").save()
            times.append(round(time.perf_counter() - t0, 3))
            compilations.append(compiled.getCount() - c0)
            job_ids = build_ids + list(tracker.getJobIdsForGroup(group))
            if r == runs - 1:
                jobs = len(job_ids)
                for jid in job_ids:
                    ji = tracker.getJobInfo(jid)
                    if ji:
                        stages += len(ji.stageIds)
                        for sid in ji.stageIds:
                            si = tracker.getStageInfo(sid)
                            if si:
                                tasks += si.numTasks
            sc.setJobGroup(f"cleanup-{name}", "cleanup")
        # release leftover staged blocks between queries (bench hygiene)
        spark.catalog.clearCache()
        for jrdd in sc._jsc.getPersistentRDDs().values():
            jrdd.unpersist(False)
        import gc

        gc.collect()
        sc._jvm.System.gc()
        out[name] = {
            "times": times,
            "best": min(times),
            "jobs_last_run": jobs,
            "stages_last_run": stages,
            "tasks_last_run": tasks,
            "build_jobs": build_jobs,
            "codegen_compilations": compilations,
            "exchanges_static": n_exchanges,
        }
        print(f"{name}: best={min(times)} times={times} jobs={jobs} "
              f"stages={stages} tasks={tasks} exch={n_exchanges} "
              f"build_jobs={build_jobs} compilations={compilations}", flush=True)
    spark.stop()
    return out


SLOW = [
    "curation_pipeline_scored", "dedup_semantic", "curation_pipeline_full",
    "dedup_containment", "curation_pipeline", "graph_modularity",
    "curation_funnel_stats", "dedup_ngram_jaccard", "text_bpe_top_tokens",
    "dedup_incremental_batch", "graph_kcore", "graph_adamic_adar",
    "graph_pagerank", "graph_khop_reach", "graph_communities",
    "graph_triangles", "embed_ivf_kmeans", "graph_hierarchy_rollup",
    "embed_pca_power_iteration", "dedup_ngram_capped", "text_tfidf_pairs",
    "a25_column_profile", "dedup_cluster_audit", "dedup_minhash_lsh",
    "text_bpe_merges", "dedup_containment_capped", "graph_assortativity",
    "dedup_clusters", "q1_pricing_summary", "top_customers_by_revenue",
]

if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--plans-only", action="store_true")
    ap.add_argument("--all-slow", action="store_true")
    ap.add_argument("--json-out", default=None)
    args = ap.parse_args()
    names = SLOW if args.all_slow else args.names
    res = profile(names, tag=args.tag, runs=args.runs, plans_only=args.plans_only)
    if args.json_out:
        with open(args.json_out, "w") as fh:
            json.dump(res, fh, indent=1)
