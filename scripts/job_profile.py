"""Round-14 job-level profiler.

Runs one declared query (warm session) and prints every Spark job it
submitted — duration, stage task-time, description — plus the GAPS
between consecutive jobs (driver-side / engine-overhead time that no
job accounts for).  This is the instrument for the streaming-replay
floor and store-build rows: it shows whether wall time sits in jobs
(plan work) or between them (commit/trigger/driver overhead).

Usage:
    python scripts/job_profile.py q315_streaming_export_manifest [--reps 2]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from ai_data_pipeline_spark.session import get_spark


def rest(url: str):
    with urllib.request.urlopen(url, timeout=15) as r:
        return json.loads(r.read().decode())


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("name")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--no-warm", action="store_true")
    args = ap.parse_args()

    spark = get_spark(
        "job-profile",
        extra_conf={
            "spark.ui.retainedJobs": "3000",
            "spark.ui.retainedStages": "6000",
        },
    )
    queries = entrymod.queries()
    sf_dir = args.sf_dir

    if not args.no_warm:
        queries["q02_broadcast_join"](spark, sf_dir).collect()
        for wn in (
            "q01_scan_filter_project", "q03_revenue_by_nation", "q08_agg_suite",
            "q12_analytic_window", "q14_global_topk",
        ):
            queries[wn](spark, sf_dir).count()
        # run the target once untimed so its own codegen is warm
        queries[args.name](spark, sf_dir).count()

    base = f"{spark.sparkContext.uiWebUrl}/api/v1/applications/{spark.sparkContext.applicationId}"

    best = None
    for rep in range(args.reps):
        if rep == args.reps - 1:  # the listing below covers the last rep only
            watermark = max((j["jobId"] for j in rest(base + "/jobs")), default=-1)
        t0 = time.perf_counter()
        n = queries[args.name](spark, sf_dir).count()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    print(f"== {args.name}: wall={best:.3f}s rows={n} (reps={args.reps}, jobs below = LAST rep)")

    jobs = [j for j in rest(base + "/jobs") if j["jobId"] > watermark]
    jobs.sort(key=lambda j: j["jobId"])
    stages = {s["stageId"]: s for s in rest(base + "/stages?status=complete")}

    def ts(s):
        # "2026-08-18T04:55:01.123GMT"
        from datetime import datetime
        return datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").timestamp()

    prev_end = None
    tot_job, tot_gap, tot_task = 0.0, 0.0, 0.0
    for j in jobs:
        st, et = ts(j["submissionTime"]), ts(j["completionTime"])
        dur = et - st
        gap = (st - prev_end) if prev_end is not None else 0.0
        prev_end = max(prev_end or et, et)
        task_ms = sum(
            stages[s]["executorRunTime"] for s in j.get("stageIds", []) if s in stages
        )
        tot_job += dur
        tot_gap += max(gap, 0.0)
        tot_task += task_ms / 1000.0
        ns = j.get("numTasks", 0)
        desc = (j.get("description") or j.get("name") or "")[:100]
        print(
            f"job {j['jobId']:>5}  dur={dur:7.3f}s  gap={max(gap,0):7.3f}s  "
            f"task={task_ms/1000.0:8.3f}s  ntasks={ns:>4}  {desc}"
        )
    print(
        f"== totals: jobs={len(jobs)}  job_time={tot_job:.3f}s  "
        f"gap_time={tot_gap:.3f}s  task_time={tot_task:.3f}s  wall(last)={dt:.3f}s"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
