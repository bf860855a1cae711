#!/usr/bin/env python
"""Profile declared queries: per-pass wall time split into plan-build
(construction), physical planning, and execution; job count per run;
and the per-job timeline of the last run (job id, offset from the
first submission, duration or ``running``, tasks, stages, job
description) — shows which jobs serialize and which overlap.
Usage: python tools_profile_query.py q1 [q2 ...] [--runs=N]

Each query warms with the converging rule of ``tools_time_query.warm``
before the measured runs.
"""
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod  # noqa: E402
from siskin_spark.session import get_spark  # noqa: E402
from tools_time_query import warm  # noqa: E402


def job_timeline(spark, group: str) -> list[str]:
    """One line per job of ``group`` from the status store (works with
    the UI disabled), in job-id order."""
    store = spark._jsparkSession.sparkContext().statusStore()
    it = store.jobsList(None).iterator()
    jobs = []
    while it.hasNext():
        j = it.next()
        if j.jobGroup().isDefined() and j.jobGroup().get() == group:
            jobs.append(j)
    jobs.sort(key=lambda j: j.jobId())
    if not jobs:
        return []
    base = min(j.submissionTime().get().getTime() for j in jobs)
    lines = []
    for j in jobs:
        sub = j.submissionTime().get().getTime()
        dur = (
            f"{(j.completionTime().get().getTime() - sub) / 1000.0:6.3f}s"
            if j.completionTime().isDefined()
            else "running"
        )
        desc = j.description().get() if j.description().isDefined() else j.name()
        lines.append(
            f"  job {j.jobId()}: +{(sub - base) / 1000.0:7.3f}s {dur:>8}  "
            f"{j.numTasks()} tasks, {j.stageIds().size()} stages  {desc}"
        )
    return lines


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    runs = 3
    for a in sys.argv[1:]:
        if a.startswith("--runs="):
            runs = int(a.split("=")[1])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark = get_spark("siskin-prof", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def materialize(df):
        df.write.format("noop").mode("overwrite").save()

    qs = entry_mod.queries()
    for name in args:
        fn = qs[name]
        wt, converged = warm(lambda: materialize(fn(spark, sf_dir)))
        spark._jvm.System.gc()
        build_ts, phys_ts, exec_ts, tot_ts, njobs = [], [], [], [], []
        for r in range(runs):
            sc.setJobGroup(f"prof-{name}-{r}", name)
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            # physical planning cost of a FRESH QueryExecution over the
            # same logical plan (what each write action pays)
            clone = df.select("*")
            _ = clone._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            materialize(df)
            t3 = time.perf_counter()
            jobs = tracker.getJobIdsForGroup(f"prof-{name}-{r}")
            build_ts.append(t1 - t0)
            phys_ts.append(t2 - t1)
            exec_ts.append(t3 - t2)
            tot_ts.append(t3 - t0)
            njobs.append(len(jobs))
            spark._jvm.System.gc()
        sc.setJobGroup(None, None)
        print(
            f"{name}: total {statistics.median(tot_ts):.3f}  "
            f"build {statistics.median(build_ts):.3f}  "
            f"plan {statistics.median(phys_ts):.3f}  "
            f"exec {statistics.median(exec_ts):.3f}  "
            f"jobs {njobs}  warmups {len(wt)} "
            f"({'converged' if converged else 'NOT converged'})"
        )
        for line in job_timeline(spark, f"prof-{name}-{runs - 1}"):
            print(line)
    spark.stop()


if __name__ == "__main__":
    main()
