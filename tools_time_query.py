#!/usr/bin/env python
"""Time one or more declared queries in isolation (noop sink), mirroring
bench.py methodology. Usage: python tools_time_query.py q1 [q2 ...] [--runs=N]

Each query warms until its last three runs are within 5% of their
median (at most WARMUP_CAP runs); the output line lists the warm-up
runs and says whether that converged, so a median taken on a still
falling JVM is visible.
"""
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod  # noqa: E402
from siskin_spark.session import get_spark  # noqa: E402

WARMUP_CAP = 15


def warm(run) -> tuple[list[float], bool]:
    """Call ``run()`` until the last three wall times are within 5% of
    their median (a looser rule stopped while timed runs still fell
    25-40%), at most ``WARMUP_CAP`` times so a noisy host cannot loop
    forever. Returns the warm-up times and whether they converged."""
    wt: list[float] = []
    converged = False
    while not converged and len(wt) < WARMUP_CAP:
        w0 = time.perf_counter()
        run()
        wt.append(time.perf_counter() - w0)
        med = statistics.median(wt[-3:])
        converged = len(wt) >= 3 and all(
            abs(w - med) <= 0.05 * med for w in wt[-3:]
        )
    return wt, converged


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    runs = 5
    for a in sys.argv[1:]:
        if a.startswith("--runs="):
            runs = int(a.split("=")[1])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark = get_spark("siskin-timeq", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    comp_bean = spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()

    def jit_quiesce(max_wait=5.0, poll=0.15):
        last = comp_bean.getTotalCompilationTime()
        waited = 0.0
        while waited < max_wait:
            time.sleep(poll)
            waited += poll
            cur = comp_bean.getTotalCompilationTime()
            if cur - last < 5:
                return
            last = cur

    def materialize(df):
        df.write.format("noop").mode("overwrite").save()

    qs = entry_mod.queries()
    from scale_bench import _control_leg

    def timed_df(df) -> float:
        t0 = time.perf_counter()
        materialize(df)
        return time.perf_counter() - t0

    controls: dict = {}
    _control_leg(spark, controls, timed_df)
    print(f"jvm control: {controls['control_jvm_xxhash_s']:.2f}s")
    for name in args:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"warm {name}")
        wt, converged = warm(lambda: materialize(fn(spark, sf_dir)))
        spark._jvm.System.gc()
        jit_quiesce()
        ts = []
        spark.sparkContext.setJobDescription(f"timed {name}")
        for _ in range(runs):
            t0 = time.perf_counter()
            materialize(fn(spark, sf_dir))
            ts.append(round(time.perf_counter() - t0, 4))
            spark._jvm.System.gc()
        print(
            f"{name}: median {statistics.median(ts):.4f}  runs {ts}  "
            f"warmups {[round(w, 3) for w in wt]}  "
            f"warmup {'converged' if converged else 'NOT converged'}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
