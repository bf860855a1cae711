#!/usr/bin/env python3
"""Benchmark entry point: one workload per invocation.

    python3 perfbench/run.py --workload ai_update --seed 1 --seconds 5 --trace 0

Run from the repository root. The invocation generates (or reuses) the
workload's seeded inputs, starts one Spark session on ``local[nproc]``,
runs the program's set-up and one cold batch, then runs warm batches in
a closed loop (one client, one batch at a time) until their summed time
reaches ``--seconds``, and checks every warm batch's outputs.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced batches, prints the per-layer metrics (medians over
the traced batches) and writes spans, per-batch counters, self time per
layer and the tracing overhead to ``.perfbench/out/``.

The last line of stdout is one JSON object:
``{"correct": bool, "attempted": int, "failed": int, "metrics": {...}}``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)

# the program first: a checkout without it fails here, before any input
# is generated or any result printed
import ai_update  # noqa: E402
import curation  # noqa: E402
import inputs  # noqa: E402
import spans  # noqa: E402
from siskin_spark.session import get_spark  # noqa: E402

# workload -> (class, input generator, generator size: DOIs for
# ai_update, index docs and vectors for curation_batch)
WORKLOADS = {
    "ai_update": (ai_update.AiUpdate, inputs.build_ai_inputs, 12_000),
    "curation_batch": (curation.CurationBatch, inputs.build_curation_inputs, 6_000),
}
KEEP_INPUTS = 8  # seeded input sets kept in the cache
DRIVER_MEM = "2g"

# metric names and units: BENCHMARK.json is their one source
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    _SPEC = json.load(_fh)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}
# spans whose duration (minus tracing-only children) is a <layer>_s metric
STAGE_SPANS = [*ai_update.SPANS, *curation.SPANS]


def process_age() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_control() -> float:
    """A fixed pure-Python loop; its time shows a drifting host."""
    t = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    return time.perf_counter() - t


def environment(work: str, cores: int) -> None:
    """Session settings read by the program's get_spark, all scratch
    inside the checkout, and the repo on the Python workers' path."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in [ROOT, os.environ.get("PYTHONPATH")] if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it and for
    every process it started (the Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = spans.descendants(os.getpid())[0] - {os.getpid()}
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in started):
        time.sleep(0.1)
    for p in started:
        with contextlib.suppress(ProcessLookupError):
            os.kill(p, signal.SIGKILL)


def batch_layer_metrics(tracer, store, batch: dict, cores: int, seen: dict, sampler) -> tuple[dict, dict]:
    """Per-layer metrics of one traced batch, and the batch's task
    seconds and plan-node counts per span name. ``seen`` holds the
    highest stage and SQL execution ids read so far and is updated."""
    run = [s for s in tracer.spans if s["run"] == batch["run"]]

    def total(sel) -> float:
        return sum(s["end"] - s["start"] for s in run if sel(s))

    store.settle()
    m, seen["stage"], stages = spans.exec_metrics(store, batch, cores, seen["stage"])
    plan, seen["exec"], plan_by_span = spans.plan_metrics(store, batch, run, seen["exec"])
    m.update(plan)
    m["exec.scratch_peak_mb"] = sampler.scratch_peak / 2**20
    m["plan.build_s"] = total(lambda s: s["name"].endswith("/plan.build"))
    m["plan.optimize_s"] = total(lambda s: s["name"].endswith("/plan.optimize"))
    for stage in STAGE_SPANS:
        own = {s["id"] for s in run if s["name"] == stage}
        # the plan.optimize children are tracing-only work
        m[f"{stage}_s"] = total(lambda s: s["id"] in own) - total(
            lambda s: s["parent"] in own and s["name"].endswith("/plan.optimize")
        )
    return m, {"task_s": spans.task_s_by_span(stages, run), "plan_nodes": plan_by_span}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    cls, build, size = WORKLOADS[args.workload]

    work = os.path.join(ROOT, ".perfbench")
    cores = len(os.sched_getaffinity(0))
    environment(work, cores)
    startup_s = process_age()
    cpu_before = cpu_control()

    t = time.perf_counter()
    cache = os.path.join(work, "inputs")
    input_dir = inputs.cached(cache, args.workload, args.seed, size, build)
    os.utime(input_dir)
    inputs.evict(cache, KEEP_INPUTS)
    gen_s = time.perf_counter() - t
    with open(os.path.join(HERE, "pins.json")) as fh:
        pins = json.load(fh)

    t = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={"spark.sql.warehouse.dir": os.path.join(work, "warehouse")},
    )
    session_s = time.perf_counter() - t
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer = spans.Tracer(enabled=False)
        wl = cls(spark, tracer, os.path.join(work, "runs", args.workload), input_dir, args.seed, pins)
        timings = {"startup_s": startup_s, "session_s": session_s, "input_gen_s": gen_s, "cpu_before": cpu_before}
        result = measure(args, spark, wl, tracer, work, cores, timings)
    finally:
        stop_spark(spark)
    # printed after the JVM has ended, so nothing can follow it on stdout
    print(json.dumps(result))
    return 0


def measure(args, spark, wl, tracer, work: str, cores: int, timings: dict) -> dict:
    """Set-up, cold batch, closed loop and checks; returns the result."""
    attempted = failed = 0
    problems: list[str] = []

    def checked() -> None:
        # each failed check fails one operation, at most the batch's
        nonlocal attempted, failed
        bad = wl.check()
        attempted += wl.ops_per_batch
        failed += min(len(bad), wl.ops_per_batch)
        problems.extend(bad)

    t = time.perf_counter()
    wl.setup()
    index_build_s = time.perf_counter() - t
    wl.prepare(0)
    t = time.perf_counter()
    wl.run()
    cold_s = time.perf_counter() - t
    setup_s = timings["startup_s"] + timings["session_s"] + index_build_s + cold_s
    wl.cleanup()

    store = spans.StatusStore(spark) if args.trace else None
    seen = {"stage": -1, "exec": -1}
    untraced: list[float] = []
    traced: list[float] = []
    layer_samples: list[dict] = []
    by_span_samples: list[dict] = []
    scratch = os.environ["SPARK_GRAFT_LOCAL_DIR"] if args.trace else None
    with spans.Sampler(scratch=scratch) as sampler:
        # closed loop: batches until their summed time reaches the
        # measuring window, and at least the workload's minimum of
        # untraced batches. Traced, the traced batches alternate with
        # untraced ones and are bracketed by them, so the warm-up trend
        # cancels out of the overhead.
        i = 0
        while not (
            len(untraced) >= max(wl.min_batches, 1 + bool(args.trace))
            and (traced or not args.trace)
            and sum(untraced) + sum(traced) >= args.seconds
        ):
            i += 1
            tracer.enabled = bool(args.trace) and i % 2 == 0
            tracer.run_id = f"{args.seed}-{i}"
            wl.prepare(i)
            if tracer.enabled:
                sampler.reset()
            sampler.active.set()
            with tracer.span("batch"):
                t = time.perf_counter()
                wl.run()
                dt = time.perf_counter() - t
            sampler.active.clear()
            (traced if tracer.enabled else untraced).append(dt)
            checked()
            if tracer.enabled:
                batch = next(s for s in tracer.spans if s["run"] == tracer.run_id and s["name"] == "batch")
                m, by_span = batch_layer_metrics(tracer, store, batch, cores, seen, sampler)
                m.update(wl.layer_metrics())
                layer_samples.append(m)
                by_span_samples.append(by_span)
            wl.cleanup()
        peak_mb = sampler.peak_kb / 1024
    tracer.enabled = False
    wl.close()
    cpu_after = cpu_control()

    run_s = statistics.median(untraced)
    e2e = {
        "run_s": run_s,
        "records_per_s": wl.records / run_s,
        "setup_s": setup_s,
        "peak_rss_mb": peak_mb,
    }
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "batches": len(untraced),
        "cold_s": cold_s,
        "index_build_s": index_build_s,
        "session_s": timings["session_s"],
        "input_gen_s": timings["input_gen_s"],
        "failed_share": failed / attempted,
        "cpu_control_s": [timings["cpu_before"], cpu_after],
        "run_s_samples": untraced,
        "outputs": wl.outputs(),
    }
    print(
        "  ".join(f"{k}={v:.4g} {END_TO_END[k]}" for k, v in e2e.items())
        + f"  (n={len(untraced)})  failed_share={failed / attempted:.4g} ratio  attempted={attempted}"
    )
    print("diagnostics " + json.dumps(summary))
    for p in problems:
        print(f"FAILED CHECK: {p}", file=sys.stderr)

    if args.trace:
        layer = {k: 0.0 for k in PER_LAYER}
        layer.update(spans.median_metrics(layer_samples))
        layer["session.start_s"] = timings["session_s"]
        layer["index.build_s"] = index_build_s if args.workload == "curation_batch" else 0.0
        layer["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
        out_dir = os.path.join(work, "out")
        os.makedirs(out_dir, exist_ok=True)
        record = {
            **summary,
            "traced_run_s_samples": traced,
            "per_layer": layer,
            "per_batch": layer_samples,
            "self_time": spans.self_times(tracer.spans),
            "by_span": by_span_samples,
            "spans": tracer.spans,
        }
        path = os.path.join(out_dir, f"trace-{args.workload}-s{args.seed}.json")
        with open(path, "w") as fh:
            json.dump(record, fh, indent=1)
        print(f"trace written to {os.path.relpath(path, ROOT)}")
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
