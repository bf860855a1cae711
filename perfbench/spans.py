"""Spans, Spark status-store counters and plan-node counts for the
traced run, plus the process-tree samplers both runs use.

Spans are recorded by the benchmark around its own calls into the
program's public functions (the program itself is not instrumented).
Each span has a name, start, end, parent span and run id; spans stay in
memory and are written out when the invocation ends.

Spark's stage and job records, and the SQL executions with their
plans, are read from the status stores once per batch, after the batch
ends, and each stage or execution is attributed to the innermost span
whose interval holds its submission time. (The stores are readable over
Py4J although the session runs with the UI disabled.) Reading once per
batch instead of at every span boundary keeps the Py4J traffic out of
the traced spans.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import statistics
import threading
import time
from collections import Counter

# executed-plan graph node name -> per-layer counter
PLAN_NODES = {
    "Exchange": "plan.exchanges",
    "Sort": "plan.sorts",
    "SortAggregate": "plan.sort_aggregates",
    "BroadcastNestedLoopJoin": "plan.nested_loop_joins",
    "BroadcastExchange": "plan.broadcasts",
}
PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")


def plan_counts(nodes: list[str]) -> Counter:
    """Count the plan.* node kinds among an executed plan's node names."""
    out: Counter = Counter()
    for node in nodes:
        if node in PLAN_NODES:
            out[PLAN_NODES[node]] += 1
        elif PYTHON_NODE.search(node):
            out["plan.python_evals"] += 1
    return out


class Tracer:
    """Span recorder. Disabled, every method is a pass-through, so the
    untraced batches run the same benchmark code without its cost."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.run_id = ""

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(sp)
        self._stack.append(sp["id"])
        try:
            yield
        finally:
            sp["end"] = time.time()
            self._stack.pop()

    def build(self, layer: str, fn, *args, **kw):
        """Call a layer function that returns a DataFrame. Traced, the
        call is a ``plan.build`` span, and the returned plan is then
        optimized and physically planned under a ``plan.optimize`` span
        (tracing-only work: the later write plans it again)."""
        with self.span(f"{layer}/plan.build"):
            df = fn(*args, **kw)
        if self.enabled:
            with self.span(f"{layer}/plan.optimize"):
                df._jdf.queryExecution().executedPlan()
        return df


class StatusStore:
    """Stage/job records of Spark's status store, as JSON dicts."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._gw = sc._gateway
        self._bus = sc._jsc.sc().listenerBus()
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        module = self._jvm.java.lang.Class.forName(
            "com.fasterxml.jackson.module.scala.DefaultScalaModule$"
        ).getField("MODULE$").get(None)
        self._mapper = self._jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(module)

    def _json(self, obj) -> list | dict:
        return json.loads(self._mapper.writeValueAsString(obj))

    def settle(self) -> None:
        """Wait until the listeners have applied every event posted so
        far, so the stores hold the last batch's final records."""
        self._bus.waitUntilEmpty()

    def stages(self) -> list[dict]:
        empty = self._jvm.java.util.ArrayList()
        none = self._gw.new_array(self._jvm.double, 0)
        return self._json(self._store.stageList(empty, False, False, none, self._jvm.java.util.ArrayList()))

    def jobs(self) -> list[dict]:
        return self._json(self._store.jobsList(self._jvm.java.util.ArrayList()))

    def executions(self, after: int) -> list[dict]:
        """SQL executions with an id above ``after``: id, submission time
        and the node names of the executed plan. With adaptive execution
        the store holds the plan of its last update, the final plan once
        the query has ended."""
        listed = self._sql.executionsList()  # ordered by id
        out = []
        for i in reversed(range(listed.size())):
            e = listed.apply(i)
            if e.executionId() <= after:
                break
            graph = self._sql.planGraph(e.executionId()).allNodes()
            out.append({
                "id": e.executionId(),
                "submissionTime": e.submissionTime(),
                "nodes": [graph.apply(j).name() for j in range(graph.size())],
            })
        return out[::-1]

    def task_skew(self, stage: dict) -> float:
        """max / median task run time of one stage."""
        q = self._gw.new_array(self._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self._json(self._store.taskSummary(stage["stageId"], stage["attemptId"], q))
        if not summary:
            return 1.0
        med, mx = summary["executorRunTime"]
        return mx / med if med > 0 else 1.0


def _in(t_ms: float, span: dict) -> bool:
    return span["start"] * 1000 - 1 <= t_ms <= span["end"] * 1000 + 1


def owner(spans: list[dict], t_ms: float) -> dict | None:
    """Innermost span whose interval holds ``t_ms`` (epoch millis)."""
    best = None
    for sp in spans:
        if sp["end"] is not None and _in(t_ms, sp):
            if best is None or sp["start"] >= best["start"]:
                best = sp
    return best


def exec_metrics(store: StatusStore, batch: dict, cores: int, seen_stage: int) -> tuple[dict, int, list]:
    """exec.* counters of the stages and jobs submitted inside ``batch``
    (a span), the highest stage id read (so the next batch skips older
    stages), and the completed stages."""
    stages = [
        s for s in store.stages()
        if s["stageId"] > seen_stage and s.get("submissionTime") and _in(s["submissionTime"], batch)
    ]
    done = [s for s in stages if s["status"] == "COMPLETE"]
    jobs = [j for j in store.jobs() if j.get("submissionTime") and _in(j["submissionTime"], batch)]
    run_s = batch["end"] - batch["start"]
    task_s = sum(s["executorRunTime"] for s in done) / 1000
    longest = max(done, key=lambda s: s["completionTime"] - s["submissionTime"], default=None)
    m = {
        "exec.jobs": len(jobs),
        "exec.stages": len(done),
        "exec.tasks": sum(s["numCompleteTasks"] for s in done),
        "exec.task_s": task_s,
        "exec.gc_s": sum(s["jvmGcTime"] for s in done) / 1000,
        "exec.busy_share": task_s / (run_s * cores),
        "exec.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in done),
        "exec.shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in done),
        "exec.spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in done),
        "exec.task_skew": store.task_skew(longest) if longest else 1.0,
        "exec.input_bytes": sum(s["inputBytes"] for s in done),
        "exec.output_bytes": sum(s["outputBytes"] for s in done),
        "exec.result_bytes": sum(s["resultSize"] for s in done),
    }
    return m, max([seen_stage] + [s["stageId"] for s in stages]), done


def plan_metrics(store: StatusStore, batch: dict, spans: list[dict], seen_exec: int) -> tuple[dict, int, dict]:
    """plan.* node counts over the final executed plans of every SQL
    execution submitted inside ``batch`` (a span), the highest execution
    id read, and the counts per owning span name."""
    execs = store.executions(seen_exec)
    total: Counter = Counter()
    by_span: dict[str, Counter] = {}
    for e in execs:
        if not _in(e["submissionTime"], batch):
            continue
        counts = plan_counts(e["nodes"])
        total.update(counts)
        sp = owner(spans, e["submissionTime"])
        by_span.setdefault(sp["name"], Counter()).update(counts)
    m = {name: total.get(name, 0) for name in [*PLAN_NODES.values(), "plan.python_evals"]}
    return m, max([seen_exec] + [e["id"] for e in execs]), {k: dict(v) for k, v in by_span.items()}


def task_s_by_span(stages: list[dict], spans: list[dict]) -> dict[str, float]:
    """Task seconds per span name; each stage goes to the innermost
    span holding its submission time."""
    out: Counter = Counter()
    for s in stages:
        sp = owner(spans, s["submissionTime"])
        if sp is not None:
            out[sp["name"]] += s["executorRunTime"] / 1000
    return dict(out)


def self_times(spans: list[dict]) -> dict[str, dict]:
    """Per span name: total duration and self time (duration minus the
    part covered by child spans), summed over the spans given."""
    children: dict[int, float] = Counter()
    for sp in spans:
        if sp["parent"] is not None:
            children[sp["parent"]] += sp["end"] - sp["start"]
    out: dict[str, dict] = {}
    for sp in spans:
        d = sp["end"] - sp["start"]
        e = out.setdefault(sp["name"], {"total_s": 0.0, "self_s": 0.0, "count": 0})
        e["total_s"] += d
        e["self_s"] += d - children.get(sp["id"], 0.0)
        e["count"] += 1
    return out


def median_metrics(samples: list[dict]) -> dict[str, float]:
    keys = sorted({k for s in samples for k in s})
    return {k: statistics.median(s.get(k, 0) for s in samples) for k in keys}


# ---------------------------------------------------------------------
# samplers


_TICKS = os.sysconf("SC_CLK_TCK")


def descendants(root: int) -> tuple[set[int], set[int]]:
    """``root`` and every descendant process, and the subset of them
    younger than a second."""
    with open("/proc/uptime") as fh:
        now_ticks = float(fh.read().split()[0]) * _TICKS
    parent: dict[int, int] = {}
    young: set[int] = set()
    for e in os.listdir("/proc"):
        if not e.isdigit():
            continue
        try:
            with open(f"/proc/{e}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(e)] = int(fields[1])
        if now_ticks - int(fields[19]) < _TICKS:
            young.add(int(e))
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return tree, young & tree


def _tree_pss_kb(root: int) -> int:
    """Summed proportional set size of ``root`` and every descendant
    alive for at least a second. PSS, not RSS, and no process younger
    than a second: the JVM forks short-lived helpers whose pages are
    the parent's until they exec, and a sample that reads the parent
    before the fork and the child after it counts those pages twice."""
    tree, young = descendants(root)
    total = 0
    for pid in tree - young:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                continue
    return total


class Sampler:
    """Background thread sampling the process tree's memory (and, when
    ``scratch`` is given, the scratch directory's size) while
    ``active`` is set; keeps the high-water marks."""

    def __init__(self, scratch: str | None = None, period: float = 0.2):
        self.scratch = scratch
        self.period = period
        self.active = threading.Event()
        self.peak_kb = 0
        self.scratch_peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    def reset(self) -> None:
        self.peak_kb = 0
        self.scratch_peak = 0

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.period):
            if not self.active.is_set():
                continue
            self.peak_kb = max(self.peak_kb, _tree_pss_kb(me))
            if self.scratch:
                self.scratch_peak = max(self.scratch_peak, dir_bytes(self.scratch))
