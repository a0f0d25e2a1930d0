"""Shared machinery: spans, Spark's own counters, statistics and the run
record. Nothing here changes what the program under test does; the
workloads call the program's public functions and read Spark's status
stores from outside.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "pasardassist_spark")


# --- what a workload gets and returns -------------------------------------


@dataclass
class Context:
    spark: object
    tracer: Tracer
    seed: int
    seconds: int
    scratch: str
    started: float
    measure_start: float | None = None
    measure_cpu: tuple[int, int] = (0, 0)
    # seconds from process start to the end of each named set-up step
    phases: dict = field(default_factory=dict)

    def mark(self, step: str) -> None:
        self.phases[step] = time.time() - self.started

    def begin_measuring(self) -> None:
        """Mark the first measured operation; everything before it is
        set-up."""
        if self.measure_start is None:
            self.measure_start = time.time()
            self.measure_cpu = cpu_times()


@dataclass
class Result:
    # end-to-end metrics under their BENCHMARK.json names
    e2e: dict
    # the same figures under the workload's own names (events_per_s, ...)
    named: dict
    attempted: int
    failed: int
    correct: bool
    layer: dict = field(default_factory=dict)
    inputs: dict = field(default_factory=dict)
    samples: dict = field(default_factory=dict)
    # the raw samples behind the figures (per trigger, page, call, query)
    series: dict = field(default_factory=dict)
    checks: dict = field(default_factory=dict)


# --- spans ------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, attrs), written out when
    the run ends. Disabled, ``span`` is a no-op so the untraced run pays
    nothing. Spans opened on different threads (the streaming
    ``foreachBatch`` callback runs on its own) nest per thread."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": stack[-1]["id"] if stack else None,
            "attrs": attrs,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    def named(self, name: str, since: float = 0.0, until: float = math.inf) -> list[dict]:
        return [
            s for s in self.spans
            if s["name"] == name and s["end"] is not None and since <= s["start"] < until
        ]

    def children_ms(self, parent: dict, name: str) -> float:
        """Total duration of ``parent``'s direct children named ``name``."""
        return sum(
            ms(s) for s in self.spans
            if s["parent"] == parent["id"] and s["name"] == name and s["end"] is not None
        )

    def wrap(self, module, attr: str, name: str) -> None:
        """Re-bind ``module.attr`` so each call records a span. The program
        calls these through the module namespace, so the rebinding is seen
        without touching the program's files."""
        fn = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)


def ms(span: dict) -> float:
    return (span["end"] - span["start"]) * 1000.0


# --- statistics -------------------------------------------------------------


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in [0, 100]) of the samples."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    return xs[min(len(xs) - 1, max(0, math.ceil(q / 100.0 * len(xs)) - 1))]


def geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


# --- Spark's own counters ---------------------------------------------------


def job_ids(spark, group: str) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def job_counts(spark, jobs) -> dict:
    """Jobs, stages and tasks run for the given job ids, from the status
    tracker. Stages skipped by shuffle reuse run no tasks and are not
    counted."""
    tracker = spark.sparkContext.statusTracker()
    stages = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks, ran = 0, 0
    for s in stages:
        info = tracker.getStageInfo(s)
        if info is not None and info.numCompletedTasks + info.numFailedTasks > 0:
            ran += 1
            tasks += info.numCompletedTasks + info.numFailedTasks
    return {"jobs": len(jobs), "stages": ran, "tasks": tasks, "stage_ids": stages}


def stage_bytes(spark, stage_ids) -> dict:
    """Shuffle bytes written and bytes spilled by the given stages, from
    the application status store."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = {"shuffle_write_bytes": 0, "spill_bytes": 0}
    for s in stage_ids:
        try:
            sd = store.lastStageAttempt(s)
        except Exception:  # py4j surfaces NoSuchElementException for evicted stages
            continue
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return out


def sql_execution_ids(spark) -> list[int]:
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    return [execs.apply(i).executionId() for i in range(execs.size())]


_UNITS = {
    "ns": 1e-6, "ms": 1.0, "s": 1e3, "min": 6e4, "h": 3.6e6,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_VALUE = re.compile(r"^\s*(?:total \(min, med, max[^)]*\)\)?\s*)?([\d.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A SQL metric as the status store renders it ("11.5 s", "100,000",
    "2.3 MiB (585.9 KiB, ...)" or "total (min, med, max ...)\\n4.7 s (...)")
    to a number in ms, bytes or rows."""
    m = _VALUE.match(text.replace("\n", " "))
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def sql_node_metrics(spark, exec_ids) -> list[tuple[str, str, float]]:
    """(node name, metric name, value) for every plan node of the given SQL
    executions, from the SQL status store."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    for eid in exec_ids:
        values = store.executionMetrics(eid)
        graph = store.planGraph(eid)
        nodes = graph.allNodes()
        for k in range(nodes.size()):
            node = nodes.apply(k)
            mets = node.metrics()
            for z in range(mets.size()):
                met = mets.apply(z)
                acc = met.accumulatorId()
                if values.contains(acc):
                    out.append((node.name(), met.name(), parse_metric(values.apply(acc))))
    return out


PLAN_PHASES = ("analysis", "optimization", "planning")


def plan_phases_ms(df) -> dict[str, float]:
    """PLAN_PHASES times of an executed DataFrame, from its
    ``QueryExecution`` phase tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    return {p: phases.apply(p).durationMs() for p in PLAN_PHASES if phases.contains(p)}


# --- the run record ---------------------------------------------------------


def source_digest() -> str:
    """sha256 over the package's Python sources, path and content."""
    h = hashlib.sha256()
    for d, dirs, files in os.walk(PACKAGE):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                h.update(open(p, "rb").read())
    return h.hexdigest()[:16]


def git_revision() -> str:
    """HEAD of the checkout, read from ``.git`` without running git;
    "none" when the checkout is not a repository."""
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return "none"
    ref = open(head).read().strip()
    if ref.startswith("ref: "):
        p = os.path.join(ROOT, ".git", ref[5:])
        if os.path.exists(p):
            return open(p).read().strip()
        packed = os.path.join(ROOT, ".git", "packed-refs")
        if os.path.exists(packed):
            for line in open(packed):
                if line.strip().endswith(ref[5:]):
                    return line.split()[0]
        return "unknown"
    return ref


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat, (0, 0) where unavailable."""
    try:
        with open("/proc/stat") as fh:
            fields = [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def host_speed_ms(reps: int = 3) -> float:
    """Median time of a fixed single-threaded Python loop, a probe of the
    host's speed at that moment. On a shared host it moves by more than the
    steal share shows: the loop took about 75 ms in a quiet hour and
    100-150 ms in a slow one, at under 10% steal."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i * i % 7
        times.append((time.perf_counter() - t0) * 1000.0)
    return statistics.median(times)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def engine_info(spark) -> dict:
    jvm = spark._jvm
    import pyspark

    return {
        "pyspark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version"),
        "driver_heap_max_bytes": jvm.Runtime.getRuntime().maxMemory(),
        "driver_memory_conf": spark.conf.get("spark.driver.memory", "unset"),
        "master": spark.sparkContext.master,
    }


def write_record(records_dir: str, record: dict) -> str:
    os.makedirs(records_dir, exist_ok=True)
    name = "{workload}-seed{seed}-trace{trace}-{stamp}.json".format(
        stamp=time.strftime("%Y%m%dT%H%M%S", time.gmtime(record["started_at"])), **record
    )
    path = os.path.join(records_dir, name)
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True, default=str)
    return path


def latest_untraced(records_dir: str, workload: str, seed: int, seconds: int, digest: str) -> dict | None:
    """The newest untraced record of the same workload, seed, run length and
    program sources, for the tracing-overhead comparison."""
    if not os.path.isdir(records_dir):
        return None
    best = None
    for f in os.listdir(records_dir):
        if f.startswith(f"{workload}-seed{seed}-trace0-") and f.endswith(".json"):
            with open(os.path.join(records_dir, f)) as fh:
                rec = json.load(fh)
            if (rec.get("source_digest"), rec.get("seconds")) == (digest, seconds) and (
                best is None or rec["started_at"] > best["started_at"]
            ):
                best = rec
    return best
