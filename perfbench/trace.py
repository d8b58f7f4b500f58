"""Spans around calls into the engine, and the probes they read.

A span records name, start, end, parent and request id. When tracing is
on, each span also tags its Spark jobs with a job group of its own and,
on exit, reads from Spark's status stores: job / stage / task counts
(``SparkContext.statusTracker()``) and the SQL metrics of the executions
the span started (Python-worker start and run time, shuffle bytes
written). Counts are inclusive of child spans. Spans are kept in memory
and written as JSON lines when the run ends. When tracing is off a span
is a bare context manager that touches nothing.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager

# SQL metric display name -> (span field, kind)
SQL_METRICS = {
    "time to start Python workers": ("pyworker_start_s", "time"),
    "time to run Python workers": ("pyworker_run_s", "time"),
    "shuffle bytes written": ("shuffle_write_bytes", "size"),
}
# summed from child spans into their parent; overhead_s is the time the
# tracer itself spends in job-group calls and status-store reads
COUNTERS = ("jobs", "stages", "tasks", "overhead_s") + tuple(
    field for field, _ in SQL_METRICS.values()
)

_TIME = {"ns": 1e-9, "µs": 1e-6, "us": 1e-6, "ms": 1e-3, "s": 1.0,
         "m": 60.0, "min": 60.0, "h": 3600.0}
_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40}
_VALUE = re.compile(r"([-0-9.,]+)\s*([A-Za-zµ]*)")
# SQLPlanMetric(name,accumulatorId,metricType) as the JVM prints it
_PLAN_METRIC = re.compile(
    r"SQLPlanMetric\((" + "|".join(map(re.escape, SQL_METRICS)) + r"),(\d+),"
)


def parse_metric(text: str, kind: str) -> float:
    """Total of one formatted SQL metric, e.g. ``'total (min, med, max
    ...)\\n1.9 s (457 ms, ...)'`` -> 1.9, ``'519.8 KiB'`` -> 532275.2."""
    body = text.split("\n", 1)[-1]
    m = _VALUE.match(body.strip())
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    table = _TIME if kind == "time" else _SIZE
    return value * table.get(m.group(2), 1.0)


def _as_list(jvm, scala_seq) -> list:
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq))


class Tracer:
    """In-memory span recorder; a no-op when ``enabled`` is false."""

    def __init__(self, spark, enabled: bool, phase: str = ""):
        self.enabled = enabled
        self.phase = phase
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        if enabled:
            sc = spark.sparkContext
            self._sc = sc
            self._jvm = sc._jvm
            self._tracker = sc.statusTracker()
            self._sql = spark._jsparkSession.sharedState().statusStore()
            self._bus = sc._jsc.sc().listenerBus()

    @contextmanager
    def span(self, name: str, request: str | None = None, **tags):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "phase": self.phase,
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": request or (parent["request"] if parent else None),
            **tags,
            **{c: 0 for c in COUNTERS},
            "child_s": 0.0,
        }
        self.spans.append(rec)
        group, desc = self._group(rec)
        self._sc.setJobGroup(group, desc)
        first_exec = self._sql.executionsCount()
        self._stack.append(rec)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        rec["overhead_s"] += t0 - t_in
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            rec["end"] = rec["start"] + (t1 - t0)
            self._stack.pop()
            self._collect(rec, group, desc, first_exec)
            if parent is None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            else:
                self._sc.setJobGroup(*self._group(parent))
            rec["overhead_s"] += time.perf_counter() - t1
            if parent is not None:
                for c in COUNTERS:
                    parent[c] += rec[c]
                parent["child_s"] += rec["end"] - rec["start"]

    def _group(self, rec: dict) -> tuple[str, str]:
        """Job group id and description, unique per span in the run."""
        key = f"{self.phase}#{rec['id']}"
        return f"perfbench-{key}", f"perfbench {rec['name']} {key}"

    def _collect(self, rec: dict, group: str, desc: str, first_exec: int):
        # the status stores are fed by the asynchronous listener bus
        self._bus.waitUntilEmpty()
        for job in self._tracker.getJobIdsForGroup(group):
            info = self._tracker.getJobInfo(job)
            if info is None:
                continue
            rec["jobs"] += 1
            for stage in info.stageIds:
                sinfo = self._tracker.getStageInfo(stage)
                if sinfo is not None:
                    rec["stages"] += 1
                    rec["tasks"] += sinfo.numTasks
        n = self._sql.executionsCount() - first_exec
        if n <= 0:
            return
        for ex in _as_list(self._jvm, self._sql.executionsList(first_exec, n)):
            if ex.description() != desc:
                continue
            # one call for the plan's metric list instead of two per metric
            wanted = _PLAN_METRIC.findall(ex.metrics().toString())
            if not wanted:
                continue
            values = self._sql.executionMetrics(ex.executionId())
            for name, acc in wanted:
                text = values.get(int(acc))
                if text.isDefined():
                    field, kind = SQL_METRICS[name]
                    rec[field] += parse_metric(text.get(), kind)

    def self_s(self, rec: dict) -> float:
        return rec["end"] - rec["start"] - rec["child_s"]

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]



def write_spans(tracers, path: str) -> None:
    """All spans as JSON lines, each with its self time."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        for tracer in tracers:
            for rec in tracer.spans:
                fh.write(json.dumps({**rec, "self_s": tracer.self_s(rec)}) + "\n")


class RssSampler:
    """Peak resident set size of this process and all its descendants
    (the Spark JVM, Python workers), sampled on a background thread."""

    def __init__(self, interval_s: float = 0.2):
        self.peak_bytes = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(entry))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo += children.get(pid, [])
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except OSError:
                pass
        return total

    def sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self._interval)
