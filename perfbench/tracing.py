"""Spans recorded around the benchmark's own calls into each layer, the
process-tree memory sampler, and readers for Spark's own metric stores
(QueryPlanningTracker, the status store, StreamingQuery progress).

Nothing here patches the program except `wrap_load_table`, which the
traced batch run uses to time `tables.load_table` as every operator
module sees it, and undoes afterwards.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import re
import sys
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    request: str | None


class Tracer:
    """In-memory span log. Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            self.spans.append(Span(sid, name, start, end, parent, request))

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part its children
        cover (children of one span never overlap: they run on one thread)."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child_time.get(s.id, 0.0)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


@contextlib.contextmanager
def wrap_load_table(tracer: Tracer):
    """Route every `load_table` name bound in an open_pulsar_spark module
    through a span, then restore the originals."""
    from open_pulsar_spark import tables

    original = tables.load_table

    def traced(spark, sf_dir, name):
        with tracer.span("load_table", request=name):
            return original(spark, sf_dir, name)

    patched = [
        m
        for n, m in list(sys.modules.items())
        if n.startswith("open_pulsar_spark") and getattr(m, "load_table", None) is original
    ]
    for m in patched:
        m.load_table = traced
    try:
        yield
    finally:
        for m in patched:
            m.load_table = original


def _tree_rss_bytes(root: int) -> int:
    """Summed RSS of `root` and all its descendants (Linux /proc)."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
        rss[int(d)] = pages * page
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total


RSS_PERIOD_S = 0.25


class RssSampler:
    """Background thread sampling the process tree's RSS; keeps the peak."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
            self._stop.wait(RSS_PERIOD_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# ---- Spark metric stores (py4j) -------------------------------------------

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_size_metric(text: str) -> float:
    """Bytes from a formatted SQL size metric. A single-task metric is
    '12.3 KiB'; a multi-task one is 'total (min, med, max ...)\\n12.3 KiB (...)'."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = re.match(r"\s*([0-9.,]+)\s*(B|KiB|MiB|GiB|TiB)", body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)]


def planning_phases_ms(df) -> dict[str, float]:
    """QueryPlanningTracker phase durations (ms) of an executed DataFrame."""
    phases = df._jdf.queryExecution().tracker().phases()
    return {str(kv._1()): float(kv._2().durationMs()) for kv in _scala_list(phases)}


def _scala_list(seq) -> list:
    it = seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


class StatusProbe:
    """Reads job/stage/SQL-execution metrics from the status stores,
    limited to work started after the probe's mark()."""

    def __init__(self, spark):
        self.spark = spark
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = spark.sparkContext._gateway.new_array(spark._jvm.double, 0)
        self.mark()

    def _stages(self) -> list:
        return _scala_list(self.store.stageList(None, False, False, self._no_quantiles, None))

    def _all_job_ids(self) -> set[int]:
        return {int(j.jobId()) for j in _scala_list(self.store.jobsList(None))}

    def mark(self) -> None:
        self.jobs_before = self._all_job_ids()
        self.stages_before = {int(s.stageId()) for s in self._stages()}
        self.exec_before = {
            int(e.executionId()) for e in _scala_list(self.sql_store.executionsList())
        }

    def new_job_count(self) -> int:
        return len(self._all_job_ids() - self.jobs_before)

    def collect(self) -> dict[str, float]:
        jobs = self._all_job_ids() - self.jobs_before
        stages = [
            s for s in self._stages()
            if int(s.stageId()) not in self.stages_before
        ]
        out = {
            "jobs": float(len(jobs)),
            "stages": float(len(stages)),
            "tasks": float(sum(int(s.numCompleteTasks()) for s in stages)),
            "task_s": sum(int(s.executorRunTime()) for s in stages) / 1000.0,
            "shuffle_read_bytes": float(
                sum(int(s.shuffleRemoteBytesRead()) + int(s.shuffleLocalBytesRead()) for s in stages)
            ),
            "shuffle_write_bytes": float(sum(int(s.shuffleWriteBytes()) for s in stages)),
            "spill_bytes": float(
                sum(int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled()) for s in stages)
            ),
        }
        py = 0.0
        for e in _scala_list(self.sql_store.executionsList()):
            if int(e.executionId()) in self.exec_before:
                continue
            wanted = {
                int(m.accumulatorId())
                for m in _scala_list(e.metrics())
                if m.name() in ("data sent to Python workers", "data returned from Python workers")
            }
            if not wanted:
                continue
            for kv in _scala_list(self.sql_store.executionMetrics(e.executionId())):
                if int(kv._1()) in wanted:
                    py += parse_size_metric(kv._2())
        out["python_bytes"] = py
        return out
