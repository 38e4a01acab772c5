"""Spans, Spark status-store counters and process-tree memory sampling.

Spans are recorded by the benchmark around each call into a layer (the
program itself is not instrumented).  They stay in memory and are written
once, at exit.  Counters come from Spark's in-process status stores, which
work with the UI disabled: ``AppStatusStore`` for per-stage task metrics and
``SQLAppStatusStore`` for SQL metrics such as scan time and Python worker
time.  Both are read per job group, so they attribute to the op that ran.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    name: str
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder.  ``enabled=False`` makes every call a no-op
    apart from the clock reads the benchmark needs anyway."""

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def span(self, layer: str, name: str = "") -> _SpanCtx:
        return _SpanCtx(self, layer, name)

    def _open(self, layer: str, name: str) -> Span:
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), parent, layer, name, time.perf_counter())
        if self.enabled:
            self.spans.append(sp)
            self._stack.append(sp.id)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        if self.enabled:
            self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp)) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, layer: str, name: str):
        self.tracer, self.layer, self.name = tracer, layer, name

    def __enter__(self) -> Span:
        self.sp = self.tracer._open(self.layer, self.name)
        return self.sp

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.sp)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span: its duration minus the part of its interval that
    its child spans cover (children are clipped to the parent and merged,
    so overlapping children are not subtracted twice)."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for sp in spans:
        if sp.parent is not None:
            kids[sp.parent].append(sp)
    out = {}
    for sp in spans:
        covered, cur_s, cur_e = 0.0, None, None
        for c in sorted(kids[sp.id], key=lambda c: c.start):
            s, e = max(c.start, sp.start), min(c.end, sp.end)
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[sp.id] = sp.dur - covered
    return out


# ------------------------------------------------------------ status store

#: StageData getters summed per op, by counter name
_STAGE_FIELDS = {
    "tasks": "numTasks",
    "tasks_failed": "numFailedTasks",
    "task_run_ms": "executorRunTime",
    "task_cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "input_records": "inputRecords",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_fetch_wait_ms": "shuffleFetchWaitTime",
    "spill_mem_bytes": "memoryBytesSpilled",
    "spill_disk_bytes": "diskBytesSpilled",
}

#: SQL metric name -> counter name (timings are parsed to seconds)
_SQL_METRICS = {
    "scan time": "scan_time_s",
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_start_s",
}

_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_TOTAL_RE = re.compile(r"([0-9.]+)\s*(ns|ms|s|min|m|h)\b")


def parse_sql_timing(text: str) -> float:
    """Seconds from a formatted SQL timing metric: either ``'241 ms'`` or
    ``'total (min, med, max ...)\\n3.3 s (814 ms, ...)'`` (the total)."""
    line = text.split("\n", 1)[-1] if "\n" in text else text
    m = _TOTAL_RE.match(line.strip())
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


class StatusReader:
    """Reads per-job-group counters from the live status stores."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.tracker = self.sc.statusTracker()
        self._empty = self.sc._gateway.new_array(self.jvm.double, 0)
        self._sql_seen = int(self.sql.executionsCount())

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.tracker.getJobIdsForGroup(group))

    def counters(self, group: str) -> dict[str, float]:
        """Counters of every job in ``group`` and of the SQL executions that
        ran them (executions are read once each, in arrival order)."""
        jobs = self.job_ids(group)
        c: dict[str, float] = defaultdict(float)
        c["jobs"] = len(jobs)
        stages = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        for s in stages:
            seq = self.store.stageData(s, False, self.jvm.java.util.ArrayList(), False,
                                       self._empty)
            for i in range(seq.size()):
                sd = seq.apply(i)
                if sd.status().toString() == "SKIPPED":
                    continue
                c["stages"] += 1
                for name, getter in _STAGE_FIELDS.items():
                    c[name] += float(getattr(sd, getter)())
        self._sql(set(jobs), c)
        return dict(c)

    def _sql(self, jobs: set[int], c: dict[str, float]) -> None:
        n = int(self.sql.executionsCount())
        if n <= self._sql_seen or not jobs:
            self._sql_seen = max(self._sql_seen, n)
            return
        execs = self.sql.executionsList(self._sql_seen, n - self._sql_seen)
        self._sql_seen = n
        for i in range(execs.size()):
            x = execs.apply(i)
            if not jobs & _job_keys(x.jobs().keySet().toString()):
                continue
            ids = {}
            for m in re.finditer(r"SQLPlanMetric\((.*?),(\d+),(\w+)\)", x.metrics().toString()):
                if m.group(1) in _SQL_METRICS:
                    ids[m.group(2)] = _SQL_METRICS[m.group(1)]
            if not ids:
                continue
            vals = self.sql.executionMetrics(x.executionId()).toString()
            for m in re.finditer(r"(\d+) -> (.*?)(?=, \d+ -> |\)$)", vals, re.S):
                if m.group(1) in ids:
                    c[ids[m.group(1)]] += parse_sql_timing(m.group(2))


def _job_keys(text: str) -> set[int]:
    return {int(x) for x in re.findall(r"\d+", text)}


# ------------------------------------------------------------------ memory


def proc_parents() -> dict[int, int]:
    """pid -> parent pid for every process visible in /proc."""
    parents: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parents[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return parents


def descendants(root: int) -> set[int]:
    children: dict[int, list[int]] = defaultdict(list)
    for pid, pp in proc_parents().items():
        children[pp].append(pid)
    out, frontier = set(), [root]
    while frontier:
        for pid in children[frontier.pop()]:
            if pid not in out:
                out.add(pid)
                frontier.append(pid)
    return out


def tree_pss_bytes(root: int) -> int:
    """Proportional set size of ``root`` and all its descendants, from
    /proc.  PSS splits each shared page between the processes mapping it,
    so forked Python workers are not counted once per fork (a plain RSS
    sum counts the pages they share with their parent again for each)."""
    total = 0
    for pid in descendants(root) | {root}:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total


class MemSampler:
    """Samples the process tree's PSS on a background thread while
    ``active`` is set; ``take_peak`` returns the largest sample since the
    previous call.  One sample reads every process's ``stat`` and each
    tree member's ``smaps_rollup``, about 40 ms of CPU with a 2 GB JVM, so
    the default interval keeps the sampler under 5% of one core."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.active = threading.Event()
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> MemSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def take_peak(self) -> int:
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.wait(self.interval):
            if self.active.is_set():
                pss = tree_pss_bytes(pid)
                with self._lock:
                    self._peak = max(self._peak, pss)
