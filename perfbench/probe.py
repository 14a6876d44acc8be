"""Measurement from outside the engine: process-tree CPU and memory,
Spark status-store deltas, JVM GC time, and trace spans.

Nothing here patches the package. CPU and memory come from ``/proc``;
Spark counters come from the driver JVM's status store through the
public py4j gateway; spans wrap the benchmark's own calls into each
layer.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root: int, exclude: frozenset[int] = frozenset()) -> list[int]:
    """``root`` and its descendants, minus the subtrees under ``exclude``."""
    kids, out, todo = _children(), [], [root]
    while todo:
        p = todo.pop()
        if p in exclude:
            continue
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _stat(pid: int) -> tuple[float, int]:
    """(CPU seconds including reaped children, resident bytes)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0, 0
    cpu = sum(int(x) for x in fields[11:15]) / _TICK  # utime stime cutime cstime
    return cpu, int(fields[21]) * _PAGE


class TreeMeter:
    """CPU seconds and peak resident memory of this process tree (the
    bench, the JVM it launched and the JVM's Python workers), sampled
    by a background thread. A process that exits inside the window is
    still counted: its parent's ``cutime`` takes over its CPU."""

    INTERVAL_S = 0.1

    def __init__(self, exclude: frozenset[int] = frozenset()) -> None:
        self.exclude = exclude
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.peak_rss = 0
        self.cpu_s = 0.0

    def _sample(self) -> tuple[float, int]:
        cpu = rss = 0
        for pid in process_tree(os.getpid(), self.exclude):
            c, r = _stat(pid)
            cpu += c
            rss += r
        return cpu, rss

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            self.peak_rss = max(self.peak_rss, self._sample()[1])

    def __enter__(self) -> "TreeMeter":
        self._cpu0, rss = self._sample()
        self.peak_rss = rss
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        cpu, rss = self._sample()
        self._stop.set()
        self._thread.join()
        self.cpu_s = cpu - self._cpu0
        self.peak_rss = max(self.peak_rss, rss)


# --- Spark counters ----------------------------------------------------------
_STAGE_FIELDS = {
    "executorCpuTime": "executor_cpu_s",  # ns
    "shuffleWriteBytes": "shuffle_write_bytes",
    "shuffleWriteRecords": "shuffle_write_records",
    "memoryBytesSpilled": "spill_bytes",
    "numCompleteTasks": "tasks",
}


class SparkCounters:
    """Deltas of the driver's status store and JVM GC time around a
    region of work. Local mode runs the executors inside the driver
    JVM, so the JVM's collectors cover every task."""

    def __init__(self, spark) -> None:
        self._jvm = spark.sparkContext._jvm
        self._store = spark._jsparkSession.sparkContext().statusStore()
        self._conv = self._jvm.scala.jdk.javaapi.CollectionConverters
        self._gateway = spark.sparkContext._gateway
        self._empty = self._jvm.java.util.ArrayList()

    def _stages(self) -> dict[tuple[int, int], object]:
        # (statuses, details, withSummaries, quantiles, taskStatus)
        quantiles = self._gateway.new_array(self._jvm.double, 0)
        seq = self._store.stageList(self._empty, False, False, quantiles, self._empty)
        return {(s.stageId(), s.attemptId()): s for s in self._conv.asJava(seq)}

    def _jobs(self) -> set[int]:
        return {j.jobId() for j in self._conv.asJava(self._store.jobsList(self._empty))}

    def gc_s(self) -> float:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    def mark(self) -> dict:
        return {"stages": set(self._stages()), "jobs": self._jobs(), "gc_s": self.gc_s()}

    def since(self, mark: dict) -> dict:
        """Counters of the stages and jobs that appeared after ``mark``."""
        out = {v: 0.0 for v in _STAGE_FIELDS.values()}
        for key, s in self._stages().items():
            if key in mark["stages"]:
                continue
            for field, name in _STAGE_FIELDS.items():
                out[name] += float(getattr(s, field)())
        out["executor_cpu_s"] /= 1e9
        out["jobs"] = float(len(self._jobs() - mark["jobs"]))
        out["gc_s"] = self.gc_s() - mark["gc_s"]
        return out


# --- trace spans -------------------------------------------------------------
class Tracer:
    """Spans (name, start, end, parent) kept in memory and written out
    once, at the end of the run. Disabled tracers cost one attribute
    check per span."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, "pid": os.getpid(), **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, spans: list[dict], parent: int | None) -> None:
        """Merge flat spans recorded in another process under ``parent``."""
        if self.enabled:
            for s in spans:
                self.spans.append(dict(s, id=len(self.spans), parent=parent))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def median(xs):
    xs = sorted(xs)
    n = len(xs)
    if not n:
        return float("nan")
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2
