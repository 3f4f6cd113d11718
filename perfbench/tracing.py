"""Spans, counters and process probes for the benchmark.

Spans are recorded from the benchmark's own files around calls into the
package's public functions; they are kept in memory and written out when
the run ends. Counts are recorded at the same boundaries.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import zlib
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    trace_id: int


@dataclass
class Tracer:
    """In-memory span and counter store. `enabled=False` makes every call
    a no-op, so untraced runs pay nothing for it."""

    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)
    _stack: list[int] = field(default_factory=list)
    _trace_id: int = 0

    def new_trace(self) -> None:
        """Start a new request: later spans share a fresh trace id."""
        self._trace_id += 1

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), 0.0, parent, self._trace_id)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0.0) + value

    def total(self, name: str) -> float:
        """Summed duration of every span with this name."""
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def mean(self, name: str) -> float:
        """Mean duration of a span with this name (0 when none ran)."""
        ds = [s.end - s.start for s in self.spans if s.name == name]
        return sum(ds) / len(ds) if ds else 0.0

    def self_time(self, name: str) -> float:
        """Summed duration of spans with this name minus the time their
        direct children cover."""
        total = 0.0
        for i, sp in enumerate(self.spans):
            if sp.name == name:
                kids = sum(c.end - c.start for c in self.spans if c.parent == i)
                total += sp.end - sp.start - kids
        return total

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")
            f.write(json.dumps({"counts": self.counts}) + "\n")


def jvm_gc_seconds(spark) -> float:
    """Total collection time of every JVM garbage collector so far."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(max(0, gc.getCollectionTime()) for gc in mf.getGarbageCollectorMXBeans()) / 1000.0


def jvm_heap_peak_mb(spark) -> float:
    """Sum of the heap pools' peak usage since the JVM started."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    heap = spark._jvm.java.lang.management.MemoryType.HEAP
    total = 0
    for pool in mf.getMemoryPoolMXBeans():
        if pool.getType().equals(heap):
            total += pool.getPeakUsage().getUsed()
    return total / (1 << 20)


def spark_job_count(spark) -> int:
    """Number of jobs the context has started (job ids are sequential)."""
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids) + 1 if ids else 0


def spark_tasks_of_jobs(spark, first_job: int) -> int:
    """Tasks in the retained stages of jobs with id >= first_job."""
    st = spark.sparkContext.statusTracker()
    stages: set[int] = set()
    for jid in st.getJobIdsForGroup(None):
        if jid >= first_job:
            info = st.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
    total = 0
    for sid in stages:
        info = st.getStageInfo(sid)
        if info is not None:
            total += info.numTasks
    return total


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except (OSError, ValueError, IndexError):
        pass
    return 0


def _ppid_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree_hwm_mb(root_pid: int) -> float:
    """Sum of peak resident set size (VmHWM) over a process and all its
    live descendants — the JVM and the Python workers it forked."""
    kids = _ppid_map()
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += _status_kb(pid, "VmHWM")
        todo += kids.get(pid, [])
    return total / 1024.0


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it. Below 20 samples that percentile would fall under
    the median, so the maximum is reported instead (percentile 100)."""
    xs = sorted(values)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def host_probe_s() -> float:
    """Median of three timings of a fixed interpreter-and-zlib task that
    uses none of the package: a reading of the host's speed, recorded
    beside the results so drift between runs can be told apart from a
    change in the program."""
    data = bytes(range(256)) * 8192

    def once() -> float:
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        zlib.compress(data * 2, 6)
        return time.perf_counter() - t0

    return statistics.median(once() for _ in range(3))
