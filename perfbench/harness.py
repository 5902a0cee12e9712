"""Timing and tracing from outside the engine.

Every layer is measured by wrapping the calls the benchmark makes into
that layer's public functions; nothing inside the engine is changed.

* :class:`Tracer` keeps one span per wrapped call (name, start, end,
  parent, request id) in memory and writes them out once, at the end.
* :class:`Meter` runs each wrapped call under its own Spark job group, so
  the jobs a call started can be counted, and sums the stage counters of
  those jobs from the application status store.

Passes time themselves with :func:`stopwatch`; a disabled meter adds
nothing to them.
"""

from __future__ import annotations

import itertools
import json
import math
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

#: Stage counters summed per wrapped call: StageData getter -> (metric, scale).
STAGE_COUNTERS = {
    "numTasks": ("tasks", 1),
    "executorRunTime": ("run_s", 1e-3),
    "executorCpuTime": ("cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "inputBytes": ("input_mb", 1e-6),
    "shuffleReadBytes": ("shuffle_read_mb", 1e-6),
    "shuffleWriteBytes": ("shuffle_write_mb", 1e-6),
    "memoryBytesSpilled": ("spill_mb", 1e-6),
    "diskBytesSpilled": ("spill_mb", 1e-6),
}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    request: str | None
    counters: dict[str, float] = field(default_factory=dict)


class Tracer:
    """In-memory spans; :meth:`dump` writes them as JSON lines."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, request: str | None = None):
        parent = self._open[-1] if self._open else None
        if request is None and parent is not None:
            request = self.spans[parent].request
        s = Span(name, time.perf_counter(), math.nan, parent, request)
        self.spans.append(s)
        self._open.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            self._open.pop()
            s.end = time.perf_counter()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s.__dict__}) + "\n")


class Meter:
    """Wraps layer calls. When enabled, each call gets a span and its own
    job group; :meth:`flush` later adds the jobs, stages and stage
    counters the call caused to the span's counters. Disabled, it does
    nothing, so untraced passes run the bare calls."""

    def __init__(self, spark, tracer: Tracer) -> None:
        self.enabled = False
        self.sc = spark.sparkContext
        self.tracer = tracer
        self._groups = itertools.count()
        self._pending: list[tuple[Span, str]] = []
        self.bookkeeping_s = 0.0

    @contextmanager
    def scope(self, name: str, request: str | None = None):
        """A parent span with no job group of its own."""
        if not self.enabled:
            yield
            return
        with self.tracer.span(name, request):
            yield

    @contextmanager
    def call(self, name: str):
        """One call into a layer; yields the span's counter dict. The
        meter's own time around the call adds to :attr:`bookkeeping_s`."""
        if not self.enabled:
            yield {}
            return
        enter = time.perf_counter()
        group = f"perfbench-{next(self._groups)}"
        with self.tracer.span(name) as s:
            self.sc.setJobGroup(group, name)
            begin = time.perf_counter()
            try:
                yield s.counters
            finally:
                end = time.perf_counter()
                self.sc.setLocalProperty("spark.jobGroup.id", None)
        self._pending.append((s, group))
        self.bookkeeping_s += (begin - enter) + (time.perf_counter() - end)

    def flush(self) -> None:
        """Read the job and stage counters of every call since the last
        flush (done outside the timed passes)."""
        for span, group in self._pending:
            span.counters.update(self._job_counters(group))
        self._pending.clear()

    def _job_counters(self, group: str) -> dict[str, float]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        out: dict[str, float] = defaultdict(float)
        out["jobs"] = len(jobs)
        store = self.sc._jsc.sc().statusStore()
        empty = self.sc._jvm.java.util.ArrayList()
        no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        for job in jobs:
            info = _settled_job(tracker, job)
            for stage in info.stageIds if info else ():
                rows = store.stageData(stage, False, empty, False, no_quantiles)
                if rows.size() == 0:
                    continue  # skipped stage (shuffle output reused)
                out["stages"] += 1
                data = rows.apply(0)
                for getter, (metric, scale) in STAGE_COUNTERS.items():
                    out[metric] += getattr(data, getter)() * scale
        return dict(out)


def _settled_job(tracker, job: int, timeout: float = 5.0):
    """Job info once the listener bus has recorded the job's end (stage
    counters arrive asynchronously after the action returns)."""
    deadline = time.perf_counter() + timeout
    while True:
        info = tracker.getJobInfo(job)
        if info is None or info.status != "RUNNING" or time.perf_counter() > deadline:
            return info
        time.sleep(0.005)


@contextmanager
def stopwatch():
    """``with stopwatch() as t: ...`` then ``t()`` is the elapsed seconds."""
    start = time.perf_counter()
    end: list[float] = []
    try:
        yield lambda: (end[0] if end else time.perf_counter()) - start
    finally:
        end.append(time.perf_counter())


def tail(samples: list[float]) -> tuple[float, float, int] | None:
    """Highest percentile with at least ten samples beyond it:
    ``(value, percentile, sample count)``, or None below 11 samples."""
    n = len(samples)
    if n < 11:
        return None
    ordered = sorted(samples)
    idx = n - 11  # ordered[idx] has exactly ten samples above it
    return ordered[idx], 100.0 * (idx + 1) / n, n


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process below it: the JVM and its Python workers. A worker that has
    ended counts through its parent's waited-for-children time. Time the
    hypervisor took from the vCPUs (steal) is not charged to processes."""
    procs: dict[int, tuple[int, int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                raw = f.read()
        except OSError:
            continue  # ended meanwhile
        fields = raw[raw.rindex(")") + 2:].split()  # from field 3, state
        procs[int(entry)] = (int(fields[1]), sum(map(int, fields[11:15])))
    children = defaultdict(list)
    for pid, (ppid, _) in procs.items():
        children[ppid].append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo += children[pid]
    return ticks / os.sysconf("SC_CLK_TCK")


#: HotSpot's JIT compiler threads, by their names cut to 15 characters.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_cpu_s(jvm_pid: int) -> dict[str, float]:
    """CPU seconds so far of each live JIT compiler thread of the JVM."""
    out = {}
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue  # ended meanwhile
        if raw[raw.index("(") + 1:raw.rindex(")")].startswith(JIT_THREADS):
            fields = raw[raw.rindex(")") + 2:].split()
            out[tid] = (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    return out


def cpu_snapshot(spark) -> tuple[float, dict[str, float]]:
    """What :func:`cpu_between` compares: the process tree's CPU seconds
    and those of each JIT compiler thread."""
    return tree_cpu_s(), _jit_cpu_s(_pids(spark)[0])


def cpu_between(before, after) -> tuple[float, float]:
    """``(work, jit)`` CPU seconds between two :func:`cpu_snapshot` results:
    ``jit`` is what the JVM's JIT compiler threads used, ``work`` the rest
    of the process tree. A compiler thread that ended in between counts
    as idle."""
    jit = sum(cpu - before[1].get(tid, 0.0) for tid, cpu in after[1].items())
    return after[0] - before[0] - jit, jit


def _pids(spark) -> tuple[int, int]:
    """The JVM's pid and this Python driver's."""
    return spark.sparkContext._gateway.proc.pid, os.getpid()


def reset_peak_rss(spark) -> None:
    """Restart the high-water RSS of the JVM and of this process from
    their current RSS, so :func:`peak_rss_mb` covers only what runs after
    this call (``/proc/<pid>/clear_refs``)."""
    for pid in _pids(spark):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError as e:
            print(f"perfbench: cannot reset peak RSS of pid {pid}: {e}", file=sys.stderr)


def peak_rss_mb(spark) -> float:
    """High-water RSS (``VmHWM``) of the JVM plus this Python driver, in MB."""
    kb = 0
    for pid in _pids(spark):
        with open(f"/proc/{pid}/status") as f:
            kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024
