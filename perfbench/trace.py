"""Spans, self time, and the counters read at span boundaries.

The benchmark times each layer from outside, around calls to its
public functions. ``Tracer`` keeps spans in memory (name, start, end,
parent, op id) and tags the Spark jobs each span starts with a job
group of its own, so ``SparkCounters`` can read the jobs, stages,
tasks, CPU, GC, shuffle, spill and I/O of exactly that span from
Spark's status store. ``ProcessCpu`` reads the CPU and peak RSS of
the driver, the JVM and the JVM's Python workers from ``/proc``.
"""

from __future__ import annotations

import os
import resource
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench.metrics import SPARK_FIELDS

_TICK = os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)
    # intervals in which the tracer's own work for this span's children
    # ran (job-group switches and counter reads), and their total over
    # every descendant: both are the tracer's time, not the program's
    hooks: list[tuple[float, float]] = field(default_factory=list)
    overhead: float = 0.0

    @property
    def duration(self) -> float:
        """Wall time of the span less the tracer's work inside it."""
        return self.end - self.start - self.overhead


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of ``[start, end]`` covered by the union of ``intervals``."""
    total = 0.0
    cursor = start
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, end)
        if b > a:
            total += b - a
            cursor = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → wall time minus the part of it its children and the
    tracer's hooks for those children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.end - s.start - covered(s.start, s.end, children.get(s.id, []) + s.hooks)
        for s in spans
    }


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing.

    While a span is open, the Spark jobs started on this thread belong
    to the job group ``pb<span id>`` (the parent's group is restored
    on exit), and the ``on_span`` hook, called as a span opens and closes, may
    attach counters to it. A span's own interval leaves out its hooks;
    the hooks of its children fall inside it and are recorded on it
    (``Span.hooks``) and subtracted from its and its ancestors'
    durations (``Span.overhead``).
    """

    def __init__(self, sc=None, enabled: bool = True, on_span=None):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._sc = sc
        self._stack: list[Span] = []
        self._on_span = on_span

    def _set_group(self, span: Span | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(f"pb{span.id}", span.name)

    @contextmanager
    def span(self, name: str, op: int):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, op, parent.id if parent else None, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        if self._on_span is not None:
            self._on_span(s, opening=True)
        s.start = time.perf_counter()
        self._charge(parent, self._stack[:-1], t0, s.start)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            if self._on_span is not None:
                self._on_span(s, opening=False)
            self._charge(parent, self._stack, s.end, time.perf_counter())

    @staticmethod
    def _charge(parent: Span | None, around: list[Span], a: float, b: float) -> None:
        """Book the hook interval ``[a, b]`` to ``parent`` and charge its
        length to ``around``, the spans open around it."""
        if parent is not None:
            parent.hooks.append((a, b))
        for s in around:
            s.overhead += b - a

    def subtree(self, span: Span) -> list[Span]:
        """``span`` and every span below it."""
        ids = {span.id}
        out = [span]
        for s in self.spans[span.id + 1 :]:
            if s.parent in ids:
                ids.add(s.id)
                out.append(s)
        return out


class ProcessCpu:
    """CPU seconds of the JVM and its Python workers, and peak RSS of
    the driver plus the JVM.

    Worker CPU is the JVM's descendants' own CPU plus what the JVM and
    those descendants reaped from exited children, so a worker that
    ends between two reads is still counted.
    """

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    @staticmethod
    def _stat(pid: int) -> list[str] | None:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                data = fh.read()
        except OSError:
            return None
        return data[data.rindex(")") + 2 :].split()

    def _children(self) -> dict[int, list[int]]:
        tree: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                st = self._stat(int(entry))
                if st is not None:
                    tree.setdefault(int(st[1]), []).append(int(entry))
        return tree

    def descendants(self) -> list[int]:
        tree = self._children()
        out, todo = [], list(tree.get(self.jvm_pid, []))
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(tree.get(pid, []))
        return out

    def read(self) -> dict[str, float]:
        """Cumulative CPU seconds of the JVM and of its children (the
        Python workers)."""
        out = {"jvm": 0.0, "python": 0.0}
        st = self._stat(self.jvm_pid)
        if st is not None:
            # fields 14-17 of /proc/pid/stat, indexed from the state field
            out["jvm"] = (int(st[11]) + int(st[12])) / _TICK
            out["python"] = (int(st[13]) + int(st[14])) / _TICK
        for pid in self.descendants():
            st = self._stat(pid)
            if st is not None:
                out["python"] += sum(int(x) for x in st[11:15]) / _TICK
        return out

    def peak_rss_mb(self) -> float:
        """High-water RSS of the driver plus the JVM, in MB."""
        kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        try:
            with open(f"/proc/{self.jvm_pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
        return kb / 1024.0


class Stopwatch:
    """Wall time and CPU seconds (driver, JVM and Python workers) of the
    interval inside ``with``; the ``/proc`` reads lie outside it, so
    the driver CPU they cost is not counted."""

    def __init__(self, cpu: ProcessCpu | None):
        self._cpu = cpu
        self.wall = self.cpu_s = 0.0

    def _others(self) -> float:
        return sum(self._cpu.read().values()) if self._cpu is not None else 0.0

    def __enter__(self) -> Stopwatch:
        self._others0 = self._others()
        self._driver0 = time.process_time()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self._t0
        driver = time.process_time() - self._driver0
        self.cpu_s = driver + self._others() - self._others0


def host_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the machine since boot: the share a
    hypervisor gave to other guests is how busy the host was."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


class SparkCounters:
    """Per-span Spark counters from the status tracker and status store."""

    STAGE_FIELDS = tuple(f for f in SPARK_FIELDS if f != "python_cpu_s")

    def __init__(self, sc, cpu: ProcessCpu):
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._cpu = cpu
        self._python_at_open: dict[int, float] = {}

    def on_span(self, span: Span, opening: bool) -> None:
        if opening:
            self._python_at_open[span.id] = self._cpu.read()["python"]
            return
        span.counters = self.read_group(f"pb{span.id}")
        span.counters["python_cpu_s"] = (
            self._cpu.read()["python"] - self._python_at_open.pop(span.id)
        )

    def read_group(self, group: str) -> dict[str, float]:
        """Counters of the jobs in ``group``; skipped stages count nothing."""
        self._bus.waitUntilEmpty(10_000)
        out = dict.fromkeys(self.STAGE_FIELDS, 0.0)
        tracker = self._sc.statusTracker()
        mb = 1024.0 * 1024.0
        for job_id in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                sd = self._store.lastStageAttempt(stage_id)
                if sd.status().toString() != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["task_cpu_s"] += sd.executorCpuTime() / 1e9
                out["gc_s"] += sd.jvmGcTime() / 1e3
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / mb
                out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / mb
                out["input_mb"] += sd.inputBytes() / mb
                out["output_mb"] += sd.outputBytes() / mb
        return out


def sum_counters(spans: list[Span]) -> dict[str, float]:
    """Add the counters of ``spans`` (each span's counters are exclusive
    of its children's job groups, except ``python_cpu_s``, which is the
    span's whole interval and so is taken from top-level spans only)."""
    ids = {s.id for s in spans}
    out: dict[str, float] = {}
    for s in spans:
        for k, v in s.counters.items():
            if k == "python_cpu_s" and s.parent in ids:
                continue
            out[k] = out.get(k, 0.0) + v
    return out
