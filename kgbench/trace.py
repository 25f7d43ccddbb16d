"""Measurement helpers: process-tree CPU split, peak PSS, percentiles,
and the span tracer of the traced run.

Spans are recorded from the benchmark's own files around each call into
a layer; nothing inside the engine is instrumented.
"""

from __future__ import annotations

import math
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_CLK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[str, int, float, float]]:
    """pid -> (name, ppid, own CPU-s, reaped-children CPU-s)."""
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        name = raw[raw.find("(") + 1:raw.rfind(")")]
        parts = raw[raw.rfind(")") + 2:].split()
        try:
            out[int(pid)] = (
                name, int(parts[1]),
                (int(parts[11]) + int(parts[12])) / _CLK,
                (int(parts[13]) + int(parts[14])) / _CLK,
            )
        except (IndexError, ValueError):
            continue
    return out


def _tree(table, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, row in table.items():
        children.setdefault(row[1], []).append(pid)
    seen, stack = [], [root]
    while stack:
        p = stack.pop()
        if p in table and p not in seen:
            seen.append(p)
            stack.extend(children.get(p, []))
    return seen


def cpu_split(root: int | None = None) -> dict[str, float]:
    """CPU-s of this process tree by process kind: ``jvm`` (java),
    ``py`` (Python workers, plus the CPU of workers their daemon already
    reaped) and ``main`` (this process). The per-process-name split of
    ``scripts/cpu_attrib.py::pid_cmd_cpu``, restricted to our own tree."""
    root = root or os.getpid()
    table = _proc_table()
    out = {"jvm": 0.0, "py": 0.0, "main": 0.0}
    for pid in _tree(table, root):
        name, _ppid, own, reaped = table[pid]
        if pid == root:
            out["main"] += own
        elif name == "java":
            out["jvm"] += own
        elif name.startswith("python"):
            out["py"] += own + reaped
    return out


def jit_cpu_seconds(root: int | None = None) -> float:
    """CPU-s of the JIT compiler threads of the java processes in this
    tree. Their threads must outlive idle spells
    (``-XX:-UseDynamicNumberOfCompilerThreads``): the CPU of an exited
    thread is no longer listed per thread."""
    table = _proc_table()
    total = 0.0
    for pid in _tree(table, root or os.getpid()):
        if table[pid][0] != "java":
            continue
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                    raw = fh.read()
            except OSError:
                continue
            name = raw[raw.find("(") + 1:raw.rfind(")")]
            if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
                parts = raw[raw.rfind(")") + 2:].split()
                total += (int(parts[11]) + int(parts[12])) / _CLK
    return total


def tree_pss_bytes(root: int | None = None) -> int:
    """Proportional set size of this process tree: pages shared between
    the forked Python workers are counted once, not once per worker."""
    total = 0
    for pid in _tree(_proc_table(), root or os.getpid()):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


def descendants(root: int | None = None) -> list[int]:
    table = _proc_table()
    root = root or os.getpid()
    return [p for p in _tree(table, root) if p != root]


class Sampler:
    """Background sampler of the process tree: peak PSS always, and CPU
    attribution to the innermost active span of every thread when a
    tracer is attached (a sample interval's CPU is split evenly between
    the spans active during it, so concurrent spans are not
    double-counted)."""

    def __init__(self, interval: float = 0.2, tracer: "Tracer | None" = None):
        self.interval = interval
        self.tracer = tracer
        self.peak_mem = 0
        # CPU-s the sampling thread has used: reading a large JVM's smaps
        # costs kernel time that is charged to this process
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._last = cpu_split()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()

    def _sample(self) -> None:
        self.peak_mem = max(self.peak_mem, tree_pss_bytes())
        if self.tracer is None:
            return
        now = cpu_split()
        delta = {k: max(now[k] - self._last[k], 0.0) for k in now}
        self._last = now
        self.tracer.attribute(delta)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            t0 = time.thread_time()
            self._sample()
            self.cpu_s += time.thread_time() - t0


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    if not values:
        raise ValueError("no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(values: list[float]) -> tuple[float, float] | None:
    """(q, value) of the highest percentile that has at least ten samples
    above it, or None with fewer than eleven samples."""
    n = len(values)
    if n < 11:
        return None
    q = 100.0 * (n - 11) / (n - 1)
    return q, percentile(values, q)


def self_times(spans: list["Span"]) -> dict[int, float]:
    """Span id -> its duration minus the part of it its children cover
    (children may overlap one another; their union is subtracted)."""
    kids: dict[int | None, list[Span]] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = (s.end - s.start) - covered
    return out


@dataclass
class Span:
    id: int
    layer: str
    name: str
    parent: int | None
    thread: int
    start: float
    end: float = 0.0
    rows_out: int = 0
    jobs: int = 0
    tasks: int = 0
    cpu: dict = field(default_factory=lambda: {"jvm": 0.0, "py": 0.0, "main": 0.0})


class Tracer:
    """Spans kept in memory. Each span labels its Spark jobs with
    ``setJobGroup("<workload>:<layer>")`` and counts them (and their
    completed tasks) through ``statusTracker()`` when it closes."""

    def __init__(self, sc, workload: str):
        self.sc = sc
        self.workload = workload
        self.spans: list[Span] = []
        self.unaccounted = {"jvm": 0.0, "py": 0.0, "main": 0.0}
        self._stacks: dict[int, list[Span]] = {}
        self._seen_jobs: set[int] = set()
        self._paused: set[int] = set()
        self._lock = threading.Lock()
        self._ids = 0

    @property
    def traced(self) -> bool:
        return threading.get_ident() not in self._paused

    def pause(self, paused: bool) -> None:
        """Stop (or resume) recording spans on the calling thread; the
        CPU of sample intervals with no recorded span active is then
        dropped instead of counted as unaccounted."""
        with self._lock:
            (self._paused.add if paused else self._paused.discard)(
                threading.get_ident())

    @contextmanager
    def span(self, layer: str, name: str | None = None):
        tid = threading.get_ident()
        if not self.traced:
            yield Span(0, layer, name or layer, None, tid, 0.0)
            return
        with self._lock:
            stack = self._stacks.setdefault(tid, [])
            self._ids += 1
            s = Span(self._ids, layer, name or layer,
                     stack[-1].id if stack else None, tid, time.perf_counter())
            stack.append(s)
            self.spans.append(s)
        self._count_jobs(None)  # unlabeled jobs so far belong to no span
        self._label(layer)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            with self._lock:
                stack.pop()
                parent = stack[-1].layer if stack else None
            self._count_jobs(s)
            self._label(parent)

    def _group(self, layer: str) -> str:
        return f"{self.workload}:{layer}"

    def _label(self, layer: str | None) -> None:
        if self.sc is None:
            return
        if layer is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(self._group(layer), self._group(layer))

    def _count_jobs(self, s: Span | None) -> None:
        """Charge to ``s`` its group's jobs not yet counted, plus jobs
        without a group that started while it was open (a streaming
        query runs its batches on its own thread, outside any group)."""
        if self.sc is None:
            return
        tracker = self.sc.statusTracker()
        groups = [None] + ([self._group(s.layer)] if s is not None else [])
        with self._lock:
            new = [j for g in groups for j in tracker.getJobIdsForGroup(g)
                   if j not in self._seen_jobs]
            self._seen_jobs.update(new)
        if s is None:
            return
        for j in new:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            s.jobs += 1
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None:
                    s.tasks += st.numCompletedTasks

    def attribute(self, delta: dict[str, float]) -> None:
        with self._lock:
            active = [st[-1] for st in self._stacks.values() if st]
            if not active:
                if self._paused:
                    return
                for k, v in delta.items():
                    self.unaccounted[k] += v
                return
            for s in active:
                for k, v in delta.items():
                    s.cpu[k] += v / len(active)

    def layers(self) -> dict[str, dict[str, float]]:
        """Per-layer totals: self wall, CPU split, rows, jobs, tasks."""
        selfs = self_times([s for s in self.spans if s.end])
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            if not s.end:
                continue
            agg = out.setdefault(s.layer, {
                "wall_s": 0.0, "jvm_cpu_s": 0.0, "py_cpu_s": 0.0,
                "rows_out": 0, "jobs": 0, "tasks": 0, "spans": 0,
            })
            agg["wall_s"] += selfs[s.id]
            agg["jvm_cpu_s"] += s.cpu["jvm"]
            agg["py_cpu_s"] += s.cpu["py"] + s.cpu["main"]
            agg["rows_out"] += s.rows_out
            agg["jobs"] += s.jobs
            agg["tasks"] += s.tasks
            agg["spans"] += 1
        return out

    def to_json(self) -> list[dict]:
        selfs = self_times([s for s in self.spans if s.end])
        t0 = min((s.start for s in self.spans), default=0.0)
        return [
            {"id": s.id, "parent": s.parent, "layer": s.layer, "name": s.name,
             "thread": s.thread, "start_s": s.start - t0, "end_s": s.end - t0,
             "self_s": selfs.get(s.id, 0.0), "rows_out": s.rows_out,
             "jobs": s.jobs, "tasks": s.tasks,
             "cpu_s": {k: round(v, 4) for k, v in s.cpu.items()},
             "job_group": self._group(s.layer)}
            for s in self.spans
        ]


class NullTracer:
    """Untraced runs: same interface, no bookkeeping."""

    traced = False

    @contextmanager
    def span(self, layer: str, name: str | None = None):
        yield Span(0, layer, name or layer, None, 0, 0.0)
