"""In-memory tracing for the benchmark's traced run.

Spans are recorded only from this directory: `Tracer.wrap` replaces
one of the program's public functions (the follower's cursor and sink
functions) with a recording wrapper, and the workloads open spans
around their own calls into the program. Each operation runs under one Spark job group,
so its jobs, stages and tasks are counted through the status tracker.
Spans stay in memory and are written out once, at exit.

Also here: JVM GC time and heap peak through the `java.lang.management`
MXBeans over py4j, process peak RSS from `/proc/<pid>/status` and
`resource.getrusage`, and the on-disk walk of a store.
"""

from __future__ import annotations

import contextlib
import functools
import json
import math
import os
import resource
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Collects spans while `enabled`; a disabled tracer costs one
    attribute test per wrapped call."""

    def __init__(self, spark):
        self.spark = spark
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op: int | None = None
        self._group = "perfbench-idle"
        self._groups: dict[int, list[str]] = {}
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else None, op=self._op, attrs=attrs)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    @contextlib.contextmanager
    def operation(self, op_id: int, traced: bool):
        """One workload operation (span "op") under its own Spark job
        group; spans are kept only for operations run with `traced`."""
        self._group = f"perfbench-op-{op_id}"
        self._groups[op_id] = [self._group]
        self.spark.sparkContext.setJobGroup(self._group, "op")
        self.enabled, self._op = traced, op_id
        try:
            with self.span("op") as s:
                yield s
        finally:
            self.enabled, self._op = False, None
            self.spark.sparkContext.setJobGroup("perfbench-idle", "idle")

    @contextlib.contextmanager
    def subgroup(self, tag: str):
        """Run part of the current operation under a job group of its
        own, so its jobs can be counted apart; they still count toward
        the operation."""
        sub = f"{self._group}-{tag}"
        self._groups[self._op].append(sub)
        self.spark.sparkContext.setJobGroup(sub, tag)
        try:
            yield sub
        finally:
            self.spark.sparkContext.setJobGroup(self._group, "op")

    def group_counts(self, group: str) -> tuple[int, int, int]:
        """(jobs, stages, tasks) the status tracker holds for one job group."""
        tracker = self.spark.sparkContext.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                stages += 1
                st = tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numTasks
        return len(jobs), stages, tasks

    def op_ids(self) -> list[int]:
        """Ids of the measured operations (warm-up ones are negative)."""
        return [k for k in self._groups if k >= 0]

    def subgroups(self, op_id: int, tag: str) -> list[str]:
        """Job groups opened with `subgroup` in one operation whose tag starts with `tag`."""
        prefix = f"perfbench-op-{op_id}-{tag}"
        return [g for g in self._groups.get(op_id, [])[1:] if g.startswith(prefix)]

    def op_counts(self, op_id: int) -> tuple[int, int, int]:
        """(jobs, stages, tasks) of one operation, over all its groups."""
        per_group = [self.group_counts(g) for g in self._groups.get(op_id, [])]
        return tuple(sum(c[i] for c in per_group) for i in range(3))

    def wrap(self, owner, attr: str, span_name: str, attrs_fn=None) -> None:
        """Replace `owner.attr` with a wrapper that records a span."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return original(*args, **kwargs)
            with tracer.span(span_name, **(attrs_fn(*args, **kwargs) if attrs_fn else {})):
                return original(*args, **kwargs)

        self._patched.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of it
        that child spans cover (children never overlap here: the
        program and the benchmark run one operation at a time)."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child_time[i]
        return out


class Jvm:
    """JVM-side counters read over py4j."""

    def __init__(self, spark):
        self.mf = spark._jvm.java.lang.management.ManagementFactory
        self.pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    def gc_seconds(self) -> float:
        return sum(max(0, b.getCollectionTime()) for b in self.mf.getGarbageCollectorMXBeans()) / 1000.0

    def heap_pools(self):
        heap = self.mf.getMemoryPoolMXBeans()
        return [p for p in heap if str(p.getType().toString()) == "Heap memory"]

    def reset_heap_peak(self) -> None:
        for p in self.heap_pools():
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self.heap_pools()) / 2**20

    def vm_hwm_mb(self) -> float:
        with open(f"/proc/{self.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError(f"no VmHWM for pid {self.pid}")


def peak_rss_mb(jvm: Jvm) -> float:
    """JVM high-water RSS plus this Python process's max RSS."""
    return jvm.vm_hwm_mb() + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def cpu_ticks() -> list[int]:
    """The machine's aggregate CPU time counters from /proc/stat
    (user nice system idle iowait irq softirq steal ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def walk_store(root: str) -> tuple[int, int]:
    """(parquet files, bytes of every file) under `root`."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += n.endswith(".parquet")
    return files, size


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of the samples."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[max(1, math.ceil(q / 100.0 * len(s))) - 1]
