"""Spans, self time, and the resource readings taken around them.

Spans are recorded by the benchmark around its own calls into the
engine (tracing inside the program is not part of this benchmark). A
traced call gets its own Spark job group, so its jobs, stages, tasks,
executor CPU, shuffle and spill bytes can be read back from Spark's
status store; CPU of the Python workers (where the engine's kernels
run) comes from /proc for the driver's process tree.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Optional

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    name: str
    start: float
    end: float
    call_id: int
    parent: Optional[int]
    attrs: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover
    (overlapping children count once; parts outside the span not at all)."""
    ivs = sorted((max(c.start, span.start), min(c.end, span.end)) for c in children)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
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
    return span.wall_s - covered


# ------------------------------------------------------------ /proc

def _proc_table() -> dict[int, tuple[int, str, list[str]]]:
    """pid -> (ppid, comm, stat fields after comm)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        lp, rp = raw.index("("), raw.rindex(")")
        rest = raw[rp + 2:].split()
        out[int(d)] = (int(rest[1]), raw[lp + 1:rp], rest)
    return out


class ProcTree:
    """The process tree under ``root`` (the driver): the JVM Spark runs
    in and the Python workers it forks."""

    def __init__(self, root: int):
        self.root = root

    def _tree(self) -> dict:
        table = _proc_table()
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _c, _r) in table.items():
            kids.setdefault(ppid, []).append(pid)
        out, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in table:
                out[pid] = table[pid]
            todo.extend(kids.get(pid, []))
        return out

    def pids(self) -> list[int]:
        return [p for p in self._tree() if p != self.root]

    def rss_bytes(self) -> int:
        total = 0
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * _PAGE
            except OSError:
                pass
        return total

    def python_worker_cpu_s(self) -> float:
        """User+system CPU of the Python processes below the driver,
        including the workers they have already reaped."""
        t = 0
        for pid, (_pp, comm, rest) in self._tree().items():
            if pid != self.root and comm.startswith("python"):
                # utime stime cutime cstime: fields 14-17 of stat
                t += sum(int(x) for x in rest[11:15])
        return t / _TICK


class PeakRss:
    """Samples the tree's resident memory in the background; ``peak``
    is the largest sum seen."""

    def __init__(self, tree: ProcTree, period_s: float = 0.1):
        self.tree, self.period_s, self.peak = tree, period_s, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, self.tree.rss_bytes())
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, self.tree.rss_bytes())


# ------------------------------------------------------------ Spark

def spark_job_stats(spark, group: str) -> dict:
    """Jobs, stages, tasks, CPU, shuffle and spill of one job group,
    read from the status store (works with the UI disabled)."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(10_000)
    store = jsc.statusStore()
    st = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
          "executor_cpu_s": 0.0, "executor_run_s": 0.0,
          "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}
    seen = set()
    for job in sc.statusTracker().getJobIdsForGroup(group):
        st["jobs"] += 1
        info = sc.statusTracker().getJobInfo(job)
        for sid in (info.stageIds if info else []):
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage evicted from the store: count nothing
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            st["stages"] += 1
            st["tasks"] += sd.numCompleteTasks()
            st["failed_tasks"] += sd.numFailedTasks()
            st["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            st["executor_run_s"] += sd.executorRunTime() / 1e3
            st["shuffle_read_bytes"] += sd.shuffleReadBytes()
            st["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            st["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return st


class Tracer:
    """Records spans in memory. Disabled, ``span`` is a no-op that
    yields None, so untraced runs pay nothing."""

    def __init__(self, enabled: bool, tree: Optional[ProcTree] = None):
        self.enabled = enabled
        self.tree = tree
        self.spark = None
        self.spans: list[Span] = []
        self.overhead_s = 0.0  # time spent in the tracer's own reads
        self._ids = itertools.count(1)
        self._stack: list[Span] = []

    def _set_group(self, group: Optional[str], desc: Optional[str]) -> None:
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", group)
        sc.setLocalProperty("spark.job.description", desc)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, 0.0, 0.0, next(self._ids), parent.call_id if parent else None,
                  dict(attrs))
        group = f"perfbench-{sp.call_id}"
        if self.spark is not None:
            self._set_group(group, name)
        cpu0 = self.tree.python_worker_cpu_s() if self.tree else 0.0
        self._stack.append(sp)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.tree:
                sp.attrs["python_cpu_s"] = self.tree.python_worker_cpu_s() - cpu0
            if self.spark is not None:
                sp.attrs.update(spark_job_stats(self.spark, group))
                self._set_group(f"perfbench-{parent.call_id}" if parent else None,
                                parent.name if parent else None)
            self.spans.append(sp)
            self.overhead_s += time.perf_counter() - sp.end

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.call_id]

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([{**asdict(s), "self_s": self_time(s, self.children(s))}
                       for s in self.spans], f, indent=1)
