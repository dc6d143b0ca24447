"""Measurement from outside the program: spans, Spark status-store counters
and /proc sampling of the driver JVM and its Python workers.

Nothing here reaches into the program. Spans wrap the benchmark's own calls
into the program's public functions; counters are read from Spark's status
stores (the same numbers the Spark UI shows) at span boundaries; memory and
CPU come from /proc for the JVM's process subtree.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # the command name may hold spaces: split after its closing paren
    return s[s.rindex(")") + 2:].split()


def subtree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat_fields(int(d))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def cpu_seconds(root: int) -> float:
    """User+system CPU of the subtree, including reaped children."""
    ticks = 0
    for pid in subtree(root):
        f = _stat_fields(pid)
        if f is not None:
            # utime stime cutime cstime are fields 14-17 (1-based) of stat
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _CLK_TCK


def _is_counted(pid: int, root: int) -> bool:
    """The JVM and its Python workers. Other children (the JVM's short-lived
    fork/exec helpers) briefly map the whole JVM and would count it twice."""
    if pid == root:
        return True
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class PeakRss:
    """Background sampler of the resident memory of the JVM and its Python
    workers: every 100 ms, re-listing the processes every second.

    The JVM heap is fixed and pre-touched, so all of it is always resident
    and would only add a constant: a sample leaves it out (resident −
    ``heap_bytes``) and follows the memory the program takes beyond it —
    native and direct buffers, metaspace and code, thread stacks, the
    Python workers."""

    def __init__(self, root: int, heap_bytes: int, interval: float = 0.1,
                 relist: float = 1.0):
        self.root, self.heap_bytes = root, heap_bytes
        self.interval, self.relist = interval, relist
        self.peak = 0
        self.peaks: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        listed, pids = 0.0, []
        while not self._stop.is_set():
            now = time.monotonic()
            if now - listed >= self.relist:
                pids = [p for p in subtree(self.root) if _is_counted(p, self.root)]
                listed = now
            self.peak = max(self.peak, rss_bytes(pids) - self.heap_bytes)
            self._stop.wait(self.interval)

    def cut(self) -> None:
        """Close the current interval: its peak joins ``peaks``."""
        self.peaks.append(self.peak)
        self.peak = 0

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# StageData getters summed over every stage the status store holds
_STAGE_COUNTERS = {
    "input_records": "inputRecords",
    "input_bytes": "inputBytes",
    "output_bytes": "outputBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "executor_cpu_ns": "executorCpuTime",
    "executor_run_ms": "executorRunTime",
    "jvm_gc_ms": "jvmGcTime",
    "memory_spilled_bytes": "memoryBytesSpilled",
    "disk_spilled_bytes": "diskBytesSpilled",
}


class SparkCounters:
    """Cumulative task counters from the status store, plus the JVM subtree's
    CPU seconds. Snapshots are totals; callers subtract two of them."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._jvm = spark._jvm
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.jvm_pid = int(self._jvm.java.lang.ProcessHandle.current().pid())
        heap = self._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        self.heap_bytes = int(heap.getHeapMemoryUsage().getCommitted())
        # finished stages never change: read each one's counters once
        self._done: dict[tuple[int, int], dict[str, float]] = {}

    def snapshot(self) -> dict[str, float]:
        # stage-completed events reach the store through the listener bus
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        stages = self._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            store.stageList(
                None, False, False,
                getattr(store, "stageList$default$4")(),
                getattr(store, "stageList$default$5")(),
            ))
        # the list descends by stage id: walk it to the first stage already
        # read, so a snapshot costs py4j calls for new stages only
        fresh = []
        for i in range(stages.size()):
            sd = stages.get(i)
            key = (sd.stageId(), sd.attemptId())
            if key in self._done:
                break
            vals = {k: float(getattr(sd, g)()) for k, g in _STAGE_COUNTERS.items()}
            if sd.status().toString() in ("COMPLETE", "SKIPPED", "FAILED"):
                self._done[key] = vals
            else:
                fresh.append(vals)
        totals = dict.fromkeys(_STAGE_COUNTERS, 0.0)
        for vals in [*self._done.values(), *fresh]:
            for k, v in vals.items():
                totals[k] += v
        totals["stages"] = float(len(self._done) + len(fresh))
        totals["proc_cpu_s"] = cpu_seconds(self.jvm_pid)
        totals["sql_executions"] = float(self._sql.executionsCount())
        return totals

    def _seq(self, seq) -> list:
        java = self._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)
        return [java.get(i) for i in range(java.size())]

    def file_scans(self, first: int, end: int) -> list[tuple[str, int]]:
        """(plan description, rows read) of every file scan in the SQL
        executions ``first`` to ``end`` (exclusive), from the SQL status
        store (the plans and metrics the Spark UI's SQL tab shows). The
        description names the scanned paths when
        ``spark.sql.maxMetadataStringLength`` lets it."""
        out = []
        for ex in self._seq(self._sql.executionsList(first, end - first)):
            values = self._sql.executionMetrics(ex.executionId())
            for node in self._seq(self._sql.planGraph(ex.executionId()).allNodes()):
                if not node.name().startswith("Scan "):
                    continue
                for m in self._seq(node.metrics()):
                    if m.name() == "number of output rows":
                        v = values.get(m.accumulatorId())
                        rows = int(v.get().replace(",", "")) if v.isDefined() else 0
                        out.append((node.desc(), rows))
        return out


def delta(after: dict, before: dict) -> dict[str, float]:
    return {k: after[k] - before.get(k, 0.0) for k in after}


def _location(desc: str) -> str:
    """The scanned paths part of a file scan's plan description."""
    return desc.partition("Location: ")[2].partition(", PartitionFilters")[0][:300]


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    counters: dict = field(default_factory=dict)
    executions: tuple[int, int] | None = None  # SQL executions [first, end)
    scans: list = field(default_factory=list)
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans around the benchmark's calls into the program.

    Each span records its parent (the enclosing span), the run id, and the
    status-store counter delta over its interval. ``self_s`` is a span's
    wall time minus the time its child spans cover. Spans stay in memory
    until ``dump`` writes them at the end of the run.
    """

    def __init__(self, run_id: str, counters: SparkCounters | None):
        self.run_id = run_id
        self.counters = counters
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        before = self.counters.snapshot() if self.counters else {}
        sp = Span(name, time.perf_counter(),
                  parent=self._stack[-1] if self._stack else None, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.counters:
                after = self.counters.snapshot()
                sp.counters = delta(after, before)
                sp.executions = (int(before["sql_executions"]),
                                 int(after["sql_executions"]))

    def rows_scanned(self, sp: Span, path: str) -> int:
        """Rows read by span ``sp``'s file scans of the files under ``path``.
        The scans are looked up after the span, on first use, so the lookup
        adds nothing to any span's time."""
        if sp.executions and not sp.scans:
            sp.scans = self.counters.file_scans(*sp.executions)
        under = re.compile(re.escape(f"file:{path}") + r"[/\],]")
        return sum(rows for desc, rows in sp.scans if under.search(desc))

    def self_s(self, idx: int) -> float:
        sp = self.spans[idx]
        kids = sum(s.wall for s in self.spans if s.parent == idx)
        return sp.wall - kids

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for i, sp in enumerate(self.spans):
                f.write(json.dumps({
                    "run_id": self.run_id, "id": i, "name": sp.name,
                    "parent": sp.parent, "start": sp.start, "end": sp.end,
                    "self_s": self.self_s(i), "counters": sp.counters,
                    "scans": [[_location(d), rows] for d, rows in sp.scans],
                    "attrs": sp.attrs,
                }) + "\n")
