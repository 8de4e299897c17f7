"""Spans, Spark status-store counters and process memory for the benchmark.

Spans are kept in memory and written out when a run ends. Each span has a
name, a start and end time (seconds on the run's monotonic clock), the index
of its parent span and the id of the operation it belongs to. A layer's self
time is its span's duration minus the part covered by its child spans; what
an operation's root span does not hand to a child is the unattributed
residue.

Spark's own counters come from the session's status stores, which are live
with the UI off: the SQL store (one entry per SQL execution, with the
physical plan graph and every node's metrics) and the application store
(jobs, stages, executor GC time). An operation owns the SQL executions
submitted while it ran; the benchmark is one closed-loop client thread, so
these time ranges never overlap.
"""

from __future__ import annotations

import math
import os
import re
import threading
import time
from contextlib import contextmanager

# physical-plan node names that cross the Arrow/Python boundary
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                "MapInArrow", "FlatMapGroupsInPandas",
                "FlatMapCoGroupsInPandas", "AggregateInPandas",
                "WindowInPandas", "PythonMapInArrow")

_UNITS = {
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
    "TiB": 1024.0 ** 4, "ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3,
}
_NUM = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float:
    """Number in a status-store metric string, in bytes, ms or a count.

    Sum metrics read ``"96,436"``; size and timing metrics read either
    ``"59.0 B"`` or ``"total (min, med, max ...)\\n2.2 MiB (...)"``, whose
    first figure after the newline is the total."""
    if not text:
        return 0.0
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _NUM.match(text)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


class Tracer:
    """In-memory span recorder; every method is a no-op when disabled."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        self.spans.append({
            "name": name, "start": time.perf_counter() - self.t0,
            "end": None, "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter() - self.t0

    def self_times(self, op_ids: set[int]) -> dict[str, float]:
        """Summed self time (s) per span name over the given operations.

        A span's self time is its duration minus the union of its
        children's intervals; the root span of an operation (parent None)
        is reported under ``residue``: op wall time no layer claimed."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["op"] not in op_ids or s["end"] is None:
                continue
            covered, cur_end = 0.0, s["start"]
            for c in sorted(children.get(i, []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            name = "residue" if s["parent"] is None else s["name"]
            out[name] = out.get(name, 0.0) + (s["end"] - s["start"] - covered)
        return out


class StatusStore:
    """Reads SQL-execution and job counters from a live SparkSession.

    Executions are found by their submission time, which the driver stamps
    synchronously when an action starts; the stores themselves fill from
    Spark's asynchronous listener bus, so :meth:`executions_between` drains
    that bus before its first read."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._cc = jvm.scala.jdk.javaapi.CollectionConverters
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = spark.sparkContext._jsc.sc().statusStore()
        self._submitted: list[tuple[int, int]] | None = None

    def gc_ms(self) -> float:
        return float(sum(e.totalGCTime()
                         for e in self._cc.asJava(self._app.executorList(True))))

    def executions_between(self, t0_ms: float, t1_ms: float) -> list[int]:
        """Ids of SQL executions submitted in [t0_ms, t1_ms] (epoch ms)."""
        if self._submitted is None:
            self._bus.waitUntilEmpty(60_000)
            self._submitted = [
                (int(e.executionId()), int(e.submissionTime()))
                for e in self._cc.asJava(self._sql.executionsList())]
        return [i for i, t in self._submitted
                if math.floor(t0_ms) <= t <= math.ceil(t1_ms)]

    def executions(self, ids: list[int]) -> list[dict]:
        """Counters of the given SQL executions."""
        out = []
        for eid in ids:
            e = self._sql.execution(eid).get()
            done = e.completionTime()
            end_ms = int(done.get().getTime()) if done.isDefined() else None
            jobs = [int(j) for j in self._cc.asJava(e.jobs()).keySet()]
            tasks = 0
            for j in jobs:
                try:
                    tasks += int(self._app.job(j).numCompletedTasks())
                except Exception:  # job evicted from the store
                    pass
            values = self._cc.asJava(self._sql.executionMetrics(eid))
            nodes = []
            for n in self._cc.asJava(self._sql.planGraph(eid).allNodes()):
                metrics = {m.name(): parse_metric(values.get(m.accumulatorId()))
                           for m in self._cc.asJava(n.metrics())}
                nodes.append({"name": n.name(), "metrics": metrics})
            out.append({
                "id": eid,
                "duration_ms": (end_ms - int(e.submissionTime())
                                if end_ms is not None else 0),
                "jobs": len(jobs), "tasks": tasks, "nodes": nodes})
        return out

    def plan_node_names(self, ids: list[int]) -> set[str]:
        """Physical-plan node names of the given SQL executions."""
        names: set[str] = set()
        for eid in ids:
            for n in self._cc.asJava(self._sql.planGraph(eid).allNodes()):
                names.add(n.name())
        return names


def summarize_executions(execs: list[dict]) -> dict[str, float]:
    """Per-layer counters summed over one operation's SQL executions."""
    c = {"exec_ms": 0.0, "jobs": 0.0, "tasks": 0.0, "scan_files": 0.0,
         "scan_bytes": 0.0, "scan_rows": 0.0, "shuffle_bytes": 0.0,
         "shuffle_rows": 0.0, "spill_bytes": 0.0, "broadcast_bytes": 0.0,
         "py_bytes_to": 0.0, "py_bytes_from": 0.0, "py_rows": 0.0,
         "py_nodes": 0.0}
    for e in execs:
        c["exec_ms"] += e["duration_ms"]
        c["jobs"] += e["jobs"]
        c["tasks"] += e["tasks"]
        for n in e["nodes"]:
            name, m = n["name"], n["metrics"]
            c["spill_bytes"] += m.get("spill size", 0.0)
            if name.startswith("Scan "):
                c["scan_files"] += m.get("number of files read", 0.0)
                c["scan_bytes"] += m.get("size of files read", 0.0)
                c["scan_rows"] += m.get("number of output rows", 0.0)
            elif name == "Exchange":
                c["shuffle_bytes"] += m.get("shuffle bytes written", 0.0)
                c["shuffle_rows"] += m.get("shuffle records written", 0.0)
            elif name == "BroadcastExchange":
                c["broadcast_bytes"] += m.get("data size", 0.0)
            elif name in PYTHON_NODES:
                c["py_nodes"] += 1
                c["py_bytes_to"] += m.get("data sent to Python workers", 0.0)
                c["py_bytes_from"] += m.get(
                    "data returned from Python workers", 0.0)
                c["py_rows"] += m.get("number of output rows", 0.0)
    return c


def _descendants(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # process ended while listing
            continue
        # field 4 (ppid) follows the parenthesised command name
        parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


_TICK = os.sysconf("SC_CLK_TCK")
# JVM threads that compile hot code and sweep the compiled-code cache
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")


def _cpu_ticks(stat_path: str) -> tuple[str, list[int]]:
    """Name and (utime, stime, cutime, cstime) of a process or thread."""
    with open(stat_path) as f:
        name, rest = f.read().rsplit(")", 1)
    # stat fields 14-17, in clock ticks; field 2 is the parenthesised name
    return name.split("(", 1)[1], [int(v) for v in rest.split()[11:15]]


def tree_cpu_s(root: int) -> tuple[float, float]:
    """CPU seconds, user plus system, of ``root``'s calling thread and of
    every descendant (the driver JVM, the Python worker daemon and its
    workers), with the children each of them has reaped; and the part of
    it the JVM's JIT compiler and code-cache sweeper threads spent.

    The guest kernel charges no task for time its virtual CPU was
    descheduled by the host (steal), so, unlike wall time, this does not
    grow when other guests load the host. The compiler threads must not
    come and go (``-XX:-UseDynamicNumberOfCompilerThreads``), or the time
    of one that ended would count as the program's."""
    total = jit = 0
    for pid in _descendants(root):
        try:
            total += sum(_cpu_ticks(f"/proc/{pid}/stat")[1])
            for tid in os.listdir(f"/proc/{pid}/task"):
                name, ticks = _cpu_ticks(f"/proc/{pid}/task/{tid}/stat")
                if name.startswith(JIT_THREADS):
                    jit += ticks[0] + ticks[1]
        except OSError:  # process ended while sampling
            continue
    return total / _TICK + time.thread_time(), jit / _TICK


def tree_pss(root: int) -> dict[str, int]:
    """Proportional set size of every descendant of ``root`` (the driver
    JVM, the Python worker daemon and its workers), summed per command
    name. Unlike RSS, PSS splits the pages forked workers share with their
    daemon, so the sum is the memory the processes occupy together."""
    out: dict[str, int] = {}
    for pid in _descendants(root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        out[comm] = out.get(comm, 0) + int(line.split()[1]) * 1024
                        break
        except OSError:  # process ended while sampling
            continue
    return out


class MemorySampler:
    """Background thread keeping the peak of the summed :func:`tree_pss`,
    the peak of the Python workers' share, and each command's own peak."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self.peak_python = 0
        self.peak_by_comm: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self):
        by_comm = tree_pss(os.getpid())
        self.peak = max(self.peak, sum(by_comm.values()))
        self.peak_python = max(self.peak_python, sum(
            b for comm, b in by_comm.items() if comm.startswith("python")))
        for comm, b in by_comm.items():
            self.peak_by_comm[comm] = max(self.peak_by_comm.get(comm, 0), b)

    def _run(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def start(self):
        self._thread.start()
        return self

    def stop(self) -> None:
        if self._thread.is_alive():
            self._stop.set()
            self._thread.join()
            self._sample()
