"""Measurement from outside the package: process-tree CPU and memory
from /proc, Spark's own counters from its status stores (read through
py4j after each action), and in-memory spans.

Nothing here runs inside the package; every figure is read at the
boundary of a call the benchmark makes.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, list[str]]:
    """pid -> /proc/<pid>/stat fields from field 3 (state) on."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process exited between listdir and open
            continue
        out[int(entry)] = stat[stat.rfind(")") + 2:].split()
    return out


def tree_pids(root: int, table: dict[int, list[str]] | None = None) -> list[int]:
    table = table if table is not None else _proc_table()
    children = defaultdict(list)
    for pid, f in table.items():
        children[int(f[1])].append(pid)
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(children.get(pid, ()))
    return pids


def tree_usage(root: int) -> tuple[float, int]:
    """(CPU seconds, resident bytes) of ``root`` and its descendants.
    CPU includes reaped children (cutime/cstime), so Python workers that
    exited during an interval still count toward it."""
    table = _proc_table()
    cpu, rss = 0, 0
    for pid in tree_pids(root, table):
        f = table.get(pid)
        if f is None:
            continue
        cpu += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        rss += int(f[21])
    return cpu / _TICK, rss * _PAGE


def cpu_steal() -> tuple[int, int]:
    """(steal ticks, all ticks) of the whole machine so far. Steal is
    time a hypervisor ran someone else while this VM had work."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f[:8])


class RssSampler:
    """Background thread recording the peak resident size of the tree."""

    def __init__(self, root: int, period_s: float = 0.25):
        self.root, self.period_s, self.peak = root, period_s, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_usage(self.root)[1])
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_usage(self.root)[1])


class Tracer:
    """Spans (name, start, end, parent) kept in memory and written once
    at exit. A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self._t0, "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the time its
        direct children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, fh)


# --- Spark counters ------------------------------------------------------

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """The 'total' figure of a formatted SQL metric, in bytes, seconds or
    a plain count. Spark formats sizes and times to three digits, so
    these figures carry that precision."""
    m = _NUM.match(text.split("\n")[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


_JOIN = ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin", "BroadcastNestedLoopJoin",
         "CartesianProduct")
_AGG = ("HashAggregate", "ObjectHashAggregate", "SortAggregate")
_PY = ("FlatMapGroupsInPandas", "FlatMapGroupsInArrow", "ArrowEvalPython", "BatchEvalPython",
       "MapInPandas", "MapInArrow", "FlatMapCoGroupsInPandas", "AggregateInPandas",
       "WindowInPandas", "ArrowWindowPython", "ArrowAggregatePython")


_READ_NODES = ("Scan ", "BroadcastExchange") + _AGG + _JOIN + _PY


class SparkCounters:
    """Diffs Spark's AppStatusStore (jobs, stages, task metrics) and the
    SQL status store (per-node SQL metrics) across one action."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        self._mgmt = jvm.java.lang.management.ManagementFactory
        self._seen_jobs: set[int] = set()
        self._n_execs = 0
        self._gc_mark = 0.0
        self.mark()

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def _new_jobs(self) -> list:
        """Jobs not seen yet; the store lists the newest first."""
        jobs = self._conv.asJava(self._store.jobsList(None))
        out = []
        for i in range(jobs.size()):
            j = jobs.get(i)
            if j.jobId() in self._seen_jobs:
                break
            out.append(j)
        return out

    def _new_execs(self) -> list:
        execs = self._conv.asJava(self._sql.executionsList(self._n_execs, 1 << 20))
        return [execs.get(i) for i in range(execs.size())]

    def _gc_s(self) -> float:
        beans = self._mgmt.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3

    def mark(self) -> None:
        """Forget everything finished so far."""
        self._drain()
        self._seen_jobs.update(j.jobId() for j in self._new_jobs())
        self._n_execs += len(self._new_execs())
        self._gc_mark = self._gc_s()

    def diff(self) -> dict[str, float]:
        """Counters accumulated since the last mark()/diff()."""
        self._drain()
        c: dict[str, float] = defaultdict(float)
        gc = self._gc_s()
        # local mode: driver and executors share one JVM, so its GC
        # time is the executors' too
        c["exec.gc_s"] = gc - self._gc_mark
        self._gc_mark = gc
        for j in self._new_jobs():
            self._seen_jobs.add(j.jobId())
            c["exec.jobs"] += 1
            for sid in self._conv.asJava(j.stageIds()):
                attempts = self._conv.asJava(self._store.stageData(
                    sid, False, None, False, self._no_quantiles))
                for a in range(attempts.size()):
                    self._add_stage(attempts.get(a), c)
        for e in self._new_execs():
            if e.completionTime().isEmpty():
                break
            self._n_execs += 1
            self._sql_nodes(e.executionId(), c)
        return dict(c)

    @staticmethod
    def _add_stage(s, c: dict[str, float]) -> None:
        if str(s.status()) not in ("COMPLETE", "FAILED"):
            return  # skipped: its shuffle output was reused
        c["exec.stages"] += 1
        c["exec.tasks"] += s.numCompleteTasks()
        c["exec.executor_run_s"] += s.executorRunTime() / 1e3
        c["exec.executor_cpu_s"] += s.executorCpuTime() / 1e9
        c["sources.scan_bytes"] += s.inputBytes()
        c["sources.scan_rows"] += s.inputRecords()
        c["sources.write_bytes"] += s.outputBytes()
        c["shuffle.write_bytes"] += s.shuffleWriteBytes()
        c["shuffle.read_bytes"] += s.shuffleReadBytes()
        c["shuffle.fetch_wait_s"] += s.shuffleFetchWaitTime() / 1e3
        c["spill.memory_bytes"] += s.memoryBytesSpilled()
        c["spill.disk_bytes"] += s.diskBytesSpilled()

    def _sql_nodes(self, eid: int, c: dict[str, float]) -> None:
        values = dict(self._conv.asJava(self._sql.executionMetrics(eid)))
        for node in self._conv.asJava(self._sql.planGraph(eid).allNodes()):
            name = node.name()
            if not name.startswith(_READ_NODES):
                continue
            metrics = {m.name(): values.get(m.accumulatorId())
                       for m in self._conv.asJava(node.metrics())}
            val = {k: parse_sql_metric(v) for k, v in metrics.items() if v is not None}
            if name.startswith("Scan "):
                c["sources.files_read"] += val.get("number of files read", 0.0)
            elif name.startswith(_AGG):
                c["agg.build_s"] += val.get("time in aggregation build", 0.0)
                c["agg.peak_memory_bytes"] = max(c["agg.peak_memory_bytes"],
                                                 val.get("peak memory", 0.0))
            elif name.startswith("BroadcastExchange"):
                c["join.broadcast_bytes"] += val.get("data size", 0.0)
            elif name.startswith(_JOIN):
                c["join.output_rows"] += val.get("number of output rows", 0.0)
            elif name.startswith(_PY):
                c["ml.python_bytes_sent"] += val.get("data sent to Python workers", 0.0)
                c["ml.python_bytes_returned"] += val.get("data returned from Python workers", 0.0)
                c["ml.python_rows_returned"] += val.get("number of output rows", 0.0)

    def storage_bytes(self) -> int:
        """Memory + disk held by persisted RDD/DataFrame blocks."""
        return sum(int(r.memSize()) + int(r.diskSize()) for r in self._sc.getRDDStorageInfo())
