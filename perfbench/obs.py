"""Measurement helpers: spans, Spark status-store counters, /proc readings.

Everything here is read from outside the program: spans wrap the
benchmark's own calls into the program's modules, Spark counters come from
the SQL status store and the job status tracker (both work with the UI
disabled), and memory and CPU weather come from /proc.
"""

from __future__ import annotations

import gc
import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager


# ----------------------------------------------------------------- spans
class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out once
    at the end. A disabled tracer records nothing and costs one branch."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part covered
        by direct children."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            dur = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + dur
        return out

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def median(xs) -> float:
    return float(statistics.median(xs))


# ------------------------------------------------------ Spark counters
_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_TIME_MS = {"ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "min": 6e4, "h": 3.6e6}
_NUM = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")

# status-store metric name -> (benchmark counter, kind)
SQL_METRICS = {
    "data sent to Python workers": ("spark.python.sent_bytes", "size"),
    "data returned from Python workers": ("spark.python.returned_bytes", "size"),
    "time to start Python workers": ("spark.python.boot_ms", "time"),
    "time to initialize Python workers": ("spark.python.init_ms", "time"),
    "time to run Python workers": ("spark.python.run_ms", "time"),
    "shuffle bytes written": ("spark.shuffle.write_bytes", "size"),
    "shuffle write time": ("spark.shuffle.write_ms", "time"),
}


def _parse_metric(text: str, kind: str) -> float:
    """Status-store values are display strings, e.g. '12.3 MiB' or
    'total (min, med, max (stageId: taskId))\\n1.2 s (…)'; the total is the
    first number on the last line."""
    m = _NUM.match(text.split("\n")[-1])
    if not m:
        return 0.0
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    if kind == "size":
        return value * _SIZE.get(unit, 1)
    if kind == "count":
        return value
    return value * _TIME_MS.get(unit, 1.0)


class SparkCounters:
    """Sums of selected SQL metrics over the executions that ran since
    mark(), plus job and task counts of a job group."""

    def __init__(self, spark):
        self.spark = spark
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.tracker = spark.sparkContext.statusTracker()
        self._last = self._max_id()

    def _max_id(self) -> int:
        ex = self.store.executionsList()
        return max((ex.apply(i).executionId() for i in range(ex.size())), default=-1)

    def mark(self) -> None:
        self._last = self._max_id()

    def sql_since_mark(self) -> dict[str, float]:
        out = {name: 0.0 for name, _ in SQL_METRICS.values()}
        ex = self.store.executionsList()
        for i in range(ex.size()):
            e = ex.apply(i)
            if e.executionId() <= self._last:
                continue
            values = self.store.executionMetrics(e.executionId())
            it = e.metrics().iterator()
            while it.hasNext():
                pm = it.next()
                hit = SQL_METRICS.get(pm.name())
                if hit is None:
                    continue
                v = values.get(pm.accumulatorId())
                if v.isDefined():
                    out[hit[0]] += _parse_metric(v.get(), hit[1])
        self._last = self._max_id()
        return out

    def python_rows(self) -> list[tuple[str, int, int]]:
        """(node name, rows in, rows out) of every Python map node
        (MapInPandas, MapInArrow) of the executions since mark(), top-most
        node of each plan first. Rows in is the row count of the nearest
        node below it that counts rows."""
        out = []
        ex = self.store.executionsList()
        for i in range(ex.size()):
            e = ex.apply(i)
            if e.executionId() <= self._last:
                continue
            values = self.store.executionMetrics(e.executionId())
            graph = self.store.planGraph(e.executionId())
            names, rows, below = {}, {}, {}
            nodes = graph.allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                names[node.id()] = node.name()
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    v = values.get(m.accumulatorId())
                    if m.name() == "number of output rows" and v.isDefined():
                        rows[node.id()] = int(_parse_metric(v.get(), "count"))
            edges = graph.edges()
            for k in range(edges.size()):  # edges point from child to parent
                below.setdefault(edges.apply(k).toId(), []).append(edges.apply(k).fromId())
            # node ids follow the plan top-down
            for nid in sorted(n for n, name in names.items() if name.startswith("MapIn")):
                child = below.get(nid, [None])[0]
                while child is not None and child not in rows:
                    child = below.get(child, [None])[0]
                out.append((names[nid], rows.get(child, 0), rows.get(nid, 0)))
        self._last = self._max_id()
        return out

    def jobs_tasks(self, group: str) -> tuple[int, int]:
        jobs = self.tracker.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                st = self.tracker.getStageInfo(sid)
                tasks += st.numTasks if st else 0
        return len(jobs), tasks


# ------------------------------------------------------------------ /proc
def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def python_rss_kb(root: int) -> dict[int, int]:
    """Resident KiB of every Python process in the tree under `root`
    (`root` included), by pid. Other processes (the driver JVM) are walked,
    not counted."""
    seen: dict[int, int] = {}
    todo = [root]
    while todo:
        p = todo.pop()
        if p in seen:
            continue
        seen[p] = _rss_kb(p) if _comm(p).startswith("python") else 0
        todo.extend(_children(p))
    return {p: kb for p, kb in seen.items() if kb}


def jvm_live_heap_mb(spark) -> float:
    """Heap the driver JVM still uses after a full collection. Python is
    collected first, so that JVM objects held only by dead py4j proxies are
    released; the JVM is then collected until two readings agree within
    1 MB, because Spark's context cleaner frees broadcasts and shuffle
    state on its own thread once a collection has found them unreachable."""
    gc.collect()
    bean = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = None
    for _ in range(10):
        bean.gc()
        prev, used = used, bean.getHeapMemoryUsage().getUsed() / 2**20
        if prev is not None and abs(prev - used) < 1.0:
            break
        time.sleep(0.5)
    return used


class RssSampler:
    """Background sampler of the summed RSS of this process and the Python
    workers under it (daemon and workers, children of the driver JVM);
    reports the peak and its split by process."""

    def __init__(self, root: int, period_s: float = 0.2):
        self.root = root
        self.period_s = period_s
        self.peak_mb = 0.0
        self.peak_split: dict[int, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        split = python_rss_kb(self.root)
        total = sum(split.values()) / 1024.0
        if total > self.peak_mb:
            self.peak_mb = total
            self.peak_split = {p: kb / 1024.0 for p, kb in split.items()}

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def weather(before: list[int], after: list[int]) -> dict[str, float]:
    """1-min loadavg now and the CPU steal share between two /proc/stat
    readings (field 8 is steal)."""
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta) or 1
    return {
        "loadavg_1m": os.getloadavg()[0],
        "steal_frac": delta[7] / total if len(delta) > 7 else 0.0,
    }
