"""Measurements taken from outside the program: the process tree through
``/proc`` (``psutil`` is not assumed), Spark's own per-operator SQL
metrics through the status store, Catalyst phase times through a query
execution listener, and JVM GC time through py4j."""

from __future__ import annotations

import os
import re
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the live tree and its reaped children."""
    ticks = 0
    for p in tree_pids(root):
        try:
            with open(f"/proc/{p}/stat") as f:
                s = f.read()
        except OSError:
            continue
        fields = s[s.rindex(")") + 2:].split()
        ticks += sum(int(v) for v in fields[11:15])
    return ticks / _CLK_TCK


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared between processes (the Python
    workers forked from one daemon share most of theirs) count once in
    total, not once per process. ``VmRSS`` where ``smaps_rollup`` is not
    readable."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return _status_kb(pid, "VmRSS:")


class PeakRss:
    """Peak resident memory of the whole process tree (this process, the
    JVM and its Python workers): the largest sum of PSS over the live
    tree, sampled on a background thread."""

    def __init__(self, root: int, period_s: float = 1.0):
        self.root = root
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        kb = sum(_pss_kb(p) for p in tree_pids(self.root))
        self.peak_kb = max(self.peak_kb, kb)

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def mb(self) -> float:
        return self.peak_kb / 1024.0


def drain(spark) -> None:
    """Wait until Spark's listener bus has delivered every event posted so
    far: the status store, the status tracker and query execution
    listeners are all filled from it asynchronously."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


class CatalystPhases:
    """A query execution listener, called back from the JVM, that keeps
    the Catalyst time (analysis, optimization and physical planning) of
    every execution that finishes. ``take()`` after ``drain`` returns the
    total since the last ``take()``."""

    PHASES = ("analysis", "optimization", "planning")

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self._ms: list[float] = []
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns) -> None:
        self._record(qe)

    def onFailure(self, func_name, qe, exception) -> None:
        self._record(qe)

    def _record(self, qe) -> None:
        phases = qe.tracker().phases()
        ms = 0.0
        for name in self.PHASES:
            p = phases.get(name)
            if p.isDefined():
                ms += p.get().durationMs()
        self._ms.append(ms)

    def take(self) -> tuple[float, int]:
        """(Catalyst ms, executions) since the last call."""
        ms, self._ms = self._ms, []
        return float(sum(ms)), len(ms)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def gc_ms(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return float(sum(beans.get(i).getCollectionTime()
                     for i in range(beans.size())))


# ------------------------------------------------------ Spark SQL metrics

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "ns": 1e-9}
_NUM = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")
_PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                 "MapInArrow", "PythonMapInArrow", "FlatMapGroupsInPandas",
                 "FlatMapCoGroupsInPandas", "AggregateInPandas",
                 "WindowInPandas")
_LOCATION = re.compile(r"Location: [^\[]*\[(?:file:)?([^\],]+)")


def _value(text: str) -> float:
    """A metric as the status store renders it: a plain number, a size or
    a duration, or a ``total (min, med, max ...)`` line whose total is
    read."""
    if text.startswith("total"):
        text = text.split("\n", 1)[1]
    m = _NUM.match(text.strip())
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    return v * _UNITS.get(m.group(2), 1.0)


def parquet_sizes(path: str | None) -> dict[str, int]:
    """Size of every parquet file under ``path`` (or of ``path`` itself)."""
    if not path:
        return {}
    if os.path.isfile(path):
        return {path: os.path.getsize(path)}
    out = {}
    for base, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(base, f)
                out[p] = os.path.getsize(p)
    return out


class SqlMetrics:
    """Sums Spark's per-node SQL metrics over the executions that started
    since the last call, keyed by the layer they belong to."""

    def __init__(self, spark):
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.seen = self._max_id()
        self.files_cache: dict[str, int] = {}

    def _max_id(self) -> int:
        ex = self.store.executionsList()
        return ex.apply(ex.size() - 1).executionId() if ex.size() else -1

    def collect(self) -> dict[str, float]:
        out = dict.fromkeys(("scan.files_read", "scan.files_total",
                             "scan.rows", "python.rows", "join.rows",
                             "exchange.bytes", "spill.bytes"), 0.0)
        last = self._max_id()
        for eid in range(self.seen + 1, last + 1):
            try:
                graph = self.store.planGraph(eid)
            except Exception:  # execution evicted or never registered
                continue
            values = self.store.executionMetrics(eid)
            nodes = graph.allNodes()
            for i in range(nodes.size()):
                self._node(nodes.apply(i), values, out)
        self.seen = last
        return out

    def _node(self, node, values, out) -> None:
        name = node.name()
        ms = node.metrics()
        got = {}
        for j in range(ms.size()):
            m = ms.apply(j)
            v = values.get(m.accumulatorId())
            if v.isDefined():
                got[m.name()] = _value(v.get())
        out["spill.bytes"] += got.get("spill size", 0.0)
        if name.startswith("Scan"):
            out["scan.rows"] += got.get("number of output rows", 0.0)
            if "number of files read" in got:
                out["scan.files_read"] += got["number of files read"]
                loc = _LOCATION.search(node.desc())
                if loc:
                    path = loc.group(1)
                    if path not in self.files_cache:
                        self.files_cache[path] = len(parquet_sizes(path))
                    out["scan.files_total"] += self.files_cache[path]
        elif name.startswith(_PYTHON_NODES):
            out["python.rows"] += got.get("number of output rows", 0.0)
        elif "HashJoin" in name or "NestedLoopJoin" in name \
                or name.startswith("SortMergeJoin"):
            out["join.rows"] += got.get("number of output rows", 0.0)
        elif name.startswith("Exchange"):
            out["exchange.bytes"] += got.get("shuffle bytes written", 0.0)
        elif name.startswith("BroadcastExchange"):
            out["exchange.bytes"] += got.get("data size", 0.0)
