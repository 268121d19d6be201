"""Counters read from outside the program: /proc for the process tree and
the host, Spark's status stores for jobs and executed-plan SQL metrics,
and JMX for JVM garbage collection. Nothing here touches engine code."""

from __future__ import annotations

import os
import re
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            text = fh.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after the last ')'
    return text[text.rindex(")") + 2:].split()


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants (the JVM, the Python worker
    daemon and its forked workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the tree, including reaped children
    (a Python worker that exits is folded into its parent's cutime)."""
    total = 0
    for pid in process_tree(root):
        f = _stat_fields(pid)
        if f:
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def tree_rss_bytes(root: int) -> int:
    """Resident memory of the tree as proportional set size: forked Python
    workers share the daemon's pages, which plain RSS would count once
    per worker."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


def steal_s() -> float:
    """Host CPU time stolen by the hypervisor, all CPUs (/proc/stat)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _TICK


class RssSampler:
    """Background sampler of the tree's resident set; ``window()`` returns
    the peak since the previous call."""

    def __init__(self, root: int, period_s: float = 0.25):
        self._root, self._period = root, period_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self._period):
            rss = tree_rss_bytes(self._root)
            with self._lock:
                self._peak = max(self._peak, rss)

    def window(self) -> float:
        """Peak RSS in MB since the last call (sampled once more now)."""
        rss = tree_rss_bytes(self._root)
        with self._lock:
            peak, self._peak = max(self._peak, rss), 0
        return peak / 2**20


def gc_s(spark) -> float:
    """Cumulative garbage-collection time of the Spark JVM."""
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, beans.get(i).getCollectionTime()) for i in range(beans.size())) / 1000.0


# --- Spark status stores ---------------------------------------------------

_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A SQL-metric display string -> number (bytes, seconds or a count).
    Per-task summaries read ``total (min, med, max ...)\\n<total> (...)``;
    the total is the first value after the header."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _NUM.match(text)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1)


class SparkWatch:
    """Jobs and SQL executions of one measured region, read from the
    application's status stores after the region ends."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._n = 0

    def _last_execution(self) -> int:
        execs = self._store.executionsList()
        return execs.apply(execs.size() - 1).executionId() if execs.size() else -1

    def begin(self) -> tuple[str, int]:
        self._n += 1
        group = f"perfbench-{self._n}"
        self.sc.setJobGroup(group, group, False)
        return group, self._last_execution()

    def end(self, mark: tuple[str, int]) -> dict:
        """Job count and the summed plan metrics of the region."""
        group, after = mark
        self.sc._jsc.clearJobGroup()
        # the status stores are fed by the listener bus: drain it first
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = len(self.sc.statusTracker().getJobIdsForGroup(group))
        return {"jobs": jobs, **summarize(self.plan_nodes(after))}

    def plan_nodes(self, after: int) -> list[tuple[int, str, dict[str, float], list[int]]]:
        """(node id, name, metrics, child ids) over executions newer than
        ``after``; node ids are made unique across executions."""
        store = self._store
        execs = store.executionsList()
        out = []
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            if eid <= after:
                continue
            values = store.executionMetrics(eid)
            graph = store.planGraph(eid)
            children: dict[int, list[int]] = {}
            edges = graph.edges().iterator()
            while edges.hasNext():
                edge = edges.next()
                children.setdefault(edge.toId(), []).append(edge.fromId())
            it = graph.allNodes().iterator()
            while it.hasNext():
                node = it.next()
                metrics = {}
                mi = node.metrics().iterator()
                while mi.hasNext():
                    m = mi.next()
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        metrics[m.name()] = parse_metric(v.get())
                key = eid * 1_000_000
                out.append((key + node.id(), node.name(), metrics,
                            [key + c for c in children.get(node.id(), [])]))
        return out


def summarize(nodes) -> dict[str, float]:
    """Totals the per-layer ledger needs from a set of plan nodes."""
    def total(name_prefix: str, metric: str) -> float:
        return sum(m.get(metric, 0.0) for _, n, m, _ in nodes if n.startswith(name_prefix))

    by_id = {nid: (name, metrics, kids) for nid, name, metrics, kids in nodes}
    py_in = 0.0
    for _, name, _, kids in nodes:
        if name == "MapInPandas":
            for kid in kids:
                py_in += _rows_below(by_id, kid)
    return {
        "exchange_bytes": total("Exchange", "shuffle bytes written"),
        "exchanges": float(sum(1 for _, n, _, _ in nodes if n == "Exchange")),
        "spill_bytes": sum(m.get("spill size", 0.0) for _, _, m, _ in nodes),
        "scan_bytes": total("Scan", "size of files read"),
        "scan_rows": total("Scan", "number of output rows"),
        "py_rows_in": py_in,
        "py_rows_out": total("MapInPandas", "number of output rows"),
        "py_bytes_in": total("MapInPandas", "data sent to Python workers"),
        "py_bytes_out": total("MapInPandas", "data returned from Python workers"),
    }


def _rows_below(by_id, nid) -> float:
    """Output rows of the nearest node at or below ``nid`` that counts
    them (codegen wrappers and sorts do not)."""
    while nid in by_id:
        name, metrics, kids = by_id[nid]
        if "number of output rows" in metrics:
            return metrics["number of output rows"]
        if len(kids) != 1:
            return 0.0
        nid = kids[0]
    return 0.0


def dir_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) under a written table or text directory;
    checksum and marker files are not data."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            if name.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, name))
    return files, size


class Clock:
    """Wall, CPU and RSS of one measured region of the process tree."""

    def __init__(self, root: int, sampler: RssSampler):
        self.root, self.sampler = root, sampler

    def __enter__(self) -> "Clock":
        self.sampler.window()
        self._cpu = tree_cpu_s(self.root)
        self._steal = steal_s()
        self._t = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self._t
        self.cpu_s = tree_cpu_s(self.root) - self._cpu
        self.steal_s = steal_s() - self._steal
        self.rss_mb = self.sampler.window()
