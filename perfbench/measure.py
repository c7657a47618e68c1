"""Measurement helpers: process-tree CPU/RSS and host steal from /proc,
spans around layer calls, and Spark SQLMetrics read off executed plans.

Nothing here runs inside the engine; every probe sits in the benchmark's own
process, around calls into the engine's public functions.
"""

from __future__ import annotations

import os
import re
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# --------------------------------------------------------------------------
# /proc: process tree, CPU, RSS, steal
# --------------------------------------------------------------------------


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces; fields after the closing paren are fixed
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """root and every live descendant (JVM, Python workers and daemons)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the tree, reaped children included, so
    short-lived Python workers still count once their parent waits on them."""
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are stat fields 14-17
            total += sum(int(v) for v in fields[11:15])
    return total / _CLK


def _tree_rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    return int(parts[8]), sum(int(v) for v in parts[1:11])


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    return 100.0 * (after[0] - before[0]) / max(1, after[1] - before[1])


class RssSampler:
    """Background sampler of the process tree's summed RSS. ``take_peak``
    returns the peak since the previous call and starts a new window."""

    def __init__(self, root: int, interval: float = 0.1):
        self._root = root
        self._interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self):
        pids, refreshed = tree_pids(self._root), time.monotonic()
        while not self._stop.wait(self._interval):
            if time.monotonic() - refreshed > 2.0:
                pids, refreshed = tree_pids(self._root), time.monotonic()
            rss = _tree_rss_bytes(pids)
            with self._lock:
                self._peak = max(self._peak, rss)

    def take_peak(self) -> int:
        with self._lock:
            peak, self._peak = self._peak, _tree_rss_bytes(tree_pids(self._root))
        return peak


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


class Tracer:
    """Spans around layer calls. A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple[str, float, float]] = []

    def span(self, name: str):
        return _Span(self, name)

    def seconds(self, name: str) -> float:
        return sum(end - start for n, start, end in self.spans if n == name)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        if self.tracer.enabled:
            self.tracer.spans.append((self.name, self.start, time.perf_counter()))


# --------------------------------------------------------------------------
# SQLMetrics
# --------------------------------------------------------------------------
#
# A plan node is (name, {metric key: value}, [children]); values are raw
# SQLMetric values: counts, bytes, and milliseconds for timing metrics.

_QUERY_STAGES = {
    "ShuffleQueryStageExec",
    "BroadcastQueryStageExec",
    "TableCacheQueryStageExec",
    "ResultQueryStageExec",
}


def executed_plan(df):
    """Tree of the plan ``df`` ran with. Only call after an action on this
    DataFrame: on an unexecuted adaptive plan ``finalPhysicalPlan`` would
    run the query stages itself."""
    return _walk(df._jdf.queryExecution().executedPlan())


def _walk(p):
    cls = p.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        # a children() walk stops here: the final plan hangs off the node
        return _walk(p.finalPhysicalPlan())
    if cls in _QUERY_STAGES:
        return _walk(p.plan())
    metrics = {}
    it = p.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        metrics[kv._1()] = kv._2().value()
    ch = p.children()
    return (p.nodeName(), metrics, [_walk(ch.apply(i)) for i in range(ch.size())])


# display name in the SQL status store -> SQLMetric key in the plan
_DISPLAY_KEYS = {
    "number of output rows": "numOutputRows",
    "data sent to Python workers": "pythonDataSent",
    "time to run Python workers": "pythonTotalTime",
    "time to initialize Python workers": "pythonInitTime",
    "shuffle bytes written": "shuffleBytesWritten",
    "written output": "numOutputBytes",
}
_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000,
}
_VALUE = re.compile(r"^\s*([\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def _parse_display(text: str) -> float:
    """'359,384' | '8.4 MiB' | 'total (min, med, max ...)\\n11.7 s (...)'
    -> the total in raw units (count, bytes, ms)."""
    m = _VALUE.match(text.splitlines()[-1])
    if not m:
        raise ValueError(f"unparsed SQL metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


class ExecutionLog:
    """SQL executions recorded by Spark's own status store: the plans of
    commands the benchmark cannot hold (writes inside ``Pipeline.stage``
    run under a fresh QueryExecution). ``mark`` then ``plans_since``."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> int:
        ids = self._ids()
        return max(ids) if ids else -1

    def _ids(self) -> list[int]:
        lst = self._store.executionsList()
        return [lst.apply(i).executionId() for i in range(lst.size())]

    def plans_since(self, mark: int) -> list:
        return [self._graph(i) for i in self._ids() if i > mark]

    def _graph(self, exec_id: int):
        values = self._store.executionMetrics(exec_id)
        graph = self._store.planGraph(exec_id)
        nodes, kids = {}, {}
        jnodes = graph.allNodes()
        for i in range(jnodes.size()):
            nd = jnodes.apply(i)
            metrics = {}
            jm = nd.metrics()
            for j in range(jm.size()):
                m = jm.apply(j)
                key = _DISPLAY_KEYS.get(m.name())
                v = values.get(m.accumulatorId())
                if key and v.isDefined():
                    metrics[key] = _parse_display(v.get())
            nodes[nd.id()] = (nd.name().strip(), metrics)
        jedges = graph.edges()
        child_ids = set()
        for i in range(jedges.size()):
            e = jedges.apply(i)  # edge from child to parent
            kids.setdefault(e.toId(), []).append(e.fromId())
            child_ids.add(e.fromId())

        def build(nid):
            name, metrics = nodes[nid]
            return (name, metrics, [build(c) for c in kids.get(nid, ())])

        roots = [nid for nid in nodes if nid not in child_ids]
        return ("Execution", {}, [build(r) for r in roots])


def iter_nodes(tree):
    yield tree
    for child in tree[2]:
        yield from iter_nodes(child)


def metric_sum(trees, node: str, key: str) -> float:
    """Sum of one metric over every node of that name, across plans."""
    return sum(
        n[1].get(key, 0)
        for t in trees
        for n in iter_nodes(t)
        if n[0].strip() == node
    )


def scan_side(trees) -> tuple[float, float]:
    """(rows out of the parquet scan, rows out of the first Filter above it):
    scan and geotag-filter cardinalities of the points side."""
    scan = geotag = 0.0

    def visit(node, filt):
        nonlocal scan, geotag
        name = node[0].strip()
        if name == "Filter":
            filt = node
        elif "Join" in name or name.startswith("MapIn") or name == "Exchange":
            filt = None  # a Filter above these is not on the scan's path
        if name.startswith("Scan parquet"):
            scan += node[1].get("numOutputRows", 0)
            if filt is not None:
                geotag += filt[1].get("numOutputRows", 0)
        for child in node[2]:
            visit(child, filt)

    for t in trees:
        visit(t, None)
    return scan, geotag
