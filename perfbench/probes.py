"""Instruments the benchmark reads from outside the engine.

* ``Tracer``: spans kept in memory, recorded around calls into the engine's
  public functions (by wrapping module attributes for the length of a
  traced op) and at ledger step boundaries; written out when the run ends.
* ``MemorySampler``: peak summed RSS of the driver JVM and every process
  under it (the Python daemon and workers), sampled from ``/proc``.
* Spark's own counters: ``ArrowEvalPython`` SQL metrics from an executed
  plan, job ids per job group, shuffle bytes per stage.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def _ancestors(self, s: dict):
        while s["parent"] is not None:
            s = self.spans[s["parent"]]
            yield s

    def seconds(self, name: str, within: dict, outside: str | None = None) -> float:
        """Summed duration of ``name`` spans nested anywhere under ``within``,
        leaving out those nested under a span named ``outside``."""
        total = 0.0
        for s in self.spans:
            if s["name"] != name or "end" not in s:
                continue
            up = list(self._ancestors(s))
            if within in up and not any(a["name"] == outside for a in up):
                total += s["end"] - s["start"]
        return total

    @contextmanager
    def wrapping(self, targets: list[tuple[object, str]]):
        """Record a span around every call of ``module.attr`` (or
        ``Class.method``) while open."""
        saved = []
        for mod, attr in targets:
            fn = getattr(mod, attr)
            name = f"{mod.__name__.rsplit('.', 1)[-1]}.{attr}"

            def traced(*a, _fn=fn, _name=name, **kw):
                with self.span(_name):
                    return _fn(*a, **kw)

            saved.append((mod, attr, fn))
            setattr(mod, attr, traced)
        try:
            yield self
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=0)


def process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its descendants, from ``/proc/*/stat``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def rss_bytes(pids: list[int]) -> int:
    """Summed resident set size; pages shared between processes (the forked
    Python workers share most of theirs with the daemon) count once per
    process."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class MemorySampler:
    """Samples the summed RSS of a process tree on a background thread, and
    keeps its peak, with the root's share, per lap."""

    def __init__(self, root_pid: int, interval_s: float = 0.1):
        self.root = root_pid
        self.interval = interval_s
        self.peak = 0
        self.peak_root = 0  # the root's (the JVM's) share of the peak
        self.pids: set[int] = set()
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        pids = process_tree(self.root)
        self.pids.update(pids)
        total = rss_bytes(pids)
        with self._lock:
            if total > self.peak:
                self.peak, self.peak_root = total, rss_bytes([self.root])

    def lap(self) -> tuple[int, int]:
        """(peak, root's share of it) since the previous lap; starts a new one."""
        self._sample()
        with self._lock:
            out = self.peak, self.peak_root
            self.peak = self.peak_root = 0
        return out

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# --- Spark-side counters ----------------------------------------------------

def force(df) -> int:
    """Execute ``df``'s plan with no sink (the no-op write): rows are
    produced and dropped JVM-side, and the plan's SQL metrics stay on
    ``df._jdf.queryExecution().executedPlan()``."""
    return df._jdf.queryExecution().toRdd().count()


def _plan_nodes(plan):
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _plan_nodes(plan.executedPlan())
        return
    if name.endswith("QueryStageExec"):
        yield from _plan_nodes(plan.plan())
        return
    yield plan
    it = plan.children().iterator()
    while it.hasNext():
        yield from _plan_nodes(it.next())


ARROW_METRICS = ("pythonBootTime", "pythonInitTime", "pythonTotalTime",
                 "pythonDataSent", "pythonDataReceived")


def arrow_eval_metrics(df) -> dict[str, int]:
    """``ArrowEvalPython`` SQL metrics summed over the nodes of ``df``'s
    executed plan (times in ms, data in bytes).  Call after ``force(df)``."""
    out = dict.fromkeys(ARROW_METRICS, 0)
    for node in _plan_nodes(df._jdf.queryExecution().executedPlan()):
        if not node.getClass().getSimpleName().startswith("ArrowEvalPython"):
            continue
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() in out:
                out[kv._1()] += int(kv._2().value())
    return out


class JobGroup:
    """Counts the Spark jobs, and their stages' shuffle bytes, of one op."""

    _n = 0

    def __init__(self, spark, label: str):
        JobGroup._n += 1
        self.sc = spark.sparkContext
        self.id = f"perfbench-{os.getpid()}-{JobGroup._n}-{label}"

    def __enter__(self):
        self.sc.setJobGroup(self.id, self.id)
        return self

    def __exit__(self, *exc):
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def jobs(self) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(self.id))

    def shuffle_write_bytes(self) -> int:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        total = 0
        for job in self.jobs():
            info = self.sc.statusTracker().getJobInfo(job)
            for stage in (info.stageIds if info else ()):
                try:
                    total += int(store.lastStageAttempt(stage).shuffleWriteBytes())
                except Exception:  # stage never ran (skipped): no entry
                    continue
        return total


def dir_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    """(bytes, files) of regular files under ``path`` ending in ``suffix``."""
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return size, files
