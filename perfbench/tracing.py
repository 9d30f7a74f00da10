"""Measurement helpers that sit outside the engine.

- ``Tracer`` records spans (name, layer, start, end, parent) around
  calls the benchmark makes into the engine's modules, and derives each
  layer's self time.
- ``ProcTree`` reads CPU time and resident memory of a process and all
  its descendants (the Python driver, its JVM and the JVM's Python
  workers) from ``/proc``.
- ``job_group_metrics`` reads Spark's own status store for every stage
  run under one job group; it needs no UI and no engine change.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# --- spans -----------------------------------------------------------------
class Tracer:
    """In-memory span recorder; spans nest by call order."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "layer": layer, "parent": parent,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()


def covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) - covered(children.get(s["id"], []))
            for s in spans}


def layer_self_times(spans: list[dict]) -> dict[str, float]:
    out: dict[str, float] = {}
    for sid, t in self_times(spans).items():
        layer = spans[sid]["layer"]
        out[layer] = out.get(layer, 0.0) + t
    return out


# --- process tree ----------------------------------------------------------
def proc_stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state first)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            data = fh.read()
    except OSError:
        return None
    # comm may contain spaces; the fields after its closing paren do not
    return data[data.rindex(")") + 2:].split()


class ProcTree:
    """A root process and its live descendants."""

    def __init__(self, root: int) -> None:
        self.root = root

    def pids(self) -> list[int]:
        parent: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = proc_stat(int(name))
                if st is not None:
                    parent[int(name)] = int(st[1])
        tree, frontier = [self.root], [self.root]
        while frontier:
            frontier = [p for p, pp in parent.items() if pp in frontier]
            tree.extend(frontier)
        return tree

    def cpu_s(self) -> float:
        """user+sys CPU of the live tree, including reaped children."""
        total = 0
        for pid in self.pids():
            st = proc_stat(pid)
            if st is not None:
                total += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
        return total / _CLK_TCK

    def rss_bytes(self) -> int:
        total = 0
        for pid in self.pids():
            st = proc_stat(pid)
            if st is not None:
                total += int(st[21]) * _PAGE
        return total


class PeakRss:
    """Background sampler of a ProcTree's summed RSS."""

    def __init__(self, tree: ProcTree, interval: float = 0.25) -> None:
        self.tree, self.interval, self.peak = tree, interval, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.tree.rss_bytes())
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# --- Spark status store ----------------------------------------------------
def job_group_metrics(spark, group: str) -> dict:
    """Sum the status-store metrics of every stage that ran under
    ``group``.  ``task_skew`` is the largest max/median task run time
    over those stages (1.0 means perfectly even tasks)."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    job_ids = list(tracker.getJobIdsForGroup(group))
    stage_ids = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    out = {"jobs": len(job_ids), "stages": 0, "tasks": 0, "executor_cpu_s": 0.0,
           "gc_s": 0.0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
           "spill_bytes": 0, "task_skew": 1.0}
    for sid in sorted(stage_ids):
        sd = store.lastStageAttempt(sid)
        if sd.status().toString() != "COMPLETE":
            continue  # skipped: its output was reused from an earlier stage
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks()
        out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
        out["gc_s"] += sd.jvmGcTime() / 1e3
        out["shuffle_read_bytes"] += sd.shuffleReadBytes()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        summary = store.taskSummary(sid, sd.attemptId(), quantiles)
        if summary.isDefined():
            run = summary.get().executorRunTime()
            med, mx = run.apply(0), run.apply(1)
            if med > 0:
                out["task_skew"] = max(out["task_skew"], mx / med)
    return out
