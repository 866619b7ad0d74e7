"""Spans, Spark work counts and process counters, read from outside the package.

A span records name, start, end, parent and request id, plus the Spark jobs,
stages and tasks that ran under it: each span runs in its own job group and
the counts come from ``statusTracker()``, which works with the UI off.  Spans
stay in memory and are written as JSON when the run ends.  A disabled tracer
(the untraced run) records nothing and sets no job group.
"""

from __future__ import annotations

import contextlib
import json
import os
import time


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0
        # seconds spent in the tracer's own bookkeeping (job groups, status
        # tracker reads): the only work a traced run adds to an untraced one
        self.own_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": self._next_id,
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": request or (parent["request"] if parent else None),
            "group": f"perfbench-{self._next_id}",
        }
        self.sc.setJobGroup(rec["group"], name, interruptOnCancel=False)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        self.own_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec.update(self._job_counts(rec["group"]))
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"],
                                    interruptOnCancel=False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(rec)
            self.own_s += time.perf_counter() - rec["end"]

    def _job_counts(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else []:
                si = st.getStageInfo(s)
                if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                stages += 1
                tasks += si.numCompletedTasks
                failed += si.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
                "failed_tasks": failed}

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self_times(self.spans),
                       "tracer_own_s": self.own_s}, f, indent=1)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: total duration minus the time its child spans cover.

    Spans of one thread nest, so the children of a span never overlap and
    their durations can be summed."""
    child_s: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: dict[str, float] = {}
    for s in spans:
        own = s["end"] - s["start"] - child_s.get(s["id"], 0.0)
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


def run_and_walk_plan(df) -> dict[str, int]:
    """Execute ``df`` and drop its rows (a noop sink), then walk the
    executed physical plan, adaptive stages included, and sum each SQL
    metric by ``<node name>.<metric>``."""
    qe = df._jdf.queryExecution()
    qe.toRdd().count()
    out: dict[str, int] = {}
    stack = [qe.executedPlan()]
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        metrics = node.metrics()
        keys = metrics.keysIterator()
        while keys.hasNext():
            key = keys.next()
            name = f"{node.nodeName()}.{key}"
            out[name] = out.get(name, 0) + int(metrics.apply(key).value())
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return out


def driver_gc_ms(spark) -> int:
    """Collection time summed over the Spark JVM's garbage collectors."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(int(b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans())


def descendants(root_pid: int) -> set[int]:
    """Live processes below ``root_pid`` in the process tree."""
    parent_of: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        # the command name may hold spaces and parentheses; state and
        # ppid follow it
        state, ppid = stat.rsplit(")", 1)[1].split()[:2]
        if state != "Z":
            parent_of[int(entry)] = int(ppid)
    tree = {root_pid}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent_of.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return tree - {root_pid}


def tree_peak_rss_mb() -> float:
    """Sum of the peak RSS (VmHWM) of this process and all its live
    descendants: this Python process, the JVM and the Python workers."""
    kb = 0
    for pid in descendants(os.getpid()) | {os.getpid()}:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def tree_cpu_s() -> float:
    """CPU seconds, user and system, used so far by this process and its
    live descendants (the JVM and the Python workers), each with the
    children it has reaped."""
    ticks = 0
    for pid in descendants(os.getpid()) | {os.getpid()}:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime: fields 14-17 of stat(5)
        ticks += sum(int(v) for v in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")
