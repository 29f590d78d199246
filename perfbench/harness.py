"""Measurement plumbing: spans, Spark work per span, process-tree RSS.

Spans are recorded from outside the engine, around calls into its public
functions. Each span that may run Spark work gets its own job group, and
its jobs, stages and tasks are counted per group through the status
tracker — counting by group, not by global deltas, keeps the counts exact
past Spark's retained-jobs cap.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile for q in (0, 1); q=0.5 is the usual median."""
    if not values:
        raise ValueError("quantile of no values")
    if q == 0.5:
        return float(statistics.median(values))
    s = sorted(values)
    return float(s[max(0, math.ceil(q * len(s)) - 1)])


class Tracer:
    """In-memory spans: name, trace id, span id, parent, start, end, plus
    Spark jobs/stages/tasks run under the span's own job group.

    With ``enabled=False`` every call is a no-op, so the untraced path
    pays nothing but a context-manager entry."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next = 0
        self.sc = None  # set once a SparkContext exists

    @contextmanager
    def span(self, name: str, trace_id: int | None = None):
        if not self.enabled:
            yield None
            return
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "span_id": self._next,
            "parent": parent["span_id"] if parent else None,
            "trace_id": trace_id if trace_id is not None
            else (parent["trace_id"] if parent else self._next),
            "start": time.perf_counter(),
        }
        group = f"bench-span-{self._next}"
        if self.sc is not None:
            self.sc.setJobGroup(group, name)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                rec.update(count_group(self.sc, group))
                if parent is not None:
                    self.sc.setJobGroup(f"bench-span-{parent['span_id']}", parent["name"])
                else:
                    self.sc.setJobGroup("bench-outside-spans", "")
            self.spans.append(rec)

    def self_times(self) -> dict[str, list[float]]:
        """Per span name, each span's duration minus its children's."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, list[float]] = defaultdict(list)
        for s in self.spans:
            out[s["name"]].append(s["end"] - s["start"] - child[s["span_id"]])
        return out

    def field(self, name: str, key: str) -> list[float]:
        return [s[key] for s in self.spans if s["name"] == name and key in s]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def count_group(sc, group: str) -> dict[str, int]:
    """Jobs, stages and tasks Spark ran under one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is not None:
                stages += 1
                tasks += si.numTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def _tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids[ppid].append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids[pid])
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident set size of ``root`` and all its descendants."""
    total = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            continue
    return total


def tree_cpu_s(root: int) -> float:
    """CPU seconds used by ``root`` and its descendants, exited ones
    included (a reaped child's time is in its parent's cutime/cstime)."""
    ticks = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """Machine-wide CPU time stolen by the hypervisor so far."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Background sampler of the driver JVM's process tree (the JVM and
    the Python workers it forks); keeps the peak."""

    def __init__(self, pid: int, interval_s: float = 0.5):
        self.pid, self.interval = pid, interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.pid))
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(self.pid))
