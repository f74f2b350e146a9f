"""Measurement plumbing shared by the workloads: spans, Spark job-group
counts, process-tree memory sampling and summary statistics.

Everything here observes the program from outside: spans wrap calls into
the engine's modules, job counts are read back through
``SparkContext.statusTracker()``, and memory is read from ``/proc``.
"""

from __future__ import annotations

import functools
import os
import statistics
import threading
import time
from contextlib import contextmanager


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ------------------------------------------------------------------ spans

class Tracer:
    """In-memory span recorder. Disabled, it records nothing and adds no
    job groups, so an untraced run pays only a no-op context manager.

    A span is ``{id, name, parent, run_id, start, end}`` plus, when it
    owns a Spark job group, that group's job/stage/task counts.
    """

    def __init__(self, run_id: str, enabled: bool, sc=None):
        self.run_id = run_id
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, jobs: bool = False):
        """Record a span; with ``jobs=True`` also run the body in a fresh
        Spark job group and attach its job/stage/task counts."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        with self._lock:
            rec = {"id": len(self.spans), "name": name,
                   "parent": stack[-1] if stack else None,
                   "run_id": self.run_id, "start": time.perf_counter(),
                   "end": None}
            self.spans.append(rec)
        stack.append(rec["id"])
        prev_group = None
        if jobs and self.sc is not None:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            rec["group"] = f"{self.run_id}:{rec['id']}"
            self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if "group" in rec:
                rec.update(group_counts(self.sc, rec["group"]))
                self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, owner, attr: str, name, jobs: bool = True):
        """Replace ``owner.attr`` (a function or method) with a spanned
        wrapper; ``name`` is a span name or a function of the call's
        arguments returning one."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def spanned(*a, **kw):
            label = name(*a, **kw) if callable(name) else name
            with tracer.span(label, jobs=jobs):
                return orig(*a, **kw)

        setattr(owner, attr, spanned)

    # --------------------------------------------------------- summaries

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"]]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.named(name)]

    def total(self, name: str, key: str) -> int:
        return sum(s.get(key, 0) for s in self.named(name))

    def spark_totals(self, first: int, last: int) -> dict[str, int]:
        """``spark.*`` counts summed over the job groups of spans
        ``first:last`` (one pass); each job belongs to its innermost
        group, so nothing is counted twice."""
        spans = self.spans[first:last]
        return {f"spark.{k}": sum(s.get(k, 0) for s in spans)
                for k in ("jobs", "stages", "tasks", "failed_tasks")}

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its direct
        children cover (children of one span never overlap: the loop is
        closed and single-client)."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"]:
                child[s["parent"]] = child.get(s["parent"], 0.0) + (
                    s["end"] - s["start"])
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"]:
                d = s["end"] - s["start"] - child.get(s["id"], 0.0)
                out[s["name"]] = out.get(s["name"], 0.0) + d
        return out


def group_counts(sc, group: str) -> dict:
    """Jobs, executed stages, tasks and failed tasks of one job group, read
    from the status tracker right after the group's work completed (the
    tracker retains a bounded number of jobs, so reading late loses
    them). Skipped stages (reused shuffles) have no completed tasks and
    are not counted."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    seen = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            si = st.getStageInfo(sid)
            if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                continue
            stages += 1
            tasks += si.numCompletedTasks
            failed += si.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
            "failed_tasks": failed}


def pinned_rdds(sc) -> int:
    """RDDs currently persisted in the session (cache state a step leaves
    behind for the next one)."""
    return int(sc._jsc.sc().getPersistentRDDs().size())


# ---------------------------------------------------------------- memory

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _tree_pss(root: int) -> int:
    """Resident bytes of a process tree, as PSS: pages shared between
    processes (a JVM and its short-lived forks, the Python daemon and its
    forked workers) are split between them instead of counted in each."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM, the driver Python and the Python workers), sampled every
    ``interval`` seconds on a background thread. One sample of a JVM with
    a few GB resident costs 60-80 ms of kernel time, taken from the cores
    the run is timed on, so samples are sparse."""

    def __init__(self, interval: float = 2.0):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_pss(me))
            self._stop.wait(self.interval)

    def start(self):
        self._t.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._t.join()
        self.peak = max(self.peak, _tree_pss(os.getpid()))
        return self.peak / 2**20
