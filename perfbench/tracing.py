"""Spans, Spark job counts, peak memory and the host record.

A span is (name, start, end, parent, op). Spans time every measured call
in both modes, so end-to-end and per-layer figures come from one clock.
With tracing on, each span also runs under its own Spark job group, and
the jobs, tasks and failed tasks of that group are read afterwards from
``SparkContext.statusTracker()`` (the driver's in-process status store;
it works with the Spark UI disabled).
"""

from __future__ import annotations

import os
import platform
import subprocess
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    group: str | None
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    self_s: float = 0.0
    children: list = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc, traced: bool):
        self.sc = sc
        self.traced = traced
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        group = f"perfbench-{sid}" if self.traced else None
        if group:
            self.sc.setJobGroup(group, name)
        s = Span(sid, name, time.perf_counter(), 0.0,
                 parent.sid if parent else None, op, group)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)
            if parent is not None:
                parent.children.append(s)
            if group:
                if parent is not None and parent.group:
                    self.sc.setJobGroup(parent.group, parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def walls(self, name: str) -> list[float]:
        return [s.wall for s in self.named(name)]

    def finish(self, timeout_s: float = 30.0) -> None:
        """Derive self time, then (traced) read job counts per span.
        Waits until the status store has seen every job end, because the
        listener bus delivers job and task events asynchronously."""
        for s in self.spans:
            s.self_s = s.wall - _covered(s, s.children)
        if not self.traced:
            return
        st = self.sc.statusTracker()
        deadline = time.monotonic() + timeout_s
        for s in self.spans:
            if s.group is None:
                continue
            for jid in st.getJobIdsForGroup(s.group):
                info = st.getJobInfo(jid)
                while (
                    info is not None
                    and info.status not in ("SUCCEEDED", "FAILED")
                    and time.monotonic() < deadline
                ):
                    time.sleep(0.05)
                    info = st.getJobInfo(jid)
                if info is None:
                    continue
                s.jobs += 1
                for sid in info.stageIds:
                    si = st.getStageInfo(sid)
                    if si is not None:
                        s.tasks += si.numCompletedTasks
                        s.failed_tasks += si.numFailedTasks

    def subtree(self, s: Span) -> tuple[int, int, int]:
        """(jobs, tasks, failed tasks) of a span and its descendants."""
        j, t, f = s.jobs, s.tasks, s.failed_tasks
        for c in s.children:
            cj, ct, cf = self.subtree(c)
            j, t, f = j + cj, t + ct, f + cf
        return j, t, f

    def dump(self) -> list[dict]:
        return [
            {
                "sid": s.sid, "name": s.name, "op": s.op, "parent": s.parent,
                "start": round(s.start, 6), "end": round(s.end, 6),
                "self_ms": round(s.self_s * 1e3, 3), "jobs": s.jobs,
                "tasks": s.tasks, "failed_tasks": s.failed_tasks,
            }
            for s in sorted(self.spans, key=lambda s: s.sid)
        ]


def _covered(s: Span, children: list[Span]) -> float:
    """Length of the union of the children's intervals inside ``s``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for c in sorted(children, key=lambda c: c.start):
        lo, hi = max(c.start, s.start), min(c.end, s.end)
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# --------------------------------------------------------------- memory

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree_rss_bytes(root: int) -> tuple[int, int]:
    """(Python, JVM) resident bytes of ``root`` and all its descendants:
    the Python driver and the JVM's Python workers, and the JVM. Pages
    shared between forked workers are counted once per process."""
    children: dict[int, list[int]] = {}
    rss: dict[int, tuple[int, bool]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:
            continue
        comm, rest = stat.split("(", 1)[1].rsplit(")", 1)
        children.setdefault(int(rest.split()[1]), []).append(int(d))
        rss[int(d)] = (pages * _PAGE, comm == "java")
    py = jvm = 0
    todo = [root]
    while todo:
        p = todo.pop()
        b, is_jvm = rss.get(p, (0, False))
        if is_jvm:
            jvm += b
        else:
            py += b
        todo.extend(children.get(p, []))
    return py, jvm


class PeakRss:
    """Background sampler of the process tree's resident memory, active
    only inside ``sampling()`` (the measured phases). Keeps the peak of
    the Python processes, of the JVM, and of their sum."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_py = self.peak_jvm = self.peak = 0
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self):
        pid = os.getpid()
        while not self._stop.is_set():
            if self._on.wait(0.2) and not self._stop.is_set():
                py, jvm = _tree_rss_bytes(pid)
                self.peak_py = max(self.peak_py, py)
                self.peak_jvm = max(self.peak_jvm, jvm)
                self.peak = max(self.peak, py + jvm)
                time.sleep(self.interval_s)

    @contextmanager
    def sampling(self):
        self._on.set()
        try:
            yield
        finally:
            self._on.clear()

    def close(self):
        self._stop.set()
        self._on.set()
        self._thread.join(timeout=5)


# ------------------------------------------------------------ host record


def host_record(repo: str) -> dict:
    """What the figures depend on besides the code: cores, load, versions.
    Results from hosts with different ``nproc`` are not comparable."""
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "-C", repo, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    try:
        java = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        ).stderr
        java = next(l for l in java.splitlines() if "version" in l)
    except (OSError, subprocess.SubprocessError, StopIteration):
        java = None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_before": os.getloadavg(),
        "git_commit": commit,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": java,
    }
