"""In-memory spans, Spark status-tracker counts and a process-tree RSS sampler.

Spans are recorded around the calls the benchmark makes into each layer
(and around the ``SnapshotStore`` methods of the engines it builds); nothing
inside ``anycrawl_spark`` is changed. A span's parent is the innermost open
span on the same thread; spans opened on a pool thread the engine started
take the innermost span open on the thread that created the tracer.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sid = len(self.spans)
            self.spans.append({"id": sid, "name": name, "parent": parent,
                               "start": time.perf_counter(), "end": None, **attrs})
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            self.spans[sid]["end"] = time.perf_counter()

    def wrap(self, obj, method: str, name: str) -> None:
        """Replace ``obj.method`` (an instance attribute, so only this object
        is affected) with a version that records a span per call."""
        if not self.enabled:
            return
        fn = getattr(obj, method)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(obj, method, traced)

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def self_time(self, sid: int) -> float:
        """Span duration minus the part of it covered by its child spans
        (children may overlap: they run on the engine's thread pools)."""
        sp = self.spans[sid]
        ivs = sorted((c["start"], c["end"]) for c in self.children(sid))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (sp["end"] - sp["start"]) - covered

    def total(self, name: str, within: int | None = None) -> float:
        """Summed duration of spans called ``name`` (optionally only the
        descendants of span ``within``)."""
        out = 0.0
        for s in self.spans:
            if s["name"] == name and (within is None or self._descends(s, within)):
                out += s["end"] - s["start"]
        return out

    def _descends(self, s: dict, ancestor: int) -> bool:
        p = s["parent"]
        while p is not None:
            if p == ancestor:
                return True
            p = self.spans[p]["parent"]
        return False

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


class JobCounter:
    """Exact Spark job / stage / task counts between two points, read from
    ``SparkContext.statusTracker()`` (works with the UI disabled)."""

    def __init__(self, sc):
        self.tracker = sc.statusTracker()
        self._before: set[int] = set()

    def start(self) -> None:
        self._before = set(self.tracker.getJobIdsForGroup())

    def stop(self) -> dict:
        new = set(self.tracker.getJobIdsForGroup()) - self._before
        stages: set[int] = set()
        for j in new:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        ran, tasks = 0, 0
        for sid in stages:
            si = self.tracker.getStageInfo(sid)
            # stages reused from an earlier job's shuffle are listed but skipped
            if si is not None and si.numCompletedTasks > 0:
                ran += 1
                tasks += si.numCompletedTasks
        return {"jobs": len(new), "stages": ran, "tasks": tasks}


def _proc_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """(parent pid -> child pids, pid -> resident KiB) for every process."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ppid, pages = int(fields[1]), int(fields[21])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
        rss[int(d)] = pages * page_kb
    return children, rss


def _subtree(pid: int, children: dict[int, list[int]]) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def descendants(pid: int) -> list[int]:
    return _subtree(pid, _proc_table()[0])[1:]


def tree_cpu_s(pid: int | None = None) -> float:
    """CPU seconds (user + system, including reaped children) used so far by
    ``pid`` (default: this process) and all its descendants. Time the
    hypervisor stole from this guest is not charged to any process."""
    children, _ = _proc_table()
    ticks = 0
    for p in _subtree(pid or os.getpid(), children):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in fields[11:15])
        except (OSError, ValueError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def _tree_rss_kb(pid: int) -> int:
    """Resident set of ``pid`` plus all its descendants."""
    children, rss = _proc_table()
    return sum(rss.get(p, 0) for p in _subtree(pid, children))


class RssSampler:
    """Samples the RSS of this process and its descendants (the Spark driver
    JVM and its Python workers) on a background thread every 0.5 s;
    ``peak_mb`` is the highest sum seen."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


class StealMeter:
    """Share of this machine's CPU time the hypervisor gave to other guests
    ("steal" in /proc/stat) since creation: recorded beside each run so that
    a slow run on a shared host can be explained."""

    def __init__(self):
        self._start = self._read()

    @staticmethod
    def _read() -> tuple[int, int]:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        return fields[7], sum(fields)

    def share(self) -> float:
        steal, total = self._read()
        d_total = total - self._start[1]
        return (steal - self._start[0]) / d_total if d_total else 0.0
