"""Spans, Spark job accounting and process-tree memory, all observed
from outside the program.

A span is recorded around every call the benchmark makes into a layer:
name, start, end, parent span and request id. Spans stay in memory and
are written out once, when the run ends. Untraced runs use NullTracer,
whose span() is a shared no-op context manager.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request: str | None = None
    sid: int = 0
    attrs: dict = field(default_factory=dict)


class Tracer:
    enabled = True

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, request: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = self.spans[parent].request
        s = Span(name, time.perf_counter(), parent=parent, request=request, sid=len(self.spans), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s.sid)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict:
        """Per span name: total duration minus the part covered by its
        direct children."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[s.sid]
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.sid, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "request": s.request, **s.attrs,
                }) + "\n")


class NullTracer:
    enabled = False
    _null = contextlib.nullcontext()

    def span(self, name: str, request: str | None = None, **attrs):
        return self._null


def record_cost_us(n: int = 20000) -> float:
    """Cost of recording one empty span, in microseconds."""
    t = Tracer()
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("x"):
            pass
    return (time.perf_counter() - t0) / n * 1e6


class JobCounter:
    """Jobs and tasks launched inside a block, by Spark job group."""

    def __init__(self, sc):
        self.sc = sc
        self._n = 0

    @contextlib.contextmanager
    def group(self):
        self._n += 1
        gid = f"perfbench-{os.getpid()}-{self._n}"
        self.sc.setJobGroup(gid, gid)
        res = {"jobs": 0, "tasks": 0}
        try:
            yield res
        finally:
            self.sc.setJobGroup("", "")
            tracker = self.sc.statusTracker()
            ids = tracker.getJobIdsForGroup(gid)
            res["jobs"] = len(ids)
            for j in ids:
                info = tracker.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    res["tasks"] += st.numTasks if st else 0


def _children_map() -> dict:
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _status_kb(pid: int, field: str, name: str = "status") -> int:
    try:
        with open(f"/proc/{pid}/{name}") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak RSS of a process tree, read from /proc (psutil is not
    required). The driver Python (`root`) and its direct children (the
    JVM) live for the whole run and count with their kernel-tracked
    high-water mark (VmHWM). The Python workers below the JVM come and
    go, and are forked from one daemon, so they count as the largest sum
    of their current proportional set size (Pss: shared pages split
    between the sharers) seen at any sample."""

    def __init__(self, root: int, interval: float = 0.25):
        self.root, self.interval = root, interval
        self.hwm: dict = {}
        self.workers_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        kids = _children_map()
        for pid in [self.root] + kids.get(self.root, []):
            kb = _status_kb(pid, "VmHWM:")
            if kb:
                self.hwm[pid] = max(self.hwm.get(pid, 0), kb)
        todo = [c for k in kids.get(self.root, []) for c in kids.get(k, [])]
        now = 0
        while todo:
            pid = todo.pop()
            now += _status_kb(pid, "Pss:", "smaps_rollup")
            todo.extend(kids.get(pid, ()))
        self.workers_kb = max(self.workers_kb, now)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()

    def peak_mb(self) -> float:
        return (sum(self.hwm.values()) + self.workers_kb) / 1024.0

    def parts_mb(self) -> dict:
        """Peak of the driver, of its children (the JVM), of the workers."""
        jvm = sum(kb for pid, kb in self.hwm.items() if pid != self.root)
        return {"driver": self.hwm.get(self.root, 0) / 1024.0, "jvm": jvm / 1024.0,
                "workers": self.workers_kb / 1024.0}
