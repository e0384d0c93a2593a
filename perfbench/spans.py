"""In-memory spans around the program's public functions, from outside.

A ``Tracer`` replaces a public function with a wrapper that records a span
(name, start, end, parent, run id) for every call. Spans of one thread nest
by a thread-local stack; a span opened on a thread with no open span (the
streaming query's micro-batch thread) takes the main thread's innermost
open span as its parent, since the main thread is waiting on it. On the
main thread each span also runs its Spark jobs under its own job group, so
``statusTracker().getJobIdsForGroup`` gives the jobs launched directly in
it; jobs of its children are counted under the children.

Nothing is written while spans are recorded; ``Tracer.dump`` writes them
out at the end.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import threading
import time
from dataclasses import asdict, dataclass, field

from stats import union_length

JOB_GROUP = "spark.jobGroup.id"
JOB_DESC = "spark.job.description"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float | None = None
    thread: str = ""
    group: str | None = None
    jobs: list[int] = field(default_factory=list)
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        # seconds spent in the tracer's own bookkeeping, outside any span body
        self.cost_s = 0.0

    def _charge(self, t0: float) -> None:
        with self._lock:
            self.cost_s += time.perf_counter() - t0

    def _stack(self) -> list[Span]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        stack = self._stack()
        if stack:
            parent = stack[-1].id
        elif self._main_stack:
            parent = self._main_stack[-1].id
        else:
            parent = None
        with self._lock:
            sp = Span(next(self._ids), name, parent, self.run_id, 0.0,
                      thread=threading.current_thread().name)
            self.spans.append(sp)
        on_main = self.sc is not None and threading.current_thread() is self._main
        if on_main:
            sp.group = f"{self.run_id}-{sp.id}"
            prev = (self.sc.getLocalProperty(JOB_GROUP), self.sc.getLocalProperty(JOB_DESC))
            self.sc.setLocalProperty(JOB_GROUP, sp.group)
            self.sc.setLocalProperty(JOB_DESC, name)
        stack.append(sp)
        self._charge(t0)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            t0 = time.perf_counter()
            stack.pop()
            if on_main:
                self.sc.setLocalProperty(JOB_GROUP, prev[0])
                self.sc.setLocalProperty(JOB_DESC, prev[1])
                sp.jobs = sorted(self.sc.statusTracker().getJobIdsForGroup(sp.group))
            self._charge(t0)

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a wrapper that spans each call.
        ``after(span, result, args, kwargs)`` may record counts on the
        span; it runs after the span has ended, so its cost is not
        counted in the span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as sp:
                result = orig(*args, **kwargs)
            if after is not None:
                t0 = time.perf_counter()
                after(sp, result, args, kwargs)
                tracer._charge(t0)
            return result

        self._patch(owner, attr, orig, wrapper)

    def wrap_context(self, owner, attr: str, name: str, after=None) -> None:
        """Like ``wrap`` for a function returning a context manager: the
        span covers the whole ``with`` block, not just the call."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        @contextlib.contextmanager
        def wrapper(*args, **kwargs):
            with tracer.span(name) as sp:
                with orig(*args, **kwargs) as value:
                    yield value
            if after is not None:
                t0 = time.perf_counter()
                after(sp, None, args, kwargs)
                tracer._charge(t0)

        self._patch(owner, attr, orig, wrapper)

    def _patch(self, owner, attr, orig, wrapper) -> None:
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def dump(self, path: str, extra: dict | None = None) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans], **(extra or {})}, f)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of it that its children
    cover (children may overlap each other or run on another thread)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - union_length(kids.get(s.id, []), s.start, s.end)
        for s in spans
    }


def subtree(spans: list[Span], root: int) -> list[Span]:
    """``root`` and all its descendants."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out, todo = [], [s for s in spans if s.id == root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.id, []))
    return out


# -- Spark event log ----------------------------------------------------------


@dataclass
class JobStats:
    group: str | None
    submit: float
    end: float
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    out_bytes: int = 0
    out_records: int = 0


def read_event_log(path: str) -> dict[int, JobStats]:
    """Job id -> its group, interval and summed task metrics, from one
    uncompressed Spark event log. A task is charged to the latest job that
    listed its stage when the stage was submitted."""
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                t = ev["Submission Time"] / 1000.0
                jobs[jid] = JobStats(props.get(JOB_GROUP), t, t)
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                job = jobs.get(ev["Job ID"])
                if job is not None:
                    job.end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                job.tasks += 1
                job.run_s += m.get("Executor Run Time", 0) / 1e3
                job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                job.gc_s += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics") or {}
                job.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                job.shuffle_write += sw.get("Shuffle Bytes Written", 0)
                job.spill += m.get("Memory Bytes Spilled", 0)
                out = m.get("Output Metrics") or {}
                job.out_bytes += out.get("Bytes Written", 0)
                job.out_records += out.get("Records Written", 0)
    return jobs


def spark_summary(jobs: list[JobStats], lo: float, hi: float, floor_s: float) -> dict:
    """The Spark split of the interval ``[lo, hi]`` for ``jobs``."""
    return {
        "jobs": len(jobs),
        "tasks": sum(j.tasks for j in jobs),
        "exec_run_s": sum(j.run_s for j in jobs),
        "exec_cpu_s": sum(j.cpu_s for j in jobs),
        "gc_s": sum(j.gc_s for j in jobs),
        "shuffle_read_bytes": sum(j.shuffle_read for j in jobs),
        "shuffle_write_bytes": sum(j.shuffle_write for j in jobs),
        "spill_bytes": sum(j.spill for j in jobs),
        "floor_s": len(jobs) * floor_s,
        "driver_s": (hi - lo) - union_length([(j.submit, j.end) for j in jobs], lo, hi),
    }
