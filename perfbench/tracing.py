"""In-memory spans around the package's public entry points.

A :class:`Tracer` wraps functions and methods from outside the package
(module attributes are rebound for the life of the process; no package
file changes). Each span records name, layer, start, end, parent, thread
and the Spark jobs that ran inside it. Jobs are counted through the public
status tracker: job ids are sequential and listed newest first, and every
job carries the job group of the thread that started it (``None`` for
plain threads, the run id for a streaming query's batches), so a span
counts the ids of its own thread's group that appeared while it was open.

Spans stay in memory and are written once, by :meth:`Tracer.dump`.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    thread: int
    start: float
    end: float = 0.0
    group: str | None = None
    spark_jobs: int = 0
    children: list[int] = field(default_factory=list)


class Tracer:
    def __init__(self, *, enabled: bool = True) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._sc = None
        #: Seconds spent in the tracer's own bookkeeping (job-id lookups,
        #: span records) — the direct part of the tracing overhead.
        self.own_s = 0.0
        #: Parent for spans opened on a thread with no open span of its own
        #: (a background job thread, a streaming query's batches).
        self.ambient: Span | None = None
        self._restore: list[tuple[object, str, object]] = []

    # -- Spark job counting ------------------------------------------------

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext

    def _ids(self, group: str | None):
        """The group's job ids, newest first, as a JVM array: reading it an
        element at a time keeps a lookup to a few gateway calls."""
        return self._sc._jsc.sc().statusTracker().getJobIdsForGroup(group)  # noqa: SLF001

    def _group_jobs(self) -> tuple[str | None, int]:
        if self._sc is None:
            return None, -1
        group = self._sc.getLocalProperty("spark.jobGroup.id")
        ids = self._ids(group)
        return group, ids[0] if len(ids) else -1

    def _jobs_since(self, group: str | None, last: int) -> int:
        if self._sc is None:
            return 0
        ids = self._ids(group)
        n, size = 0, len(ids)
        while n < size and ids[n] > last:
            n += 1
        return n

    # -- spans ---------------------------------------------------------------

    def span(self, name: str, layer: str):
        return _SpanCtx(self, name, layer)

    def wrap(self, owner, attr: str, name: str, layer: str, *, ambient: bool = False) -> None:
        """Rebind ``owner.attr`` to a traced wrapper (undone by :meth:`unwrap`).

        ``ambient``: the span also parents spans that other threads open
        while it runs (a streaming query's batches)."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name, layer) as sp:
                if not ambient or sp is None:
                    return fn(*args, **kwargs)
                outer, tracer.ambient = tracer.ambient, sp
                try:
                    return fn(*args, **kwargs)
                finally:
                    tracer.ambient = outer

        self._restore.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def unwrap(self) -> None:
        for owner, attr, fn in reversed(self._restore):
            setattr(owner, attr, fn)
        self._restore.clear()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    # -- reports -------------------------------------------------------------

    def self_seconds(self, span: Span) -> float:
        """Duration minus the union of the child spans' intervals."""
        kids = sorted((self.spans[c].start, self.spans[c].end) for c in span.children)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            s, e = max(s, span.start), min(e, span.end)
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return max(0.0, span.end - span.start - covered)

    def self_jobs(self, span: Span) -> int:
        """Jobs counted by the span minus those its same-group children counted."""
        kids = (self.spans[c] for c in span.children)
        return span.spark_jobs - sum(k.spark_jobs for k in kids if k.group == span.group)

    def root_of(self, span: Span) -> Span:
        while span.parent is not None:
            span = self.spans[span.parent]
        return span

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def layer_totals(self) -> dict[str, dict[str, float]]:
        """Per layer: self seconds, call count and self Spark jobs."""
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            t = out.setdefault(s.layer, {"self_s": 0.0, "calls": 0, "spark_jobs": 0})
            t["self_s"] += self.self_seconds(s)
            t["calls"] += 1
            t["spark_jobs"] += self.self_jobs(s)
        return out

    def dump(self, path) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


class _SpanCtx:
    __slots__ = ("t", "name", "layer", "span", "group", "last")

    def __init__(self, tracer: Tracer, name: str, layer: str) -> None:
        self.t, self.name, self.layer = tracer, name, layer

    def __enter__(self):
        t = self.t
        if not t.enabled:
            return None
        c0 = time.perf_counter()
        self.group, self.last = t._group_jobs()
        stack = t._stack()
        if stack:
            parent = stack[-1].id
        else:
            parent = t.ambient.id if t.ambient is not None else None
        sp = Span(0, self.name, self.layer, parent, threading.get_ident(), 0.0, group=self.group)
        with t._lock:
            sp.id = len(t.spans)
            t.spans.append(sp)
            if parent is not None:
                t.spans[parent].children.append(sp.id)
        stack.append(sp)
        self.span = sp
        sp.start = time.perf_counter()
        with t._lock:
            t.own_s += sp.start - c0
        return sp

    def __exit__(self, *exc):
        t = self.t
        if not t.enabled:
            return False
        end = time.perf_counter()
        self.span.end = end
        self.span.spark_jobs = t._jobs_since(self.group, self.last)
        t._stack().pop()
        with t._lock:
            t.own_s += time.perf_counter() - end
        return False
