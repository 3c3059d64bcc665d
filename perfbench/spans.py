"""In-memory spans around the engine's public functions, with Spark job
and task counts per span.

Each span runs under its own Spark job group (set on the calling thread, so
an HTTP request is counted on the server thread that runs it), and the
jobs of that group are the jobs the span started itself; its children run
under their own groups. Job ids are resolved once, after the run, because
Spark's status store is fed by an asynchronous listener bus.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from dataclasses import dataclass, field

JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    request: int | None
    start: float
    end: float = 0.0
    group: str = ""
    jobs: int = 0  # jobs started in this span itself, children excluded
    tasks: int = 0
    children: list[Span] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start

    def walk(self):
        """This span and all its descendants, depth first."""
        yield self
        for c in self.children:
            yield from c.walk()

    def total_jobs(self) -> int:
        return self.jobs + sum(c.total_jobs() for c in self.children)

    def total_tasks(self) -> int:
        return self.tasks + sum(c.total_tasks() for c in self.children)

    def self_time(self) -> float:
        return self_time(self.start, self.end, [(c.start, c.end) for c in self.children])


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """Duration minus the part of [start, end] that child intervals cover
    (overlapping children are counted once)."""
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in children):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered


class Tracer:
    """Records spans while `active`; inactive wrappers call straight through."""

    def __init__(self, sc):
        self.sc = sc
        self.active = False
        self.request: int | None = None  # set by the single closed-loop client
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def span(self, name: str):
        return _SpanContext(self, name)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace owner.attr with a traced wrapper (undone by `unwrap_all`)."""
        orig = vars(owner)[attr]
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            with tracer.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def resolve_jobs(self) -> None:
        """Fill each span's own job and task counts from the status tracker."""
        try:  # drain the listener bus so every job of the run is visible
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001 — private API; fall back to a pause
            time.sleep(1.0)
        st = self.sc.statusTracker()
        for sp in self.spans:
            ids = st.getJobIdsForGroup(sp.group)
            sp.jobs = len(ids)
            for jid in ids:
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    stage = st.getStageInfo(sid)
                    sp.tasks += stage.numCompletedTasks if stage else 0

    def roots(self) -> list[Span]:
        return [s for s in self.spans if s.parent is None]


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name
        self.span: Span | None = None

    def __enter__(self) -> Span | None:
        t = self.tracer
        if not t.active:
            return None
        stack = getattr(t._stack, "spans", None)
        if stack is None:
            stack = t._stack.spans = []
        parent = stack[-1] if stack else None
        with t._lock:
            sid = next(t._ids)
        sp = Span(sid, self.name, parent.span_id if parent else None,
                  t.request, time.perf_counter(), group=f"perfbench-{sid}")
        self.prev_group = t.sc.getLocalProperty(JOB_GROUP)
        t.sc.setLocalProperty(JOB_GROUP, sp.group)
        stack.append(sp)
        self.span = sp
        return sp

    def __exit__(self, *exc) -> None:
        sp = self.span
        if sp is None:
            return
        t = self.tracer
        sp.end = time.perf_counter()
        t._stack.spans.pop()
        t.sc.setLocalProperty(JOB_GROUP, self.prev_group)
        with t._lock:
            t.spans.append(sp)
        stack = t._stack.spans
        if stack:
            stack[-1].children.append(sp)
