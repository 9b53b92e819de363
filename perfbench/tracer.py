"""In-memory span tracer for the benchmark's traced runs.

A span records name, start, end and the span that caused it. Spans are
kept in a list and only turned into numbers after the timed window.
Each span also tags the Spark jobs submitted while it is the innermost
open span (through the `spark.jobGroup.id` local property), so Spark's
status store can attribute shuffle bytes, spill, executor run time and
task skew to it afterwards.

Wrapping happens from outside the package: `wrap` replaces an attribute
on a class or module with a traced version and `restore` puts the
original back.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str = ""
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of `intervals`."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.duration - covered(children.get(s.id, []), s.start, s.end)
        for s in spans
    }


class Tracer:
    """Records spans when `enabled`; otherwise every call is a no-op so
    the untraced runs execute the same benchmark code."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None
        self._patched: list[tuple[object, str, object]] = []
        # time spent in the tracer's own code: the wrappers, span labels
        # and span bookkeeping, including the job-group property calls
        self.bookkeeping_s = 0.0

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext if spark is not None else None

    def _set_group(self, group: str | None) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty("spark.jobGroup.id", group)

    @contextmanager
    def span(self, name: str, entered: float | None = None):
        """Record a span around the body; `entered` is when the caller
        began its own tracing work, counted as bookkeeping."""
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter() if entered is None else entered
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, 0.0, parent=parent.id if parent else None)
        s.group = f"perfbench-{s.id}"
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s.group)
        s.start = time.perf_counter()
        self.bookkeeping_s += s.start - t_in
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent.group if parent else None)
            self.bookkeeping_s += time.perf_counter() - s.end

    def wrap(self, owner, attr: str, name) -> None:
        """Trace every call of `owner.attr` under span `name`, or under
        `name(*args, **kwargs)` when `name` is callable."""
        if not self.enabled:
            return
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            entered = time.perf_counter()
            label = name(*args, **kwargs) if callable(name) else name
            with tracer.span(label, entered):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def durations(self, name: str) -> list[float]:
        return [s.duration for s in self.by_name(name)]

    def descendants(self, span: Span) -> list[Span]:
        out, todo = [], [span.id]
        while todo:
            pid = todo.pop()
            for s in self.spans:
                if s.parent == pid:
                    out.append(s)
                    todo.append(s.id)
        return out

    def collect_counters(self, spark) -> None:
        """Attach Spark status-store counters to every span's own jobs.
        Runs after the timed window: it only reads the status store."""
        if not self.enabled or not self.spans:
            return
        sc = spark.sparkContext
        store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        empty = jvm.java.util.ArrayList()
        no_q = sc._gateway.new_array(jvm.double, 0)
        q = sc._gateway.new_array(jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        for s in self.spans:
            c = {"jobs": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
                 "executor_run_ms": 0, "task_skew": 0.0}
            for jid in sc.statusTracker().getJobIdsForGroup(s.group):
                c["jobs"] += 1
                stage_ids = store.job(jid).stageIds()
                for i in range(stage_ids.length()):
                    sid = stage_ids.apply(i)
                    attempts = store.stageData(sid, False, empty, False, no_q)
                    for k in range(attempts.length()):
                        st = attempts.apply(k)
                        c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                        c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                        c["executor_run_ms"] += st.executorRunTime()
                        if st.numCompleteTasks() < 2:
                            continue
                        summ = store.taskSummary(sid, st.attemptId(), q)
                        if summ.isDefined():
                            run = summ.get().executorRunTime()
                            med, mx = run.apply(0), run.apply(1)
                            if med > 0:
                                c["task_skew"] = max(c["task_skew"], mx / med)
            s.counters = c
