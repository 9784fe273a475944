"""Spans recorded from outside the program, for the traced run only.

``Tracer.wrap`` replaces a public function or method with a wrapper that
records one span per call: name, start, end, parent span and the id of
the request or operator it ran under. Spans stay in memory; the caller
reads them when the run ends. ``Tracer.restore`` puts every original
back.

A span's self time is its duration minus the part of it that its child
spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int = -1
    root: str = ""
    children: list[int] = field(default_factory=list)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.root = ""

    # ------------------------------------------------------------------
    def begin(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else -1
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), parent=parent, root=self.root))
        if parent >= 0:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        popped = self._stack.pop()
        if popped != idx:
            raise RuntimeError(f"span {self.spans[idx].name} closed out of order")

    @contextlib.contextmanager
    def span(self, name: str, root: str | None = None):
        if root is not None:
            self.root = root
        idx = self.begin(name)
        try:
            yield self.spans[idx]
        finally:
            self.end(idx)

    def wrap(self, owner: object, attr: str, name) -> None:
        """Record a span around every call of ``owner.attr``. ``name`` is
        the span name, or a function of the call's arguments giving it."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            idx = tracer.begin(name(*args, **kwargs) if callable(name) else name)
            try:
                return original(*args, **kwargs)
            finally:
                tracer.end(idx)

        self._patched.append((owner, attr, original))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # ------------------------------------------------------------------
    def self_ms(self, idx: int) -> float:
        """Duration minus the union of the children's intervals."""
        s = self.spans[idx]
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted((self.spans[c].start, self.spans[c].end) for c in s.children):
            lo, hi = max(lo, s.start), min(hi, s.end)
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return (s.end - s.start - covered) * 1000.0

    def subtree(self, idx: int) -> list[int]:
        out, todo = [], [idx]
        while todo:
            i = todo.pop()
            out.append(i)
            todo.extend(self.spans[i].children)
        return out

    def find(self, name: str, within: int | None = None) -> list[int]:
        """Indices of the spans called ``name`` (under ``within``)."""
        pool = self.subtree(within) if within is not None else range(len(self.spans))
        return sorted(i for i in pool if self.spans[i].name == name)

    def ms(self, name: str) -> list[float]:
        return [self.spans[i].ms for i in self.find(name)]


class JobCounter:
    """Spark jobs, stages and tasks per job group, from the status tracker."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.tracker = sc.statusTracker()

    def start(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def counts(self, group: str) -> tuple[int, int, int]:
        jobs = stages = tasks = 0
        for jid in self.tracker.getJobIdsForGroup(group):
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in list(info.stageIds):
                st = self.tracker.getStageInfo(sid)
                if st is not None:
                    stages += 1
                    tasks += st.numTasks
        return jobs, stages, tasks
