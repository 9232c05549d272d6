"""Spans recorded from outside the program.

The tracer replaces a module attribute (a layer's public function, as
seen from the module that calls it) with a wrapper that records a span
when tracing is on and calls straight through when it is off. A span
around a DataFrame-returning call times plan construction only; the
work runs inside whichever action triggers it, so such spans are named
``*.build`` and, where the benchmark can see the action, the action
gets its own ``*.exec`` span.

Spans are kept in memory (name, start, end, parent, op) and written out
once, at the end of a run.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = False
        self.op = "setup"
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def wrap(self, module: object, attr: str, name: str,
             exec_method: str | None = None) -> None:
        """Record ``name`` around every call of ``module.attr``. With
        ``exec_method``, the returned object's method of that name is
        wrapped too, recording ``<name>.exec`` around the action."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if not self.active:
                return original(*args, **kwargs)
            with self.span(f"{name}.build" if exec_method else name):
                out = original(*args, **kwargs)
            if exec_method:
                action = getattr(out, exec_method)

                def traced_action(*a, **kw):
                    with self.span(f"{name}.exec"):
                        return action(*a, **kw)

                setattr(out, exec_method, traced_action)
            return out

        self._patched.append((module, attr, original))
        setattr(module, attr, wrapper)

    def restore(self) -> None:
        for module, attr, original in reversed(self._patched):
            setattr(module, attr, original)
        self._patched.clear()

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans], **extra}, f)


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    covered: list[list[tuple[float, float]]] = [[] for _ in spans]
    for s in spans:
        if s.parent is not None:
            covered[s.parent].append((s.start, s.end))
    out = []
    for s, kids in zip(spans, covered):
        busy, reach = 0.0, s.start
        for lo, hi in sorted(kids):
            lo, hi = max(lo, reach), min(hi, s.end)
            if hi > lo:
                busy += hi - lo
                reach = hi
        out.append((s.end - s.start) - busy)
    return out


def self_time_by_op(spans: list[Span]) -> dict[str, dict[str, float]]:
    """{span name: {op id: summed self time in seconds}}."""
    out: dict[str, dict[str, float]] = {}
    for s, t in zip(spans, self_times(spans)):
        per_op = out.setdefault(s.name, {})
        per_op[s.op] = per_op.get(s.op, 0.0) + t
    return out


JOB_END_WAIT_S = 30.0


def job_stats(sc, group: str) -> tuple[int, int, int]:
    """(jobs, tasks run, tasks failed) for one job group, from Spark's
    public status tracker. The tracker is fed asynchronously, so this
    waits until every job of the group reads as ended; a job's end
    follows its stages' ends on the listener bus, so their task counts
    are final by then."""
    tracker = sc.statusTracker()
    deadline = time.monotonic() + JOB_END_WAIT_S
    while True:
        jobs = tracker.getJobIdsForGroup(group)
        infos = [tracker.getJobInfo(job) for job in jobs]
        if time.monotonic() > deadline or all(
                i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos):
            break
        time.sleep(0.05)
    tasks = failed = 0
    for info in infos:
        for stage in info.stageIds if info else []:
            s = tracker.getStageInfo(stage)
            if s:
                tasks += s.numCompletedTasks + s.numFailedTasks
                failed += s.numFailedTasks
    return len(jobs), tasks, failed
