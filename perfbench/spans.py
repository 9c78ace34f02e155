"""Spans around the benchmark's calls into the engine, plus Spark job stats.

A ``Tracer`` records one span per call at a layer boundary: name, start,
end, parent span and request id.  Spans stay in memory and are written out
when the run ends.  With tracing off every hook is a no-op, so the
end-to-end runs measure the untouched engine.

With tracing on, each span also sets a Spark job group, and the event log
(enabled only in the traced run) is parsed after the session stops to
attribute jobs, task-seconds, shuffle bytes and spill to the innermost span
that launched them.  ``wrap`` swaps a module attribute for a wrapper that
opens a span; the engine resolves the attributes the benchmark wraps at call
time (``load_all`` reaches ``register_tables`` and ``write_stage`` reaches
``snapshots.commit_dataframe`` through module attributes), so the engine's
own inner calls are traced too.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time


class Span:
    __slots__ = ("sid", "name", "parent", "request", "start", "end", "attrs")

    def __init__(self, sid, name, parent, request, start):
        self.sid = sid
        self.name = name
        self.parent = parent
        self.request = request
        self.start = start
        self.end = start
        self.attrs: dict = {}

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._request: int | None = None
        self._spark = None

    def bind(self, spark) -> None:
        self._spark = spark

    @contextlib.contextmanager
    def request(self, rid: int):
        prev, self._request = self._request, rid
        try:
            yield
        finally:
            self._request = prev

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.sid if parent else None,
                  self._request, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sp: Span | None) -> None:
        if self._spark is None:
            return
        sc = self._spark.sparkContext
        if sp is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(f"span-{sp.sid}", sp.name, False)

    def wrap(self, module, attr: str, name, on_call=None, on_result=None):
        """Replace ``module.attr`` with a spanned wrapper (tracing only);
        returns a function that puts the original back.  ``name`` is the
        span name, or a function of the call's ``(args, kwargs)`` giving
        it.  ``on_call(span, args, kwargs)`` runs inside the span before
        the call, e.g. to note whether a stage was already committed;
        ``on_result(span, result)`` runs after it."""
        if not self.enabled:
            return lambda: None
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name(args, kwargs) if callable(name) else name) as sp:
                if on_call is not None:
                    on_call(sp, args, kwargs)
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(sp, out)
                return out

        setattr(module, attr, wrapper)
        return lambda: setattr(module, attr, fn)

    # -- analysis ---------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        child = {sp.sid: 0.0 for sp in self.spans}
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.dur
        return {sp.sid: sp.dur - child[sp.sid] for sp in self.spans}

    def covered(self, t0: float, t1: float) -> float:
        """Seconds of [t0, t1] covered by top-level spans (self times of a
        span tree sum to its root's duration)."""
        return sum(
            max(0.0, min(sp.end, t1) - max(sp.start, t0))
            for sp in self.spans
            if sp.parent is None
        )

    def attach_job_stats(self, event_dir: str) -> None:
        """Parse the Spark event log: per-span jobs, task-seconds, shuffle
        write bytes and spilled bytes (attributed to the innermost span
        whose job group launched them)."""
        stage_span: dict[int, int] = {}
        stats = {sp.sid: {"jobs": 0, "task_s": 0.0, "shuffle_write_bytes": 0,
                          "spill_bytes": 0} for sp in self.spans}
        for path in glob.glob(os.path.join(event_dir, "*")):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                        if not group.startswith("span-"):
                            continue
                        sid = int(group[5:])
                        if sid not in stats:
                            continue
                        stats[sid]["jobs"] += 1
                        for st in ev.get("Stage IDs", []):
                            stage_span[st] = sid
                    elif kind == "SparkListenerTaskEnd":
                        sid = stage_span.get(ev.get("Stage ID"))
                        m = ev.get("Task Metrics")
                        if sid is None or not m:
                            continue
                        s = stats[sid]
                        s["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                        s["shuffle_write_bytes"] += (
                            m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                        )
                        s["spill_bytes"] += (
                            m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                        )
        for sp in self.spans:
            sp.attrs.update(stats[sp.sid])

    def subtree_stat(self, sp: Span, key: str) -> float:
        """A job stat summed over a span and all of its descendants."""
        kids: dict[int, list[int]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s.sid)
        total, todo = 0.0, [sp.sid]
        while todo:
            sid = todo.pop()
            total += self.spans[sid].attrs.get(key, 0)
            todo.extend(kids.get(sid, ()))
        return total

    def records(self, t0: float) -> list[dict]:
        """Every span as a plain record, times relative to ``t0``."""
        return [
            {"id": sp.sid, "name": sp.name, "parent": sp.parent, "request": sp.request,
             "start_s": round(sp.start - t0, 6), "end_s": round(sp.end - t0, 6), **sp.attrs}
            for sp in self.spans
        ]


def plan_ms(df) -> float:
    """Catalyst analysis + optimization + planning time recorded by the
    DataFrame's query execution tracker (0 before the plan is executed)."""
    phases = df._jdf.queryExecution().tracker().phases()  # noqa: SLF001
    it = phases.iterator()
    total = 0.0
    while it.hasNext():
        total += float(it.next()._2().durationMs())
    return total
