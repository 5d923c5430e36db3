"""Spans and layer counters recorded from outside the engine.

A :class:`Tracer` records one span per call into a layer's public
functions: name, start, end, parent span and op id.  Spans stay in
memory until :meth:`Tracer.write`.  When the tracer is inactive every
hook is a no-op, so the untraced run measures the engine alone.

Layer counters taken at the same boundaries:

- Catalyst phase milliseconds of an executed DataFrame
  (``queryExecution().tracker().phases()``);
- Spark jobs, stages and tasks per op, from a job group per op and the
  status tracker (jobs submitted from the engine's own worker threads
  carry no group, so they are found as new ungrouped job ids);
- streaming trigger durations, from a ``StreamingQueryListener``.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, active: bool) -> None:
        self.active = active
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, op: str | None = None, parent: dict | None = None,
             **attrs):
        """Record a span around the block.  ``op`` starts a new op id;
        otherwise the span inherits the op of its parent (the innermost
        open span of this thread, or ``parent`` for spans opened on
        another thread).  Yields the span dict (None when inactive)."""
        if not self.active:
            yield None
            return
        stack = self._stack()
        parent = parent or (stack[-1] if stack else None)
        with self._lock:
            sid = next(self._ids)
        sp = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op or (parent["op"] if parent else None),
            "start": time.perf_counter(),
            "end": None,
        }
        sp.update(attrs)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    def current(self) -> dict | None:
        stack = self._stack() if self.active else []
        return stack[-1] if stack else None

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the part of each span's
        interval that its children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for sp in self.spans:
            if sp["parent"] is not None:
                children.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
        out: dict[str, float] = {}
        for sp in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for s, e in sorted(children.get(sp["id"], [])):
                s, e = max(s, sp["start"]), min(e, sp["end"])
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
            dur = sp["end"] - sp["start"]
            out[sp["name"]] = out.get(sp["name"], 0.0) + dur - covered
        return out

    def write(self, path: str, t0: float) -> None:
        """Write the spans as JSON lines, times in seconds since ``t0``."""
        with open(path, "w") as fh:
            for sp in sorted(self.spans, key=lambda s: s["start"]):
                rec = dict(sp, start=sp["start"] - t0, end=sp["end"] - t0)
                fh.write(json.dumps(rec, default=str) + "\n")


def catalyst_ms(df) -> dict[str, float]:
    """Analysis, optimization and planning milliseconds of ``df``'s
    query execution (after its action ran)."""
    phases = df._jdf.queryExecution().tracker().phases()
    return {
        name: float(phases.apply(name).durationMs()) if phases.contains(name) else 0.0
        for name in ("analysis", "optimization", "planning")
    }


class JobCounter:
    """Spark jobs, stages and tasks run by one op.

    :meth:`begin` sets a job group for the calling thread; :meth:`end`
    collects that group's jobs plus the ungrouped jobs that appeared
    since :meth:`begin` (the engine's thread pools submit without a
    group).  One client runs ops one at a time, so no other work can
    add jobs in between."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.tracker = sc.statusTracker()
        self._seen: set[int] = set(self.tracker.getJobIdsForGroup(None))
        # job groups an op opened below its own (the ETL's per-stage groups)
        self.extra_groups: set[str] = set()

    def begin(self, group: str) -> None:
        self._seen |= set(self.tracker.getJobIdsForGroup(None))
        self.sc.setJobGroup(group, group)

    def end(self, group: str) -> dict[str, int]:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        ungrouped = set(self.tracker.getJobIdsForGroup(None))
        jobs = set(self.tracker.getJobIdsForGroup(group)) | (ungrouped - self._seen)
        for g in self.extra_groups:
            jobs |= set(self.tracker.getJobIdsForGroup(g))
        self.extra_groups.clear()
        self._seen |= ungrouped
        stages = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        ran = 0
        for s in stages:
            info = self.tracker.getStageInfo(s)
            if info is not None:
                ran += 1
                tasks += info.numTasks
        return {"jobs": len(jobs), "stages": ran, "tasks": tasks}


def stream_listener(sink: list):
    """A ``StreamingQueryListener`` appending each trigger's duration
    breakdown (milliseconds) to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            d = event.progress.durationMs or {}
            sink.append({k: float(v) for k, v in d.items()})

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()
