"""In-memory span tracer for the driver-side replays.

Wrappers are installed from the benchmark's own files around the
engine's public kernel functions (module attributes and class methods
are patched, then restored), so the engine itself carries no tracing
code. Each call records one span: name, start, end, parent span and
trace id. Spans stay in memory and are written once, as one ``.npz``
file, when the run ends.

A span's self time is its duration minus the durations of its direct
children. Calls are single-threaded and nested, so children never
overlap and that difference is exactly the uncovered part of the span.
"""

from __future__ import annotations

import contextlib
import functools
import os
import time
from collections import Counter

import numpy as np


class Tracer:
    def __init__(self):
        self.names: list[str] = []
        self._name_id: dict[str, int] = {}
        self.span_name: list[int] = []
        self.span_start: list[int] = []
        self.span_end: list[int] = []
        self.span_parent: list[int] = []
        self.span_trace: list[int] = []
        self.counts: Counter = Counter()
        self._stack: list[int] = []
        self.trace_id = 0

    def _nid(self, name: str) -> int:
        if name not in self._name_id:
            self._name_id[name] = len(self.names)
            self.names.append(name)
        return self._name_id[name]

    @contextlib.contextmanager
    def span(self, name: str, trace_id: int | None = None):
        """Explicit span for a call the benchmark itself makes (the
        replay roots); ``trace_id`` starts a new trace."""
        if trace_id is not None:
            self.trace_id = trace_id
        sid = self._open(self._nid(name))
        t0 = time.perf_counter_ns()
        try:
            yield
        finally:
            self._close(sid, t0)

    def _open(self, nid: int) -> int:
        sid = len(self.span_name)
        self.span_name.append(nid)
        self.span_start.append(0)
        self.span_end.append(0)
        self.span_parent.append(self._stack[-1] if self._stack else -1)
        self.span_trace.append(self.trace_id)
        self._stack.append(sid)
        return sid

    def _close(self, sid: int, t0: int):
        t1 = time.perf_counter_ns()
        self._stack.pop()
        self.span_start[sid] = t0
        self.span_end[sid] = t1

    def wrap(self, fn, name: str, count=None):
        """Span-recording wrapper; ``count(counts, args, kwargs, result)``
        adds per-call counters after the span closes."""
        nid = self._nid(name)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sid = self._open(nid)
            t0 = time.perf_counter_ns()
            try:
                result = fn(*args, **kwargs)
            finally:
                self._close(sid, t0)
            if count is not None:
                count(self.counts, args, kwargs, result)
            return result
        return traced

    @contextlib.contextmanager
    def installed(self, targets):
        """Patch every ``(owner, attr, name, count)`` target with a
        traced wrapper for the duration of the block."""
        saved = []
        try:
            for owner, attr, name, count in targets:
                orig = owner.__dict__[attr] if isinstance(owner, type) \
                    else getattr(owner, attr)
                saved.append((owner, attr, orig))
                setattr(owner, attr, self.wrap(orig, name, count))
            yield self
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    def arrays(self):
        name = np.asarray(self.span_name, dtype=np.int64)
        start = np.asarray(self.span_start, dtype=np.int64)
        end = np.asarray(self.span_end, dtype=np.int64)
        parent = np.asarray(self.span_parent, dtype=np.int64)
        return name, start, end, parent

    def summary(self):
        """{span name: (inclusive_ms, self_ms, calls)}. Inclusive time
        counts only outermost spans of a name, so a name nested in
        itself is not counted twice."""
        name, start, end, parent = self.arrays()
        if not len(name):
            return {}
        dur = (end - start).astype(np.float64)
        has_parent = parent >= 0
        child = np.bincount(parent[has_parent], weights=dur[has_parent],
                            minlength=len(dur))
        self_t = dur - child
        outer = np.ones(len(name), dtype=bool)
        outer[has_parent] = name[parent[has_parent]] != name[has_parent]
        n = len(self.names)
        incl = np.bincount(name[outer], weights=dur[outer], minlength=n)
        selfs = np.bincount(name, weights=self_t, minlength=n)
        calls = np.bincount(name, minlength=n)
        return {nm: (incl[i] / 1e6, selfs[i] / 1e6, int(calls[i]))
                for i, nm in enumerate(self.names)}

    def covered_ms(self) -> float:
        """Sum of self times over all spans, which equals the summed
        duration of the root spans: the part of the replay's wall time
        that the spans account for."""
        _name, start, end, parent = self.arrays()
        return float((end - start)[parent < 0].sum()) / 1e6

    def dump(self, path: str):
        name, start, end, parent = self.arrays()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        np.savez_compressed(
            path, names=np.asarray(self.names), name=name, start_ns=start,
            end_ns=end, parent=parent,
            trace=np.asarray(self.span_trace, dtype=np.int64))
