"""In-memory span recorder for the traced benchmark run.

A span is ``(name, start, end, parent, op)``: ``parent`` is the index of the
enclosing span in the same thread (-1 for a root), ``op`` the operation id
the thread is serving.  Spans stay in memory until ``export`` returns them
at the end of a traced window.  ``Tracer.wrap`` patches a callable on a
module or class so that each call into that layer becomes a span;
``Tracer.wrap_iter`` does the same for each ``next()`` of an iterator a
layer returns.

Time that a layer spends blocked on a lower layer it does not own (a Spark
row fetch, a socket read) is charged with ``charge``: it accumulates per
open span and is emitted as one child span of that name when the span
closes, so self time = duration - children holds without a span per row.
"""

from __future__ import annotations

import functools
import threading
import time
from collections import defaultdict

_now = time.perf_counter


class Tracer:
    def __init__(self, active: bool):
        # wrappers stay installed; ``active`` switches recording on and off
        self.active = active
        self.spans: list[tuple[str, float, float, int, str]] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._lock = threading.Lock()
        self._tls = threading.local()

    # -- recording ----------------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def set_op(self, op: str) -> None:
        self._tls.op = op

    def op(self) -> str:
        return getattr(self._tls, "op", "")

    def begin(self, name: str) -> list:
        st = self._stack()
        parent = st[-1][3] if st else -1
        with self._lock:
            idx = len(self.spans)
            self.spans.append(None)  # filled in by end()
        frame = [name, _now(), defaultdict(float), idx, parent]
        st.append(frame)
        return frame

    def end(self, frame: list) -> None:
        self._stack().pop()
        t1 = _now()
        name, t0, charged, idx, parent = frame
        op = self.op()
        with self._lock:
            self.spans[idx] = (name, t0, t1, parent, op)
            for child, dur in charged.items():
                self.spans.append((child, t0, t0 + dur, idx, op))

    def span(self, name: str):
        return _Span(self, name)

    def count(self, key: str, v: float) -> None:
        if self.active:
            with self._lock:
                self.counts[key] += v

    def charge(self, name: str, dur: float) -> None:
        st = self._stack()
        if st and self.active:
            st[-1][2][name] += dur

    # -- patching -----------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, counter=None, outermost=False):
        """Replace ``owner.attr`` by a span-recording wrapper.  ``counter``
        (args, result) -> {key: value} adds work counts; ``outermost`` skips
        re-entrant calls (recursive translators) so one call is one span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.active or (
                    outermost and any(f[0] == name for f in tracer._stack())):
                return orig(*args, **kwargs)
            frame = tracer.begin(name)
            try:
                out = orig(*args, **kwargs)
            finally:
                tracer.end(frame)
            if counter is not None:
                for k, v in counter(args, out).items():
                    tracer.count(k, v)
            return out

        setattr(owner, attr, wrapper)

    def wrap_iter(self, it, name: str, counter=None, charge=False):
        """Yield from ``it``, timing each ``next()``: as a span, or (with
        ``charge``) as blocked time charged to the caller's open span."""
        if not self.active:
            yield from it
            return
        while True:
            if charge:
                t0 = _now()
                try:
                    item = next(it)
                except StopIteration:
                    self.charge(name, _now() - t0)
                    return
                self.charge(name, _now() - t0)
            else:
                frame = self.begin(name)
                try:
                    item = next(it)
                except StopIteration:
                    return
                finally:
                    self.end(frame)
            if counter is not None:
                for k, v in counter(item).items():
                    self.count(k, v)
            yield item

    # -- output -------------------------------------------------------------

    def export(self, wait_s: float = 5.0) -> dict:
        """Spans and counts.  A server thread may still be closing its
        request span after the client got its reply, so open spans get up
        to ``wait_s`` to end; one still open keeps an 'unfinished' slot so
        parent indices stay valid."""
        deadline = _now() + wait_s
        while _now() < deadline:
            with self._lock:
                if None not in self.spans:
                    break
            time.sleep(0.01)
        with self._lock:
            spans = [s or ("unfinished", 0.0, 0.0, -1, "") for s in self.spans]
            return {"spans": spans, "counts": dict(self.counts)}


class _Span:
    __slots__ = ("tracer", "name", "frame")

    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        self.frame = self.tracer.begin(self.name) if self.tracer.active else None
        return self

    def __exit__(self, *exc):
        if self.frame is not None:
            self.tracer.end(self.frame)


def self_times(spans) -> dict[str, dict]:
    """Per span name: call count, total and self seconds (duration minus
    the time covered by its direct children, which nest within one
    thread and so never overlap)."""
    child = defaultdict(float)
    for name, t0, t1, parent, _op in spans:
        if parent >= 0:
            child[parent] += t1 - t0
    out: dict[str, dict] = {}
    for i, (name, t0, t1, _parent, _op) in enumerate(spans):
        d = out.setdefault(name, {"n": 0, "total_s": 0.0, "self_s": 0.0})
        d["n"] += 1
        d["total_s"] += t1 - t0
        d["self_s"] += max(0.0, (t1 - t0) - child[i])
    return out


def per_op(spans, name: str) -> list[float]:
    """Summed duration of ``name`` spans per op id, in seconds."""
    acc = defaultdict(float)
    for n, t0, t1, _parent, op in spans:
        if n == name and op:
            acc[op] += t1 - t0
    return list(acc.values())
