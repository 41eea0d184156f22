"""In-memory spans around calls into the program's public functions.

A span has a name, start, end, parent and the trace id of the
benchmark operation it belongs to. The benchmark opens one root span
per operation and wraps the module functions it cares about; spans
are kept in memory and written out once, when the run ends.

Self time is a span's duration minus the part of its interval that
its child spans cover, so the self times of one operation's spans sum
to the root span's duration.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    trace_id: int
    name: str
    start: float
    end: float = 0.0


class Tracer:
    """Collects spans; ``enabled=False`` makes every span a no-op, so
    the untraced run pays nothing but one attribute check per call."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root_stack: list[Span] | None = None
        self._next_id = 0

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def operation(self, trace_id: int, name: str):
        """Root span of one benchmark operation."""
        if not self.enabled:
            yield
            return
        self._root_stack = self._stack()
        with self.span(name, trace_id=trace_id):
            try:
                yield
            finally:
                self._root_stack = None

    @contextmanager
    def span(self, name: str, trace_id: int | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        # a call made on a callback thread (e.g. a streaming foreachBatch)
        # has no stack of its own: its parent is the innermost span the
        # operation's thread has open while it waits
        if stack:
            parent = stack[-1]
        else:
            root_stack = self._root_stack
            parent = root_stack[-1] if root_stack else None
        with self._lock:
            span_id = self._next_id
            self._next_id += 1
        tid = trace_id if trace_id is not None else (parent.trace_id if parent else -1)
        s = Span(span_id, parent.span_id if parent else None, tid, name, time.perf_counter())
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    def wrap(self, fn, name: str, delay_s: float = 0.0):
        """``fn`` inside a span named ``name``; ``delay_s`` plants a fixed
        sleep inside the span (the attribution self-test)."""

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with self.span(name):
                if delay_s:
                    time.sleep(delay_s)
                return fn(*args, **kwargs)

        return wrapped

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.span_id):
                fh.write(json.dumps(asdict(s)) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id -> duration minus the union of its children's intervals
    (clipped to the span)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent_id is not None:
            children.setdefault(s.parent_id, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cursor = s.start
        for c in sorted(children.get(s.span_id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s.span_id] = (s.end - s.start) - covered
    return out


class Patcher:
    """Replaces a function everywhere the program's modules hold it.

    Program modules import functions by name (``from .sinks.writers
    import write_month_partition``), so patching only the defining
    module would miss the call site. Every loaded module of the package
    that holds the same object gets the wrapper; ``restore`` undoes it.
    """

    def __init__(self, package: str) -> None:
        self.package = package
        self._undo: list[tuple[object, str, object]] = []

    def patch(self, owner, attr: str, wrapper_factory) -> None:
        original = getattr(owner, attr)
        wrapped = wrapper_factory(original)
        targets = [owner]
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or mod is owner:
                continue
            if mod_name == self.package or mod_name.startswith(self.package + "."):
                if getattr(mod, attr, None) is original:
                    targets.append(mod)
        for t in targets:
            self._undo.append((t, attr, original))
            setattr(t, attr, wrapped)

    def restore(self) -> None:
        while self._undo:
            t, attr, original = self._undo.pop()
            setattr(t, attr, original)
