"""Spans recorded from outside the program.

The traced run wraps public functions of the package's layers in
``Tracer.span`` so each call leaves a span: name, start, end, parent
span, request id (an OLAP round/query or a stream micro-batch) and a
few attributes. Spans stay in memory and are written out once, when
the run ends; ``self_time`` nets out a span's direct children (an
insert's inline compaction, a refresh's own inserts).

Nothing here is imported into, or changes the behaviour of, the
program: with tracing off no function is wrapped at all.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; one stack of open spans per thread."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def set_request(self, request: str | None) -> None:
        """Request id for spans opened by the calling thread."""
        self._local.request = request

    def begin(self, name: str, **attrs) -> Span:
        st = self._stack()
        parent = st[-1] if st else None
        request = getattr(self._local, "request", None) or (
            parent.request if parent else None
        )
        with self._lock:
            sp = Span(len(self.spans), name, time.time(),
                      parent=parent.sid if parent else None,
                      request=request, attrs=attrs)
            self.spans.append(sp)
        st.append(sp)
        return sp

    def end(self, sp: Span) -> None:
        sp.end = time.time()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sp = self.begin(name, **attrs)
        try:
            yield sp
        finally:
            self.end(sp)

    def wrap(self, owner, attr: str, name: str, attrs_fn=None, on_result=None):
        """Replace ``owner.attr`` by a wrapper recording a span per call.
        ``attrs_fn(*args, **kw)`` adds attributes (e.g. the table name);
        ``on_result(span, result, args)`` may annotate the span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kw):
            sp = tracer.begin(name, **(attrs_fn(*args, **kw) if attrs_fn else {}))
            try:
                out = orig(*args, **kw)
            finally:
                tracer.end(sp)
            if on_result is not None:
                on_result(sp, out, args)
            return out

        setattr(owner, attr, wrapper)

    # ---- reduction -----------------------------------------------------

    def self_time(self, sp: Span) -> float:
        kids = sum(c.dur for c in self.spans if c.parent == sp.sid)
        return sp.dur - kids

    def named(self, name: str, since: float = 0.0, until: float = float("inf")):
        return [
            s for s in self.spans
            if s.name == name and s.end and since <= s.start <= until
        ]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.sid, "name": s.name, "start": s.start,
                    "end": s.end, "parent": s.parent,
                    "request": s.request, **s.attrs,
                }) + "\n")


def span_cost_s(n: int = 20000) -> float:
    """Measured cost of recording one wrapped call's span, for the
    tracing-overhead estimate (the wrapper work, not the call)."""
    tr = Tracer()

    class _Obj:
        @staticmethod
        def f():
            return None

    base0 = time.perf_counter()
    for _ in range(n):
        _Obj.f()
    base = time.perf_counter() - base0
    tr.wrap(_Obj, "f", "calibrate")
    t0 = time.perf_counter()
    for _ in range(n):
        _Obj.f()
    return max(time.perf_counter() - t0 - base, 0.0) / n
