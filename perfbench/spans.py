"""In-memory span tracer for the traced run.

Spans are recorded around the public calls one layer makes into the next,
by patching those calls from outside the program (``Tracer.wrap``).  Each
span records name, start, end, parent span and op id; the spans stay in
memory and are written out once, at exit.  A layer's self time is its span
minus the part of that interval its child spans cover, so the self times of
one op's spans add up to the op's wall time exactly.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    op: str | None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the time its direct children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None and s.end is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.seconds - covered(kids.get(s.id, []), s.start, s.end)
        for s in spans
        if s.end is not None
    }


def layer_table(spans: list[Span], layer_of) -> dict[str, dict[str, float]]:
    """Op id -> {layer: self seconds}.  ``layer_of(span)`` names the layer a
    span's self time belongs to; every span of an op lands in some layer,
    so each op's layers sum to the wall time of its root spans."""
    st = self_times(spans)
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        if s.op is None or s.id not in st:
            continue
        row = out.setdefault(s.op, {})
        layer = layer_of(s)
        row[layer] = row.get(layer, 0.0) + st[s.id]
    return out


class Tracer:
    """Span recorder.  Parent = the innermost open span on the calling
    thread, else the current op's root span (callbacks that Spark runs on
    its own threads, such as ``foreachBatch``, still attach to the op)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self.op: str | None = None
        self.op_root: int | None = None
        self.enabled = False

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, op: str | None = None, **attrs) -> int:
        """Open a span; its op is ``op``, else its parent's, else the
        current op."""
        stack = self._stack()
        parent = stack[-1] if stack else self.op_root
        if op is None:
            op = self.spans[parent].op if parent is not None else self.op
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                Span(sid, name, time.monotonic(), None, parent, op, attrs)
            )
        stack.append(sid)
        return sid

    def end(self, sid: int) -> None:
        self.spans[sid].end = time.monotonic()
        stack = self._stack()
        if stack and stack[-1] == sid:
            stack.pop()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = self.begin(name, **attrs)
        try:
            yield self.spans[sid]
        finally:
            self.end(sid)

    def start_op(self, op: str) -> int:
        self.op = op
        self.op_root = None
        self.op_root = self.begin("op")
        return self.op_root

    def finish_op(self) -> Span:
        root = self.spans[self.op_root]
        self.end(self.op_root)
        self.op, self.op_root = None, None
        return root

    def wrap(self, owner, attr: str, name: str, *, static: bool = False,
             before=None, after=None, op_of=None) -> None:
        """Patch ``owner.attr`` so that, while the tracer is enabled, each
        call runs inside a span ``name`` (of op ``op_of(tracer, args)`` when
        given, so one call can start an op of its own).  ``before(args)`` and
        ``after(args, result, span, state)`` (``state``: what ``before``
        returned) run inside a ``trace.probe`` child span, so their cost is
        charged to tracing, not to the layer."""
        orig = owner.__dict__[attr]
        fn = orig.__func__ if static else orig
        tracer = self

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            outer = tracer.begin(
                name, op=op_of(tracer, args) if op_of is not None else None)
            try:
                state = None
                if before is not None:
                    with tracer.span("trace.probe"):
                        state = before(args)
                out = fn(*args, **kwargs)
                if after is not None:
                    with tracer.span("trace.probe"):
                        after(args, out, tracer.spans[outer], state)
                return out
            finally:
                tracer.end(outer)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, staticmethod(wrapped) if static else wrapped)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
