"""In-memory spans around calls into the program's layers.

The tracer wraps public functions and methods of ``pramen_spark`` at run
time (``Tracer.wrap_function`` / ``Tracer.wrap_method``) and restores them
on ``Tracer.uninstall``. Each call records a span: name, start, end,
parent span, operation id and thread. Spans stay in memory until the run
writes them out.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional, Sequence, Tuple


@dataclass
class Span:
    sid: int
    name: str
    start: float
    parent: Optional[int]
    op: Optional[str]
    thread: int
    end: Optional[float] = None
    counts: Dict[str, float] = field(default_factory=dict)
    before: Optional[Dict[str, float]] = field(default=None, repr=False)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def covered(intervals: Sequence[Tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the part of ``[lo, hi]`` covered by the union of
    ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total = 0.0
    cur_a = cur_b = None
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


def self_times(spans: Sequence[Span]) -> Dict[int, float]:
    """Per span id: its duration minus the part of it that its child spans
    cover (children may overlap each other; the union is subtracted)."""
    children: Dict[int, List[Tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None and s.end is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        if s.end is None:
            continue
        out[s.sid] = s.duration - covered(children.get(s.sid, []), s.start, s.end)
    return out


def outermost(spans: Sequence[Span], name: str) -> List[Span]:
    """Closed spans called ``name`` that have no ancestor of the same name,
    so a subclass method calling its base is counted once."""
    by_id = {s.sid: s for s in spans}
    out = []
    for s in spans:
        if s.name != name or s.end is None:
            continue
        p = by_id.get(s.parent) if s.parent is not None else None
        while p is not None and p.name != name:
            p = by_id.get(p.parent) if p.parent is not None else None
        if p is None:
            out.append(s)
    return out


class Tracer:
    """Records spans; ``counter`` (optional) is called at the start and end
    of the spans named in ``counted`` and must return a dict of running
    totals, whose difference is stored in ``Span.counts``."""

    def __init__(self, counter: Optional[Callable[[], Dict[str, float]]] = None,
                 counted: Sequence[str] = ()):
        self.spans: List[Span] = []
        self._counter = counter
        self._counted = set(counted)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: List[Tuple[object, str, object]] = []

    # --- spans ---

    def _stack(self) -> List[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def begin(self, name: str, op: Optional[str] = None) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            span = Span(
                sid=len(self.spans),
                name=name,
                start=time.perf_counter(),
                parent=parent.sid if parent else None,
                op=op if op is not None else (parent.op if parent else None),
                thread=threading.get_ident(),
            )
            self.spans.append(span)
        if self._counter is not None and name in self._counted:
            span.before = self._counter()
        stack.append(span)
        return span

    def end(self, span: Span) -> None:
        if span.before is not None:
            after = self._counter()
            span.counts.update({k: after[k] - span.before.get(k, 0) for k in after})
            span.before = None
        span.end = time.perf_counter()
        stack = self._stack()
        if span in stack:
            stack.remove(span)

    @contextlib.contextmanager
    def span(self, name: str, op: Optional[str] = None):
        s = self.begin(name, op)
        try:
            yield s
        finally:
            self.end(s)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                rec = {k: v for k, v in s.__dict__.items() if k != "before"}
                f.write(json.dumps(rec) + "\n")

    # --- patching ---

    def traced(self, name: str, fn: Callable, op_of: Optional[Callable] = None,
               on_result: Optional[Callable] = None) -> Callable:
        """``fn`` wrapped in a span. ``op_of(*args)`` names the operation the
        span starts; ``on_result(span, result)`` may record counts from the
        return value."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            s = tracer.begin(name, op_of(*args, **kwargs) if op_of else None)
            try:
                result = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(s, result)
                return result
            finally:
                tracer.end(s)

        return wrapper

    def patch(self, owner, attr: str, replacement) -> None:
        """Set ``owner.attr`` until ``uninstall``."""
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, replacement)

    def wrap_function(self, module, attr: str, name: str, **kw) -> None:
        """Replace ``module.attr`` (a function looked up there at call time)."""
        self.patch(module, attr, self.traced(name, getattr(module, attr), **kw))

    def wrap_method(self, cls, attr: str, name: str, **kw) -> None:
        """Replace the method ``attr`` defined on ``cls`` itself, keeping a
        classmethod or staticmethod what it was."""
        raw = cls.__dict__[attr]
        if isinstance(raw, (classmethod, staticmethod)):
            self.patch(cls, attr, type(raw)(self.traced(name, raw.__func__, **kw)))
        else:
            self.patch(cls, attr, self.traced(name, raw, **kw))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()
