"""In-memory spans and the interval arithmetic the metrics are built on.

A span is one timed interval at a layer boundary: name, start, end
(epoch seconds), parent span id and trace id. The benchmark records
spans around its own calls into the program's public functions and adds
post-hoc child spans for Spark jobs (from the status store) and
micro-batch phases (from streaming progress). Spans stay in memory and
are written out once, as JSON lines, when the run ends.
"""

from __future__ import annotations

import json
import math
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    trace: str
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(":", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans; ``enabled=False`` makes every call a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _new(self, name, start, end, parent, trace, attrs) -> Span:
        with self._lock:
            span = Span(len(self.spans), name, start, end, parent, trace, attrs)
            self.spans.append(span)
        return span

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, trace: str | None = None, **attrs):
        """Time the body as a child of this thread's innermost open span."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        span = self._new(
            name,
            time.time(),
            math.nan,
            parent.id if parent else None,
            trace if trace is not None else (parent.trace if parent else ""),
            attrs,
        )
        stack.append(span)
        try:
            yield span
        finally:
            stack.pop()
            span.end = time.time()

    def add(self, name, start, end, parent: Span | None, trace: str = "", **attrs) -> Span | None:
        """Record a span measured elsewhere (a job, a batch phase); it
        joins its parent's trace, or starts ``trace`` if it has none."""
        if not self.enabled:
            return None
        return self._new(
            name, start, end, parent.id if parent else None,
            parent.trace if parent else trace, attrs,
        )

    def write_jsonl(self, path) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def gap_outside(window: tuple[float, float], intervals) -> float:
    """Time inside ``window`` not covered by any interval: for a query,
    wall time minus the union of its job intervals (the driver gap)."""
    lo, hi = window
    clipped = [(max(a, lo), min(b, hi)) for a, b in intervals]
    return (hi - lo) - union_length(clipped)


def children_of(spans: list[Span]) -> dict[int | None, list[Span]]:
    out: dict[int | None, list[Span]] = {}
    for s in spans:
        out.setdefault(s.parent, []).append(s)
    return out


def subtree(spans: list[Span], root: Span) -> list[Span]:
    """``root`` and every span below it."""
    kids = children_of(spans)
    out, frontier = [root], [root]
    while frontier:
        frontier = [k for s in frontier for k in kids.get(s.id, [])]
        out.extend(frontier)
    return out


def blocking_path(spans: list[Span], root: Span) -> dict[str, float]:
    """Each layer's self time along the blocking path of ``root``.

    A span's self time is its duration minus the part its children
    cover. Every elementary interval of ``root`` goes to the deepest span
    open over it (the most recently started one on ties), so overlapping
    sibling jobs are not counted twice and the layer totals add up to the
    root's wall time exactly."""
    members = subtree(spans, root)
    depth: dict[int, int] = {root.id: 0}
    for s in members[1:]:
        depth[s.id] = depth[s.parent] + 1
    cuts = sorted(
        {root.start, root.end}
        | {min(max(t, root.start), root.end) for s in members for t in (s.start, s.end)}
    )
    out: dict[str, float] = {}
    for lo, hi in zip(cuts, cuts[1:]):
        mid = (lo + hi) / 2
        open_ = [s for s in members if s.start <= mid < s.end]
        if not open_:
            continue
        owner = max(open_, key=lambda s: (depth[s.id], s.start))
        out[owner.layer] = out.get(owner.layer, 0.0) + (hi - lo)
    return out


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        return math.nan
    k = (len(xs) - 1) * q / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values) -> float:
    return percentile(values, 50.0)
