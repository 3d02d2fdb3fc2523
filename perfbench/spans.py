"""In-memory spans for the traced run.

A span is one call from the benchmark into a layer of the program (or one
phase of a micro-batch, rebuilt from ``StreamingQueryProgress``). Spans of
one query or one batch share a ``trace_id``. Nothing is written until
``dump`` runs at the end of the benchmark.

A layer's self time is the length of its spans minus the part of each span
that its child spans cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

LAYERS = (
    "session",
    "avro_codec",
    "schema.registry",
    "streaming.ingest",
    "sources",
    "plans",
    "operators",
)


@dataclass
class Span:
    span_id: int
    trace_id: str
    name: str
    layer: str
    start: float
    end: float
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Collects spans when ``enabled``; a disabled tracer records nothing
    and its ``span`` context manager costs one attribute check."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.busy_s = 0.0  # time spent inside the tracer's own bookkeeping
        self._stack: list[Span] = []

    def add(
        self,
        name: str,
        layer: str,
        start: float,
        end: float,
        trace_id: str,
        parent: int | None = None,
        **attrs,
    ) -> int:
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        s = Span(len(self.spans), trace_id, name, layer, start, end, parent, attrs)
        self.spans.append(s)
        return s.span_id

    @contextmanager
    def span(self, name: str, layer: str, trace_id: str, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(len(self.spans), trace_id, name, layer, 0.0, 0.0, parent, attrs)
        self.spans.append(s)
        self._stack.append(s)
        s.start = time.perf_counter()
        self.busy_s += s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.busy_s += time.perf_counter() - s.end

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per layer, over every recorded span."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = dict.fromkeys(LAYERS, 0.0)
        for s in self.spans:
            covered, cur = 0.0, s.start
            for c in sorted(children.get(s.span_id, ()), key=lambda c: c.start):
                lo, hi = max(c.start, cur), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur = hi
            out[s.layer] += max(0.0, (s.end - s.start) - covered)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
