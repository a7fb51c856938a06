"""In-memory spans for the traced run.

A span is one call into a layer: name, start, end (time.monotonic(), which
is CLOCK_MONOTONIC and so comparable across processes), parent span and the
run id every span of one run shares. Spans are kept in a list and written
out once, when the run ends.

`Tracer.wrap` replaces a function attribute on a module with a wrapper that
records a span around each call, so spans sit at the boundaries where the
pipeline calls into its layers; `Tracer.restore` puts the originals back.
"""

from __future__ import annotations

import contextlib
import functools
import time
import uuid
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    def __init__(self, run_id: str | None = None):
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def open(self, name: str) -> int:
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(sid, name, time.monotonic(), float("nan"), parent, self.run_id))
        self._stack.append(sid)
        return sid

    def close(self, sid: int) -> None:
        self.spans[sid].end = time.monotonic()
        if self._stack.pop() != sid:
            raise RuntimeError("spans must close in the reverse order they opened")

    @contextlib.contextmanager
    def span(self, name: str):
        sid = self.open(name)
        try:
            yield
        finally:
            self.close(sid)

    def wrap(self, module, attr: str, name) -> None:
        """Patch module.attr so every call records a span. `name` is a
        string, or a function of the call's (args, kwargs) returning the span
        name (or None to call through without a span)."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            span_name = name(args, kwargs) if callable(name) else name
            if span_name is None:
                return orig(*args, **kwargs)
            with self.span(span_name):
                return orig(*args, **kwargs)

        self._patched.append((module, attr, orig))
        setattr(module, attr, traced)

    def restore(self) -> None:
        while self._patched:
            module, attr, orig = self._patched.pop()
            setattr(module, attr, orig)

    def to_json(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def self_intervals(spans: list[dict]) -> dict[int, list[tuple[float, float]]]:
    """Per span id, the parts of its [start, end] that no direct child
    covers — the intervals its self time is made of."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        cur = s["start"]
        gaps = []
        for cs, ce in sorted(children.get(s["id"], [])):
            cs, ce = max(cs, s["start"]), min(ce, s["end"])
            if cs > cur:
                gaps.append((cur, cs))
            cur = max(cur, ce)
        if s["end"] > cur:
            gaps.append((cur, s["end"]))
        out[s["id"]] = gaps
    return out


def self_time(spans: list[dict]) -> dict[int, float]:
    """A span's self time: its duration minus the part of that interval
    its child spans cover."""
    return {sid: sum(e - s for s, e in gaps) for sid, gaps in self_intervals(spans).items()}
