"""In-memory spans around the benchmark's calls into each layer.

A span has a name, a start and end (``time.perf_counter`` seconds), a
parent span and a run id. Spans live in memory and are written out
once, at the end. A span's self time is its duration minus the part of
its interval covered by its child spans (children may overlap each
other; the covered part counts once).
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(sid, name, layer, time.perf_counter(), 0.0, parent, self.run_id)
        self.spans.append(sp)
        self._stack.append(sid)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(asdict(sp)) + "\n")


def covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """{span id: duration minus the union of its children's intervals}."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append((sp.start, sp.end))
    out = {}
    for sp in spans:
        inner = [
            (max(s, sp.start), min(e, sp.end))
            for s, e in kids.get(sp.sid, ())
            if min(e, sp.end) > max(s, sp.start)
        ]
        out[sp.sid] = (sp.end - sp.start) - covered(inner)
    return out


def self_time_by_layer(spans: list[Span]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = {}
    for sp in spans:
        out[sp.layer] = out.get(sp.layer, 0.0) + st[sp.sid]
    return out

