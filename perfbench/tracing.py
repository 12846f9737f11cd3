"""In-memory span recorder for the traced benchmark run.

A span is ``(name, start, end, parent, trace)``: ``name`` is
``"<layer>.<call>"``, ``parent`` the index of the enclosing span (or
None), ``trace`` the id shared by every span of one operation.  Spans are
kept in memory and written out once, at run end.  A layer's self time is
the time its spans cover minus the part their child spans cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[list] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, trace: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if trace is None and parent is not None:
            trace = self.spans[parent][4]
        idx = len(self.spans)
        self.spans.append([name, time.perf_counter(), None, parent, trace])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def self_seconds_by_layer(self) -> dict[str, float]:
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s[3] is not None and s[2] is not None:
                child[s[3]] += s[2] - s[1]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s[2] is None:
                continue
            layer = s[0].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s[2] - s[1]) - child[i]
        return out

    def dump(self, path: str) -> None:
        t0 = self.spans[0][1] if self.spans else 0.0
        with open(path, "w") as fh:
            json.dump({
                "self_seconds_by_layer": self.self_seconds_by_layer(),
                "spans": [
                    {"name": n, "start_s": round(a - t0, 6),
                     "end_s": None if b is None else round(b - t0, 6),
                     "parent": p, "trace": t}
                    for n, a, b, p, t in self.spans
                ],
            }, fh, indent=1)
