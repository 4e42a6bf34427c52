"""In-memory spans for the traced run.

A span records a name, start, end, the span that caused it and the trace
(one query execution or one pipeline job) it belongs to.  Spans stay in
memory and are written out once, when the run ends.  With tracing off,
`span()` records nothing.
"""

from __future__ import annotations

import itertools
import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        # time spent inside the tracer and the traced-only probes it wraps
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, name: str, trace: str, parent: int | None = None, **attrs):
        """Yields the span id (None when tracing is off)."""
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            self.spans.append({"id": sid, "parent": parent, "trace": trace,
                               "name": name, "start": start, "end": end,
                               **attrs})
            self.bookkeeping_s += time.perf_counter() - end

    def self_seconds(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        part of it its children cover (children never overlap here: every
        layer call is synchronous)."""
        child_s: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child_s[s["id"]]
        return dict(out)

    def write(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": self.spans}, f)
