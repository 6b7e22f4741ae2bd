"""In-memory spans recorded by the benchmark around its calls into each
layer: name, start, end (seconds since the tracer started), the index of
the enclosing span, and the timed run they belong to. They are written out
once, with the run record, when the benchmark ends."""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, run: int | None = None):
        rec = {"name": name, "run": run,
               "parent": self._open[-1] if self._open else None,
               "start": time.perf_counter() - self.t0, "end": None}
        self.spans.append(rec)
        self._open.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._open.pop()

    def last(self, name: str) -> dict | None:
        for s in reversed(self.spans):
            if s["name"] == name:
                return s
        return None
