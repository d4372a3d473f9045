"""In-memory span recorder for the traced benchmark run.

Spans are recorded from the benchmark's own code, around its calls into
each engine layer, and written out once when the run ends. A disabled
recorder costs one attribute check per call site.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time

from metrics import Span, self_times


class Recorder:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self._spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self.overhead_s = 0.0  # time spent inside the recorder itself

    def add(
        self,
        name: str,
        start: float,
        end: float,
        request: str,
        parent: int | None = None,
    ) -> int | None:
        """Record a finished span; returns its id (None when disabled)."""
        if not self.enabled:
            return None
        t0 = time.perf_counter()
        with self._lock:
            sid = next(self._ids)
            self._spans.append(Span(sid, name, start, end, parent, request))
            self.overhead_s += time.perf_counter() - t0
        return sid

    @contextlib.contextmanager
    def span(self, name: str, request: str, parent: int | None = None):
        """Time the body as one span. Yields the span's id so children can
        name it as parent; the id is reserved before the body runs."""
        if not self.enabled:
            yield None
            return
        with self._lock:
            sid = next(self._ids)
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            t0 = time.perf_counter()
            with self._lock:
                self._spans.append(Span(sid, name, start, end, parent, request))
                self.overhead_s += time.perf_counter() - t0

    def spans(self) -> list[Span]:
        with self._lock:
            return list(self._spans)

    def dump(self, path: str, extra: dict) -> None:
        spans = self.spans()
        own = self_times(spans)
        doc = {
            **extra,
            "spans": [
                {
                    "id": s.id,
                    "name": s.name,
                    "start": s.start,
                    "end": s.end,
                    "parent": s.parent,
                    "request": s.request,
                    "self_s": own[s.id],
                }
                for s in spans
            ],
        }
        with open(path, "w") as fh:
            json.dump(doc, fh)
