"""In-memory spans around the benchmark's calls into the program.

A span is (id, parent id, name, start, end, attrs); start/end are
``time.perf_counter`` seconds. Spans are kept in a list and written out
once, when the run ends. With tracing off, ``span`` returns a shared
no-op context manager so the untraced run pays one attribute lookup and
one call per wrapped call.
"""

from __future__ import annotations

import contextlib
import json
import time

_NOOP = contextlib.nullcontext()


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, **attrs):
        if not self.enabled:
            return _NOOP
        return self._record(name, attrs)

    @contextlib.contextmanager
    def _record(self, name: str, attrs: dict):
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.perf_counter(), "end": None,
               "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")
