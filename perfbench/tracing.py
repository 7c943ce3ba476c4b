"""In-memory spans recorded by the benchmark around each call into the
engine. A span has a name, start, end and parent; every span of one op
shares the op's id. Spans are kept in a list and written out as JSON
lines once the run ends."""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._op_id: str | None = None

    @contextmanager
    def span(self, name: str, **tags):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self._op_id,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            **({"tags": tags} if tags else {}),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def op(self, op_id: str, **tags):
        """Root span of one op; every span opened inside carries its id."""
        self._op_id = op_id
        try:
            with self.span("op", **tags) as rec:
                yield rec
        finally:
            self._op_id = None

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
