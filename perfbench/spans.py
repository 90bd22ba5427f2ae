"""In-memory span recorder for the traced run.

A span is (id, name, start_ns, end_ns, parent_id, trace_id). Spans are
recorded by wrapping a module attribute — a public function of a
``webx`` module, patched from here for the duration of the traced pass
and restored afterwards — or with the ``span`` context manager around
the benchmark's own calls. Spans stay in memory and are written out
once, at the end of the run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

_now = time.perf_counter_ns


class Tracer:
    def __init__(self):
        self.spans = []        # [id, name, start, end, parent, trace]
        self.counts = {}       # name → count, taken at the same boundaries
        self.trace_id = 0
        self._stack = []
        self._patched = []

    def new_trace(self) -> None:
        self.trace_id += 1

    def count(self, name: str, k: int = 1) -> None:
        self.counts[name] = self.counts.get(name, 0) + k

    @contextmanager
    def span(self, name: str):
        rec = [len(self.spans) + 1, name, _now(), 0,
               self._stack[-1][0] if self._stack else 0, self.trace_id]
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec[3] = _now()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` by a spanning wrapper; ``on_result``
        sees each call's return value (for outcome counters)."""
        fn = getattr(owner, attr)
        tracer = self

        def wrapper(*a, **kw):
            with tracer.span(name):
                res = fn(*a, **kw)
            if on_result is not None:
                on_result(res)
            return res

        wrapper.__wrapped__ = fn
        self._patched.append((owner, attr, fn))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        while self._patched:
            owner, attr, fn = self._patched.pop()
            setattr(owner, attr, fn)

    def total_ns(self, prefix: str) -> int:
        """Summed duration of spans whose name starts with ``prefix``,
        counting a nested span of the same prefix once."""
        ids = {s[0] for s in self.spans if s[1].startswith(prefix)}
        return sum(s[3] - s[2] for s in self.spans
                   if s[1].startswith(prefix) and s[4] not in ids)

    def self_ns(self, name: str) -> int:
        """Duration of ``name`` spans minus what their child spans cover."""
        ids = {s[0] for s in self.spans if s[1] == name}
        total = sum(s[3] - s[2] for s in self.spans if s[0] in ids)
        kids = sum(s[3] - s[2] for s in self.spans if s[4] in ids)
        return total - kids

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sid, name, start, end, parent, trace in self.spans:
                fh.write(json.dumps({
                    "id": sid, "name": name, "start_ns": start, "end_ns": end,
                    "parent": parent, "trace": trace,
                }) + "\n")
