"""In-memory spans recorded from the benchmark's own code.

A span has a name, a start and an end (seconds since the tracer started), the
index of its parent span and the id of the request it belongs to. Public
calls of the engine are wrapped by patching the module attributes that
hold them, so calls made inside other engine functions are traced too; the
untraced run never patches anything.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.request: str | None = None
        self.phase: str | None = None
        self._patched: list[tuple[object, str, object]] = []
        # time spent in the tracer's own bookkeeping hooks (the overhead the
        # traced run adds on top of the calls it wraps)
        self.hook_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "name": name,
            "start": time.perf_counter() - self.t0,
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "request": self.request,
            "phase": self.phase,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def instrument(self, fn, name: str, after=None) -> None:
        """Route every module-level reference to ``fn`` through a span.

        ``after(rec, result)`` runs inside the span once ``fn`` returned; its
        own time is counted in ``hook_s``."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if after is not None:
                    h0 = time.perf_counter()
                    after(rec, out)
                    self.hook_s += time.perf_counter() - h0
                return out

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("es_indexer_spark"):
                for attr, val in list(vars(mod).items()):
                    if val is fn:
                        setattr(mod, attr, wrapper)
                        self._patched.append((mod, attr, fn))

    def restore(self) -> None:
        for mod, attr, fn in reversed(self._patched):
            setattr(mod, attr, fn)
        self._patched.clear()

    def self_time(self, i: int) -> float:
        """Span ``i``'s duration minus the union of its children's intervals."""
        s = self.spans[i]
        kids = sorted(
            (c["start"], c["end"]) for c in self.spans if c["parent"] == i and c["end"] is not None
        )
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in kids:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (s["end"] - s["start"]) - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s, "self": self.self_time(i)}, default=str) + "\n")
