"""Outside-in spans: wall-clock timing of calls into the package.

The benchmark never edits the package. It replaces public functions,
as module attributes, with timing wrappers. Every loaded module of the
package that holds the same function object under any name is patched
too, so callers that imported the function at module load see the
wrapper as well as callers that import it at call time
(``__main__.main`` does the latter).

Spans nest on one stack: the driver-side Python that calls into the
package is single-threaded. A span's self time is its duration minus
that of its direct children.
"""

from __future__ import annotations

import functools
import sys
import time


class Tracer:
    def __init__(self, package: str):
        self.package = package
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._undo: list[tuple[object, str, object]] = []

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, module, attr: str, name: str) -> None:
        """Time every call of ``module.attr`` as span ``name``."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def timed(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith(self.package):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    self._undo.append((mod, key, orig))
                    setattr(mod, key, timed)

    def unwrap(self) -> None:
        for mod, key, orig in reversed(self._undo):
            setattr(mod, key, orig)
        self._undo.clear()

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_time(self, name: str) -> float:
        out = 0.0
        for s in self.spans:
            if s["name"] == name:
                kids = sum(c["end"] - c["start"] for c in self.spans
                           if c["parent"] == s["id"])
                out += s["end"] - s["start"] - kids
        return out


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        t = self.tracer
        parent = t._stack[-1]["id"] if t._stack else None
        self.rec = {"id": len(t.spans), "name": self.name, "parent": parent,
                    "start": time.perf_counter(), "end": None}
        t.spans.append(self.rec)
        t._stack.append(self.rec)
        return self.rec

    def __exit__(self, *exc):
        self.rec["end"] = time.perf_counter()
        self.tracer._stack.pop()
        return False
