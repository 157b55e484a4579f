"""In-memory span recorder for the traced run.

``Tracer.wrap(owner, attr, name)`` replaces a public function with a
wrapper that records (name, start, end, parent) around every call;
callers that look the function up through its module (as ``ingest()``
does for its listing and decode stages) are traced too. ``dump`` writes
the spans, with each span's self time (duration minus the time its direct
children cover), as one JSON file."""

from __future__ import annotations

import functools
import json
import time


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple] = []

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, owner, attr: str, name: str) -> None:
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def finished(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and "end" in s]

    def self_times(self) -> list[float]:
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                child[s["parent"]] += s["end"] - s["start"]
        return [s["end"] - s["start"] - c if "end" in s else 0.0
                for s, c in zip(self.spans, child)]

    def dump(self, path: str) -> None:
        rows = [dict(s, id=i, self_s=st) for i, (s, st)
                in enumerate(zip(self.spans, self.self_times()))]
        with open(path, "w") as f:
            json.dump({"spans": rows}, f, indent=1)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        t = self.tracer
        parent = t._stack[-1] if t._stack else None
        self.id = len(t.spans)
        t.spans.append({"name": self.name, "start": time.perf_counter(),
                        "parent": parent})
        t._stack.append(self.id)
        return self

    def __exit__(self, *exc):
        t = self.tracer
        t.spans[self.id]["end"] = time.perf_counter()
        t._stack.pop()
        return False


class NullTracer:
    """The untraced run: spans cost nothing and record nothing."""

    def span(self, name: str):
        return _NULL

    def unwrap_all(self) -> None:
        pass


class _NullSpan:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


_NULL = _NullSpan()
