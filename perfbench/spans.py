"""In-memory span recorder for the traced benchmark run.

Spans are recorded from the benchmark's side of each layer boundary: the
recorder replaces a public function or method with a timing wrapper under
the name its caller looks it up by, so the engine code itself is unchanged.
Each span keeps its name, start, end, parent span and the request id of the
query (or ingest step) it belongs to. Nothing is written until the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple] = []  # (id, parent, request, name, t0, t1)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._undo: list[tuple] = []

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def request(self, rid: str):
        """Tag every span opened by this thread inside the block with ``rid``."""
        prev = getattr(self._local, "rid", None)
        self._local.rid = rid
        try:
            yield
        finally:
            self._local.rid = prev

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        stack = self._stack()
        parent = stack[-1] if stack else 0
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            # list.append is atomic under the interpreter lock
            self.spans.append(
                (sid, parent, getattr(self._local, "rid", None), name, t0, t1)
            )

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (module function or class method) with a
        wrapper that records a span named ``name`` around every call."""
        if not self.enabled:
            return
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def self_times(self, request_prefix: str = "") -> dict[str, float]:
        """Total self time per span name over the spans whose request id
        starts with ``request_prefix``: each span's duration minus the time
        its direct children cover (children nest: calls are synchronous
        within a thread)."""
        spans = [s for s in self.spans if (s[2] or "").startswith(request_prefix)]
        child = defaultdict(float)
        for _sid, parent, _rid, _name, t0, t1 in spans:
            if parent:
                child[parent] += t1 - t0
        out: dict[str, float] = defaultdict(float)
        for sid, _parent, _rid, name, t0, t1 in spans:
            out[name] += (t1 - t0) - child[sid]
        return dict(out)

    def count(self, request_prefix: str = "") -> int:
        return sum(1 for s in self.spans if (s[2] or "").startswith(request_prefix))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, parent, rid, name, t0, t1 in self.spans:
                f.write(json.dumps({"id": sid, "parent": parent, "request": rid,
                                    "name": name, "start": t0, "end": t1}) + "\n")

    def calibrate(self, n: int = 20000) -> float:
        """Seconds of recorder bookkeeping per span, measured on an empty
        body: multiplied by spans per item it estimates the tracing cost the
        traced run adds to each query or ingest step."""
        probe = Tracer(True)
        t0 = time.perf_counter()
        for _ in range(n):
            with probe.span("calibrate"):
                pass
        return (time.perf_counter() - t0) / n
