"""In-memory span recorder for the traced run.

A span has a name, start, end, parent span and operation id.  Spans are
kept in memory and written out once, when the run ends.  `patch` wraps a
public function of a program layer so every call records a span; the
wrapper is installed only for the traced phase and removed afterwards,
so the untraced phase runs the program's own functions.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[list] = []  # [name, start, end, parent, op]
        self._stack: list[int] = []
        self._patched: list[tuple] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter(), None, parent, self.op])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def patch(self, owner, attr: str, name: str) -> None:
        """Record a span `name` around every call of `owner.attr`."""
        original = getattr(owner, attr)
        had_own = attr in vars(owner)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, original, had_own))

    def unpatch(self) -> None:
        while self._patched:
            owner, attr, original, had_own = self._patched.pop()
            if had_own:
                setattr(owner, attr, original)
            else:
                delattr(owner, attr)

    def self_ms(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        part its child spans cover (children never outlive parents)."""
        child = [0.0] * len(self.spans)
        for _, start, end, parent, _ in self.spans:
            if parent is not None:
                child[parent] += end - start
        out: dict[str, float] = defaultdict(float)
        for i, (name, start, end, _, _) in enumerate(self.spans):
            out[name] += (end - start - child[i]) * 1000.0
        return dict(out)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s[0] == name)

    def write(self, path) -> None:
        with open(path, "w") as f:
            json.dump({"fields": ["name", "start_s", "end_s", "parent", "op"],
                       "spans": self.spans}, f)
