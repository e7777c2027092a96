"""Span recorder installed around the engine's functions from outside.

``Tracer.wrap(owner, attr, name)`` replaces ``owner.attr`` with a wrapper
that records one span (name, start, end, parent, query) and counts one call
of ``name`` per call, also when the call raises. An optional
hook(tracer, args, result) adds counts of its own. Spans stay
in memory; ``dump`` writes them out once, at the end of the run. A span's
self time is its duration minus the time its child spans cover. The
wrapped functions must be called from one thread at a time.
"""

from __future__ import annotations

import gzip
import json
import time
from collections import Counter, defaultdict


class Tracer:
    def __init__(self):
        self.spans: list = []  # (name, t0_ns, t1_ns, parent_index, query)
        self.counts: Counter = Counter()
        self.query = -1
        self._stack: list[int] = []  # indices of the open spans
        self._patched: list = []

    def wrap(self, owner, attr: str, name: str, hook=None) -> None:
        orig = getattr(owner, attr)
        spans, stack = self.spans, self._stack

        def traced(*args, **kwargs):
            idx = len(spans)
            spans.append(None)
            parent = stack[-1] if stack else -1
            stack.append(idx)
            t0 = time.perf_counter_ns()
            try:
                out = orig(*args, **kwargs)
            finally:
                stack.pop()
                spans[idx] = (name, t0, time.perf_counter_ns(), parent, self.query)
                self.counts[(name, self.query)] += 1
            if hook is not None:
                hook(self, args, out)
            return out

        self._patched.append((owner, attr, orig, traced))
        setattr(owner, attr, traced)

    def install(self) -> None:
        for owner, attr, _, traced in self._patched:
            setattr(owner, attr, traced)

    def uninstall(self) -> None:
        """Restore the original functions; ``install`` puts the wrappers back."""
        for owner, attr, orig, _ in reversed(self._patched):
            setattr(owner, attr, orig)

    def self_times(self) -> dict[str, dict[int, float]]:
        """{span name: {query: summed self time in microseconds}}."""
        child = [0] * len(self.spans)
        for s in self.spans:
            if s is not None and s[3] >= 0:
                child[s[3]] += s[2] - s[1]
        out: dict[str, dict[int, float]] = defaultdict(lambda: defaultdict(float))
        for i, s in enumerate(self.spans):
            if s is not None:
                out[s[0]][s[4]] += (s[2] - s[1] - child[i]) / 1e3
        return out

    def dump(self, path: str) -> None:
        with gzip.open(path, "wt") as f:
            for s in self.spans:
                if s is not None:
                    f.write(json.dumps(s) + "\n")
