"""Span recorder for the traced run.

Spans are recorded from outside the program: `wrap` replaces a public method
on one object (or a function in one module) with a timing wrapper. Each span
keeps its name, the id of the query it belongs to, its parent span, start,
end and optional work counts, in memory until the run ends. A span's self
time is its duration minus the time its children cover; calls are
single-threaded, so children never overlap, and the self times of one
query's spans add up to the duration of its root span.
"""

from __future__ import annotations

import functools
from collections import defaultdict
from time import perf_counter_ns


class Tracer:
    def __init__(self) -> None:
        # [name, query_id, parent_index, start_ns, end_ns, counts]
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.query_id: int = -1

    def span(self, name: str, fn, *args, count=None, **kw):
        """Call fn inside a span; count(args, result) -> {counter: n}."""
        rec = [name, self.query_id, self._stack[-1] if self._stack else -1, 0, 0, None]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        rec[3] = perf_counter_ns()
        try:
            out = fn(*args, **kw)
        finally:
            rec[4] = perf_counter_ns()
            self._stack.pop()
        if count is not None:
            rec[5] = count(args, out)
        return out

    def wrap(self, owner, attr: str, name: str, count=None) -> None:
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapped(*args, **kw):
            return self.span(name, fn, *args, count=count, **kw)

        setattr(owner, attr, wrapped)

    def per_query(self, collapse: frozenset = frozenset()) -> dict[int, dict[str, list]]:
        """query_id -> {name: [self ns, calls, {counter: n}]}.

        A span named in `collapse` is charged its whole duration and the
        spans below it are not counted, so nothing is counted twice and the
        figures of one query still add up to its root span's duration."""
        child_ns = [0] * len(self.spans)
        for s in self.spans:
            if s[2] >= 0:
                child_ns[s[2]] += s[4] - s[3]
        # hidden[i]: span i lies below a collapsed span (parents come first)
        hidden = [False] * len(self.spans)
        out: dict[int, dict[str, list]] = defaultdict(dict)
        for i, (name, qid, parent, t0, t1, counts) in enumerate(self.spans):
            if parent >= 0 and (hidden[parent] or self.spans[parent][0] in collapse):
                hidden[i] = True
                continue
            r = out[qid].setdefault(name, [0, 0, defaultdict(int)])
            r[0] += (t1 - t0) - (0 if name in collapse else child_ns[i])
            r[1] += 1
            for k, v in (counts or {}).items():
                r[2][k] += v
        return out
