"""In-memory spans around calls into the engine's public functions.

Spans are recorded from outside the engine: ``patched`` temporarily
replaces module attributes with wrappers that open a span, so no engine
file changes. Each span keeps name, start, end, parent index and run id,
plus the ids of the Spark jobs that started while it was open.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict

from stats import Span


class Tracer:
    def __init__(self, run_id: str, counter=None):
        self.run_id = run_id
        self.counter = counter  # sparkstats.GroupCounter or None
        self.spans: list[Span] = []
        self.job_ids: list[set[int]] = []
        self._stack: list[int] = []
        # time spent in the tracer's own bookkeeping, outside every span
        # body: the cost tracing adds to a traced job
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str):
        t_in = time.perf_counter()
        before = self.counter.job_ids() if self.counter else set()
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, 0.0, 0.0, parent, self.run_id))
        self.job_ids.append(set())
        self._stack.append(idx)
        start = time.perf_counter()
        self.overhead_s += start - t_in
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans[idx].start, self.spans[idx].end = start, end
            if self.counter:
                self.job_ids[idx] = self.counter.job_ids() - before
            self.overhead_s += time.perf_counter() - end

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s, ids in zip(self.spans, self.job_ids):
                f.write(json.dumps({**asdict(s), "spark_jobs": sorted(ids)}) + "\n")


@contextmanager
def patched(tracer: Tracer, targets: list[tuple[object, str, str]]):
    """Replace each ``(owner, attribute)`` with a span-opening wrapper
    named by the third element; restore the originals on exit."""
    saved = []
    try:
        for owner, attr, name in targets:
            orig = getattr(owner, attr)
            saved.append((owner, attr, orig))
            setattr(owner, attr, tracer.wrap(orig, name))
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)
