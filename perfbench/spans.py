"""In-memory spans recorded around calls into the package's public API.

The benchmark wraps methods on the objects it creates (never on the package's
classes), so every span names one call into one module. With a SparkContext
the wrapper also sets the Spark job description in the calling thread for the
duration of the call: the description is thread-local, so a wrapper on a
method that the engine calls from a pool thread labels that thread's jobs.
Spans stay in memory and are read when the run ends.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start_ms: float  # wall clock, comparable with Spark event-log times
    end_ms: float
    seconds: float  # from the monotonic clock


class Spans:
    def __init__(self, sc=None):
        self.sc = sc  # None: time only, leave job descriptions alone
        self.records: list[Span] = []

    @contextmanager
    def span(self, name: str):
        prev = None
        if self.sc is not None:
            prev = self.sc.getLocalProperty("spark.job.description")
            self.sc.setJobDescription(name)
        wall0, t0 = time.time(), time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            if self.sc is not None:
                self.sc.setJobDescription(prev)
            self.records.append(Span(name, wall0 * 1000.0, wall0 * 1000.0 + dt * 1000.0, dt))

    def wrap(self, obj, attr: str, namer) -> None:
        """Replace ``obj.attr`` with a wrapper recording a span named
        ``namer(*args, **kwargs)`` around each call."""
        fn = getattr(obj, attr)

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with self.span(namer(*args, **kwargs)):
                return fn(*args, **kwargs)

        setattr(obj, attr, wrapped)

    def named(self, prefix: str) -> list[Span]:
        return [s for s in self.records if s.name.startswith(prefix)]
