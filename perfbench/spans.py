"""Spans around the engine's public calls, and a timing wrapper for the
lake table's metadata filesystem seam.

A span records its name, parent and wall-clock interval. When the tracer is
given a SparkContext (traced runs only), each span also sets a Spark job
group ``<name>#<span id>`` for its duration, so that the event-log folder
(``eventlog.py``) can attribute every job to the innermost open span.
"""

from __future__ import annotations

import contextlib
import functools
import time
from collections import Counter
from dataclasses import dataclass, field
from typing import Any, Iterator

from py4j.protocol import Py4JError


@dataclass
class Span:
    name: str
    sid: int
    parent: int | None
    start: float                # epoch seconds, comparable with event-log ms
    end: float = 0.0
    wall_s: float = 0.0
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{self.name}#{self.sid}"


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._open: list[Span] = []

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        try:
            if span is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(span.group, span.name)
        except Py4JError:
            pass  # the JVM is gone; the failed call reports that itself

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[Span]:
        s = Span(name, len(self.spans),
                 self._open[-1].sid if self._open else None, time.time())
        self.spans.append(s)
        self._open.append(s)
        self._set_group(s)
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.wall_s = time.perf_counter() - t0
            s.end = time.time()
            self._open.pop()
            self._set_group(self._open[-1] if self._open else None)

    def wrap(self, obj: Any, method: str, name: str) -> None:
        """Replace ``obj.method`` (on this instance only) by a spanned call,
        so calls the engine makes internally are attributed too."""
        fn = getattr(obj, method)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(obj, method, spanned)


class TimedFS:
    """Pass-through over a ``lake.fs`` implementation that counts and times
    every call, and counts the bytes written to manifests."""

    def __init__(self, inner: Any):
        self._inner = inner
        self.calls: Counter[str] = Counter()
        self.wall_s = 0.0
        self.manifest_bytes = 0

    def __getattr__(self, name: str) -> Any:
        attr = getattr(self._inner, name)
        if not callable(attr):
            return attr

        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return attr(*args, **kwargs)
            finally:
                self.wall_s += time.perf_counter() - t0
                self.calls[name] += 1
                if (name in ("create_exclusive", "replace")
                        and "_manifests" in args[0]):
                    self.manifest_bytes += len(args[1])

        return timed
