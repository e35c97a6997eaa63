"""In-memory spans around the package's layer boundaries, recorded from
the benchmark's own files: public functions of each layer module are
wrapped in place, and every Spark job started inside a span carries the
span id as a job-local property, so the Spark event log can be
attributed back to spans (see eventlog.py)."""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import dataclass, field

import stats

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    children: list[int] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. `enabled` toggles recording (and job tagging)
    without unwrapping, so traced and untraced passes can alternate in
    one process."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.spans: list[Span] = []
        self.enabled = False
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent, time.perf_counter())
        self.spans.append(sp)
        if parent is not None:
            self.spans[parent].children.append(sp.id)
        self._stack.append(sp.id)
        self._sc.setLocalProperty(SPAN_PROPERTY, str(sp.id))
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._sc.setLocalProperty(
                SPAN_PROPERTY, str(self._stack[-1]) if self._stack else None
            )

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace `owner.attr` (a module function or a class's method)
        with a version that runs inside span `name`."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, original))

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # -- queries over recorded spans ------------------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def descendants(self, span: Span) -> list[Span]:
        out, todo = [], list(span.children)
        while todo:
            s = self.spans[todo.pop()]
            out.append(s)
            todo.extend(s.children)
        return out

    def subtree_ids(self, span: Span) -> set[int]:
        return {span.id, *(s.id for s in self.descendants(span))}

    def self_seconds(self, span: Span) -> float:
        """The span's duration minus what its child spans cover."""
        kids = [(self.spans[c].start, self.spans[c].end) for c in span.children]
        return stats.self_time((span.start, span.end), kids)
