"""In-memory spans for the traced run.

A span records a name, start and end (``time.perf_counter`` seconds), the
index of the span that was open when it began, and the operation id
(``run``) it serves. Spans stay in memory and are written out once, at the
end of the run, so recording costs two clock reads and a list append.

``wrap`` swaps a module attribute for a timing wrapper; the benchmark uses
it on the names a package module calls (for example
``process_sales.read_sales_csv``), so the program itself is not edited.

Self time of a span is its duration minus the time its direct children
cover. The self times of a span and of everything below it add up to the
span's duration, which is what ``reconcile`` checks: the layer sum over
the timed region divided by the region's wall time.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict
from collections.abc import Iterator, Sequence
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run: str = ""

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, run: str = "") -> Iterator[Span]:
        parent = self._open[-1] if self._open else None
        if not run and parent is not None:
            run = self.spans[parent].run
        s = Span(name, time.perf_counter(), parent=parent, run=run)
        self.spans.append(s)
        self._open.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()

    def wrap(self, module, attr: str, name: str):
        """Replace ``module.attr`` with a span-recording wrapper; returns a
        function that restores the original."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(module, attr, traced)
        return lambda: setattr(module, attr, original)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


class NullTracer:
    """Tracer stand-in for untraced runs: spans cost nothing."""

    spans: list[Span] = []

    def span(self, name: str, run: str = ""):
        return contextlib.nullcontext()


def self_times(spans: Sequence[Span]) -> list[float]:
    """Self time of every span, index-aligned with ``spans``."""
    child = [0.0] * len(spans)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.duration
    return [s.duration - c for s, c in zip(spans, child)]


def descendants(spans: Sequence[Span], root: int) -> list[int]:
    """Indices of ``root`` and every span below it."""
    below = {root}
    for i in range(root + 1, len(spans)):
        if spans[i].parent in below:
            below.add(i)
    return sorted(below)


def layer_self_times(spans: Sequence[Span], root: int) -> dict[str, float]:
    """Self time summed per span name over the tree under ``root``
    (the root's own self time is the loop's gaps between operations)."""
    st = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for i in descendants(spans, root):
        out[spans[i].name] += st[i]
    return dict(out)


def reconcile(spans: Sequence[Span], root: int) -> float:
    """Layer sum over wall time: the share of the root's duration that the
    self times of the spans below it account for. The rest is the root's
    own self time, the loop's gaps between operations."""
    st = self_times(spans)
    layers = sum(st[i] for i in descendants(spans, root) if i != root)
    return layers / spans[root].duration
