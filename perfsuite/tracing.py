"""In-memory spans around calls into the program's public functions.

``Tracer.install`` replaces a module attribute with a wrapper that
records a span per call: name, start, end and the enclosing span.
Spans stay in memory; ``self_times`` folds them into per-name totals
when the run ends.  A span's self time is its duration minus the part
of it its child spans cover.

Operator modules bind ``load_table``, ``cached`` and
``configure_session`` by name when they are imported, so the wrappers
must be installed before ``project_fauna_spark.plans`` is imported;
``install`` also rebinds the name in every already-imported module
that holds the original function.
"""

from __future__ import annotations

import functools
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int = -1


@dataclass
class Tracer:
    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    def span(self, name: str):
        return _SpanCtx(self, name)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def install(self, module, attr: str, name: str) -> None:
        """Wrap ``module.attr`` and rebind it wherever it was imported."""
        original = getattr(module, attr)
        wrapped = self.wrap(original, name)
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("project_fauna_spark") and (
                getattr(mod, attr, None) is original
            ):
                setattr(mod, attr, wrapped)

    def self_times(self, since: int = 0) -> dict[str, float]:
        """Per-name self time (seconds) of spans recorded from index
        ``since`` on; nested spans are subtracted from their parent."""
        child_time: dict[int, float] = defaultdict(float)
        for i in range(since, len(self.spans)):
            s = self.spans[i]
            if s.parent >= since:
                child_time[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for i in range(since, len(self.spans)):
            s = self.spans[i]
            out[s.name] += (s.end - s.start) - child_time[i]
        return dict(out)

    def counts(self, since: int = 0) -> dict[str, int]:
        out: dict[str, int] = defaultdict(int)
        for s in self.spans[since:]:
            out[s.name] += 1
        return dict(out)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        t = self.tracer
        parent = t._stack[-1] if t._stack else -1
        t.spans.append(Span(self.name, time.perf_counter(), parent=parent))
        self.index = len(t.spans) - 1
        t._stack.append(self.index)
        return self

    def __exit__(self, *exc):
        t = self.tracer
        t.spans[self.index].end = time.perf_counter()
        t._stack.pop()
        return False
