"""In-memory spans around calls into the engine's public functions.

The benchmark does not edit the program: :meth:`Tracer.wrap` replaces a
module attribute (``plans.runner.run_row_rules``, ``plans.ledger.append``,
…) with a timing wrapper, so calls the program makes through that name are
recorded. Each span has a name, start, end and parent; its path starts
with the benchmark operation it belongs to (``op.suite/...``). Spans stay
in memory until :meth:`Tracer.dump`.

While a span is open its path is the Spark job group of the calling thread
(``spark.jobGroup.id``), so the event log attributes every job to the
innermost layer call that started it (see ``eventlog.py``).
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

GROUP_PROP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    path: str
    parent: int | None
    thread: str
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id → duration minus the part of its interval that its direct
    children cover (children running in parallel count once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.duration - covered(kids.get(s.id, []), s.start, s.end)
            for s in spans}


class Tracer:
    def __init__(self, spark_context=None, clock=time.perf_counter):
        self.sc = spark_context
        self.clock = clock
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._main = threading.main_thread()
        self._main_stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    # ----------------------------------------------------------------- spans

    def _stack(self) -> list[Span]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else self._submitter()
        path = f"{parent.path}/{name}" if parent else name
        s = Span(next(self._ids), name, path, parent.id if parent else None,
                 threading.current_thread().name, self.clock())
        with self._lock:
            self.spans.append(s)
        stack.append(s)
        prev_group = self._set_group(path)
        try:
            yield s
        finally:
            s.end = self.clock()
            stack.pop()
            self._set_group(prev_group)

    def _submitter(self) -> Span | None:
        """Parent of the first span in a helper thread the program started
        (e.g. the runner's drift build): the main-thread span that was open
        when the work was submitted, not whichever sibling the main thread
        has opened since. PySpark's ``inheritable_thread_target`` copies the
        submitter's local properties into the thread, so the thread's job
        group is that span's path. Without one, the main thread's innermost
        open span."""
        open_spans = list(self._main_stack)
        group = self.sc.getLocalProperty(GROUP_PROP) if self.sc is not None else None
        for s in reversed(open_spans):
            if s.path == group:
                return s
        return open_spans[-1] if open_spans else None

    def _set_group(self, group: str | None) -> str | None:
        if self.sc is None:
            return None
        prev = self.sc.getLocalProperty(GROUP_PROP)
        self.sc.setLocalProperty(GROUP_PROP, group)
        return prev

    # -------------------------------------------------------------- patching

    def wrap(self, module, attr: str) -> None:
        """Record a span around every call made through ``module.attr``,
        named after the function's own module (``plans.runner.run_suite``
        whichever module imported it)."""
        fn = getattr(module, attr)
        span_name = f"{fn.__module__.split('.', 1)[-1]}.{fn.__name__}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(span_name):
                return fn(*args, **kwargs)

        self._patched.append((module, attr, fn))
        setattr(module, attr, traced)

    def restore(self) -> None:
        while self._patched:
            module, attr, fn = self._patched.pop()
            setattr(module, attr, fn)

    # ----------------------------------------------------------------- output

    def dump(self, path) -> None:
        st = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "self_s": st[s.id]}) + "\n")
