"""In-memory spans around the calls the benchmark makes into each layer.

The tracer wraps public functions of the engine's modules from the
outside (:func:`Tracer.wrap_module`); the engine itself carries no
tracing code. Wrappers are installed before the catalog imports its
query modules, so their ``from ... import`` bindings pick them up.

Each span records its name, start, end, parent span, the operation it
belongs to, and how many Spark jobs the operation's job groups had
started when it opened and closed. A layer's self time is its spans'
durations minus the part covered by their child spans; its self jobs
likewise. Spans are kept in memory; :meth:`Tracer.dump` writes them out.
"""

from __future__ import annotations

import functools
import inspect
import json
import threading
import time
from collections import defaultdict
from collections.abc import Callable
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    jobs0: int = 0
    jobs1: int = 0


class Tracer:
    """Collects spans while ``active``; a disabled tracer's wrappers cost
    one attribute read per call."""

    def __init__(self) -> None:
        self.active = False
        self.op = -1
        self.spans: list[Span] = []
        self._local = threading.local()
        self._main_stack: list[Span] = []
        self._lock = threading.Lock()
        self._job_counter: Callable[[], int] = lambda: 0

    def set_job_counter(self, fn: Callable[[], int]) -> None:
        """``fn`` returns the number of Spark jobs the current operation's
        job groups have started so far."""
        self._job_counter = fn

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            is_main = threading.current_thread() is threading.main_thread()
            st = self._local.stack = self._main_stack if is_main else []
        return st

    def span(self, name: str, layer: str) -> "_SpanCtx":
        return _SpanCtx(self, name, layer)

    def _open(self, name: str, layer: str) -> Span | None:
        if not self.active:
            return None
        stack = self._stack()
        # a span opened on another thread (a stream's foreachBatch sink)
        # is caused by whatever the main thread is blocked in
        caller = stack or self._main_stack
        with self._lock:
            sp = Span(
                sid=len(self.spans),
                name=name,
                layer=layer,
                op=self.op,
                parent=caller[-1].sid if caller else None,
                start=time.perf_counter(),
            )
            self.spans.append(sp)
        sp.jobs0 = self._job_counter()
        stack.append(sp)
        return sp

    def _close(self, sp: Span | None) -> None:
        if sp is None:
            return
        sp.jobs1 = self._job_counter()
        sp.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is sp:
            stack.pop()

    def wrap(self, fn: Callable, name: str, layer: str) -> Callable:
        if getattr(fn, "__perfbench_wrapped__", False):
            return fn

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            sp = self._open(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                self._close(sp)

        wrapper.__perfbench_wrapped__ = True
        return wrapper

    def wrap_module(self, module, layer: str, names: list[str] | None = None) -> list[str]:
        """Wrap the public functions ``module`` defines itself (not the
        ones it imports); returns the wrapped names."""
        if names is None:
            names = [
                n
                for n, v in vars(module).items()
                if not n.startswith("_")
                and inspect.isfunction(v)
                and v.__module__ == module.__name__
            ]
        for n in names:
            setattr(module, n, self.wrap(getattr(module, n), f"{layer}.{n}", layer))
        return names

    # -- aggregation -----------------------------------------------------

    def self_times(self, ops: set[int] | None = None) -> dict[str, dict[str, float]]:
        """Per layer: ``calls`` (spans entered from another layer),
        ``s`` (self seconds) and ``jobs`` (self Spark jobs), summed over
        the spans of ``ops`` (all operations when None)."""
        spans = [s for s in self.spans if s.end and (ops is None or s.op in ops)]
        by_id = {s.sid: s for s in self.spans}
        children: dict[int, list[Span]] = defaultdict(list)
        child_jobs: dict[int, int] = defaultdict(int)
        for s in spans:
            if s.parent is not None:
                children[s.parent].append(s)
                child_jobs[s.parent] += s.jobs1 - s.jobs0
        child_s = {sid: _covered(by_id[sid], kids) for sid, kids in children.items()}
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"calls": 0, "s": 0.0, "jobs": 0}
        )
        for s in spans:
            agg = out[s.layer]
            parent = by_id.get(s.parent) if s.parent is not None else None
            if parent is None or parent.layer != s.layer:
                agg["calls"] += 1
            agg["s"] += (s.end - s.start) - child_s.get(s.sid, 0.0)
            agg["jobs"] += (s.jobs1 - s.jobs0) - child_jobs[s.sid]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def _covered(parent: Span, kids: list[Span]) -> float:
    """Seconds of ``parent``'s interval covered by the union of ``kids``."""
    total, reach = 0.0, parent.start
    for k in sorted(kids, key=lambda k: k.start):
        lo, hi = max(k.start, reach), min(k.end, parent.end)
        if hi > lo:
            total += hi - lo
            reach = hi
    return total


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, layer: str) -> None:
        self._tracer, self._name, self._layer = tracer, name, layer
        self._span: Span | None = None

    def __enter__(self) -> Span | None:
        self._span = self._tracer._open(self._name, self._layer)
        return self._span

    def __exit__(self, *exc) -> None:
        self._tracer._close(self._span)
