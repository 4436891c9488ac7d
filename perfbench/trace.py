"""Outside-in spans for the traced run.

The benchmark's own files wrap the public calls into each layer
(``instrument``) and record one span per call: name, start, end, the
span that caused it, and the job it belongs to. Spans stay in memory
and are written once, at the end of the run. A span's self time is its
duration minus the part of it that its child spans cover."""

from __future__ import annotations

import collections
import contextlib
import functools
import json
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    job: int | None
    parent: int | None
    start: float
    end: float = 0.0
    thread: str = ""


class Tracer:
    """Collects spans and counters. ``job`` is set by the workload loop
    before each job, so spans opened on helper threads (the result
    listener, the stream action) still carry their job's id; the parent
    link only follows the opening thread's own stack."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counters: collections.Counter = collections.Counter()
        self.job: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        sp = Span(
            sid, name, self.job, stack[-1].id if stack else None,
            time.perf_counter(), thread=threading.current_thread().name,
        )
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    def count(self, name: str, value: float = 1) -> None:
        with self._lock:
            self.counters[name] += value

    def totals(self) -> dict[str, float]:
        out: dict[str, float] = collections.defaultdict(float)
        for sp in self.spans:
            out[sp.name] += sp.end - sp.start
        return dict(out)

    def self_times(self) -> dict[str, float]:
        return self_times(self.spans)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": [asdict(s) for s in sorted(self.spans, key=lambda s: s.start)],
                    "counters": dict(self.counters),
                    "self_s": self.self_times(),
                },
                fh,
            )


def covered(lo: float, hi: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [lo, hi] covered by the union of the intervals."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Total self time per span name."""
    children: dict[int, list[tuple[float, float]]] = collections.defaultdict(list)
    for sp in spans:
        if sp.parent is not None:
            children[sp.parent].append((sp.start, sp.end))
    out: dict[str, float] = collections.defaultdict(float)
    for sp in spans:
        out[sp.name] += (sp.end - sp.start) - covered(
            sp.start, sp.end, children.get(sp.id, [])
        )
    return dict(out)


class Patches:
    """Replaces attributes with traced wrappers and restores them."""

    def __init__(self) -> None:
        self._saved: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._saved.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(make(orig)))

    def restore(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)


def _timed(tracer: Tracer, name: str, after=None):
    def make(orig):
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if after is not None:
                after(args, out)
            return out

        return wrapper

    return make


def instrument(tracer: Tracer, spark) -> Patches:
    """Wrap the public calls each layer is entered through. Nothing in
    the program changes: the wrappers sit on module and class
    attributes the program looks up at call time."""
    import pyarrow as pa

    from burla_spark import jobs, logs, rpm

    p = Patches()

    def pickle_cm(orig):
        @contextlib.contextmanager
        def wrapper(*args, **kwargs):
            with tracer.span("rpm.pickle"), orig(*args, **kwargs) as v:
                yield v

        return wrapper

    # remote_parallel_map pickles the function and every input inside
    # this one context manager.
    p.wrap(rpm, "_user_module_by_value", pickle_cm)

    def count_input(args, out):
        if len(args) > 1 and isinstance(args[1], pa.Table):
            tracer.count("rpm.input_bytes", args[1].nbytes)

    p.wrap(type(spark), "createDataFrame", _timed(tracer, "rpm.to_jvm", count_input))
    df_cls = type(spark.range(1))
    p.wrap(
        df_cls, "toArrow",
        _timed(tracer, "rpm.execute", lambda a, out: tracer.count("rpm.result_bytes", out.nbytes)),
    )
    # the generator path's action is a noop-sink write
    p.wrap(type(spark.range(1).write), "save", _timed(tracer, "rpm.execute"))
    p.wrap(rpm, "materialize_results_arrow", _timed(tracer, "rpm.materialize"))

    def count_frame(args, out):
        tracer.count("logs.frames_decoded")
        tracer.count("rpm.result_bytes", len(args[0]))

    p.wrap(logs, "decode_result_batch", _timed(tracer, "logs.decode", count_frame))
    p.wrap(jobs, "submit_process_detached", _timed(tracer, "jobs.spawn"))
    p.wrap(jobs.ProcessDetachedJob, "result", _timed(tracer, "jobs.result_wait"))
    p.wrap(jobs, "fetch_results", _timed(tracer, "jobs.fetch"))
    return p
