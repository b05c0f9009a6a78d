"""Span recorder for the traced benchmark run.

`Tracer.wrap()` replaces a layer's public entry point at its module
attribute, in this process only; the composition code calls the wrapper
because it looks the name up at call time. Each wrapper:

* opens a span (name, start, end, parent, shared unit id) on a per-thread
  stack - micro-batches run on the stream's callback thread;
* runs the layer under its own Spark job group, then forces the layer's
  DataFrame output with an eager localCheckpoint inside the span, so the
  layer's work is charged to it and not to whichever layer acts first;
* counts the group's jobs with `statusTracker().getJobIdsForGroup`, and
  records per-layer counts (rows, edges, buckets) with probe jobs that run
  after the span has closed, outside any layer's time.

A background sampler polls `getActiveJobsIds()` to find driver-only time
(no job running). It runs only in traced mode: every poll is a py4j call.
Spans stay in memory until `write()`.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass, field
from typing import Callable, Optional

SAMPLE_S = 0.02


@dataclass
class Span:
    span_id: int
    name: str
    unit: str
    parent: Optional[int]
    start: float
    end: float = 0.0
    jobs: int = 0
    counts: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.unit = "setup"
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple] = []
        self._samples: list[tuple[float, int]] = []
        self._stop = threading.Event()
        self._sampler: Optional[threading.Thread] = None

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str):
        return _SpanCtx(self, name)

    def _open(self, name: str) -> Span:
        stack = self._stack()
        sp = Span(next(self._ids), name, self.unit,
                  stack[-1].span_id if stack else None, time.perf_counter())
        with self._lock:
            self.spans.append(sp)
        stack.append(sp)
        self.sc.setJobGroup(f"kgbench-{sp.span_id}", name)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        stack = self._stack()
        stack.pop()
        tracker = self.sc.statusTracker()
        sp.jobs = len(tracker.getJobIdsForGroup(f"kgbench-{sp.span_id}"))
        if stack:
            self.sc.setJobGroup(f"kgbench-{stack[-1].span_id}",
                                stack[-1].name)
        else:
            self.sc.setJobGroup("kgbench-probe", "untraced")

    # -- wrapping ------------------------------------------------------------

    def wrap(self, module, attr: str, name: str,
             force: Callable, probe: Optional[Callable] = None) -> None:
        """Replace module.attr by a traced wrapper. `force(result)` returns
        the result with its DataFrames materialised; `probe(args, kwargs,
        result, counts)` fills per-layer counts after the span closes."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            sp = self._open(name)
            try:
                t0 = time.perf_counter()
                result = orig(*args, **kwargs)
                _resolve_schemas(result)
                sp.counts["plan_s"] = time.perf_counter() - t0
                result = force(result)
            finally:
                self._close(sp)
            if probe is not None:
                probe(args, kwargs, result, sp.counts)
            return result

        setattr(module, attr, traced)
        self._restore.append((module, attr, orig))

    def uninstall(self) -> None:
        while self._restore:
            module, attr, orig = self._restore.pop()
            setattr(module, attr, orig)

    # -- driver-only sampler -------------------------------------------------

    def start_sampler(self) -> None:
        def loop():
            tracker = self.sc.statusTracker()
            while not self._stop.is_set():
                n = len(tracker.getActiveJobsIds())
                self._samples.append((time.perf_counter(), n))
                self._stop.wait(SAMPLE_S)

        self._sampler = threading.Thread(target=loop, name="kgbench-sampler",
                                         daemon=True)
        self._sampler.start()

    def stop_sampler(self) -> None:
        self._stop.set()
        if self._sampler is not None:
            self._sampler.join(timeout=10)

    def driver_only_s(self, start: float, end: float) -> float:
        """Time in [start, end) during which the sampler saw no job."""
        idle = 0.0
        prev_t, prev_n = None, None
        for t, n in self._samples:
            if prev_t is not None and prev_n == 0:
                lo, hi = max(prev_t, start), min(t, end)
                if hi > lo:
                    idle += hi - lo
            prev_t, prev_n = t, n
        return idle

    # -- analysis ------------------------------------------------------------

    def self_time(self, sp: Span) -> float:
        """Span duration minus the part covered by its child spans."""
        kids = sorted((c.start, c.end) for c in self.spans
                      if c.parent == sp.span_id)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            s, e = max(s, sp.start), min(e, sp.end)
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (sp.end - sp.start) - covered

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                rec = asdict(sp)
                rec["self_s"] = self.self_time(sp)
                f.write(json.dumps(rec) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self) -> Span:
        self.sp = self.tracer._open(self.name)
        return self.sp

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.sp)


def _resolve_schemas(result) -> None:
    """Touch each returned DataFrame's schema: the driver-side analysis the
    layer's plan costs, charged to plan_s."""
    for df in _frames(result):
        df.schema


def _frames(result) -> list:
    from pyspark.sql import DataFrame
    if isinstance(result, DataFrame):
        return [result]
    if isinstance(result, tuple):
        return [r for r in result if isinstance(r, DataFrame)]
    return []


def force_frames(result):
    """Eagerly checkpoint every DataFrame in `result` (a frame or a tuple)."""
    from pyspark.sql import DataFrame
    if isinstance(result, DataFrame):
        return result.localCheckpoint(eager=True)
    if isinstance(result, tuple):
        return tuple(r.localCheckpoint(eager=True)
                     if isinstance(r, DataFrame) else r for r in result)
    return result


def no_force(result):
    return result
