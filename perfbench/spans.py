"""In-memory span tracer that times calls into the package from outside.

`Tracer.wrap(owner, attr, name)` replaces `owner.attr` (a module function
or a class method) with a wrapper that records one span per call and runs
the call under its own Spark job group, so every Spark job is attributed
to the innermost traced call that launched it. Nothing in the package is
edited: the wrappers live only in the benchmark process and `unwrap()`
restores the originals.

Spans nest by call: a span's parent is the innermost open span of the same
thread, or, for a call on a worker thread (Pipeline.run's source fan-out),
the innermost open span of the main thread. Self time is a span's duration
minus the union of its children's intervals. Spans are kept in memory and
summarised once, after the measured region.
"""

from __future__ import annotations

import functools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-{self.sid}"


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        #: seconds spent inside the tracer's own bookkeeping
        self.bookkeeping_s = 0.0

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[Span]:
        if threading.current_thread() is self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str) -> Span:
        t0 = time.perf_counter()
        stack = self._stack()
        if stack:
            parent = stack[-1].sid
        elif self._main_stack:
            parent = self._main_stack[-1].sid
        else:
            parent = None
        with self._lock:
            span = Span(len(self.spans), name, parent, 0.0)
            self.spans.append(span)
        stack.append(span)
        self.sc.setJobGroup(span.group, name)
        span.start = time.perf_counter()
        self.bookkeeping_s += span.start - t0
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        stack.pop()
        if stack:
            self.sc.setJobGroup(stack[-1].group, stack[-1].name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.bookkeeping_s += time.perf_counter() - span.end

    @contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    # -- wrapping ------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, before=None, after=None,
             materialize=None) -> None:
        """Trace every call of `owner.attr` as span `name`.

        `before(args, kwargs)` runs ahead of the span and its result is
        passed to `after(span, args, kwargs, result, state)`, which runs
        after the span closed and may record counts on it; both count as
        tracer bookkeeping. `materialize(result)` runs inside the span and
        replaces the result (to attribute a lazy result's jobs)."""
        fn = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            state = None
            if before is not None:
                t0 = time.perf_counter()
                state = before(args, kwargs)
                tracer.bookkeeping_s += time.perf_counter() - t0
            s = tracer.open(name)
            try:
                result = fn(*args, **kwargs)
                if materialize is not None:
                    result = materialize(result)
            finally:
                tracer.close(s)
            if after is not None:
                t0 = time.perf_counter()
                after(s, args, kwargs, result, state)
                tracer.bookkeeping_s += time.perf_counter() - t0
            return result

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def unwrap(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    # -- summary -------------------------------------------------------
    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                out[s.parent].append(s)
        return out

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's intervals."""
        kids = self.children()
        out = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted((max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.sid, ())):
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s.sid] = (s.end - s.start) - covered
        return out

    def spark_counters(self) -> dict[int, dict[str, float]]:
        """Span id -> Spark work of the jobs run under its own job group:
        jobs, stages and tasks that ran, input/shuffle-write/spill bytes,
        executor run time and JVM GC time (seconds)."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = {}
        for s in self.spans:
            c = dict.fromkeys(SPARK_KEYS, 0.0)
            for jid in tracker.getJobIdsForGroup(s.group):
                info = tracker.getJobInfo(jid)
                c["jobs"] += 1
                for sid in info.stageIds if info else ():
                    try:
                        st = store.lastStageAttempt(sid)
                    except Exception:  # py4j error: stage never submitted
                        continue
                    if str(st.status()) != "COMPLETE":
                        continue
                    c["stages"] += 1
                    c["tasks"] += st.numTasks()
                    c["input_bytes"] += st.inputBytes()
                    c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    c["executor_run_s"] += st.executorRunTime() / 1000.0
                    c["gc_s"] += st.jvmGcTime() / 1000.0
            out[s.sid] = c
        return out

    def unattributed_jobs(self) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(None))


SPARK_KEYS = (
    "jobs", "stages", "tasks", "input_bytes", "shuffle_write_bytes",
    "spill_bytes", "executor_run_s", "gc_s",
)
