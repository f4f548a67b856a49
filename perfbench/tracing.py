"""In-memory span tracing with Spark job attribution.

The tracer wraps engine functions from the outside (no engine source
changes): entering a span tags the calling thread's Spark jobs with a
job group naming the span, so after a traced unit of work every job in
Spark's status store can be charged to the innermost span that was
open when it started. Spans live in memory and are summarised once the
unit ends.

The arithmetic (`self_times`, `attribute_jobs`, `summarise`) is plain
Python over plain records so it can be tested without Spark.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import threading
import time
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float | None = None


@dataclass
class Job:
    """One Spark job as read from the status store; times in seconds
    on the same clock as the spans (`time.time`)."""
    job_id: int
    group: str | None
    start: float
    end: float
    tasks: int = 0
    executor_cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0
    gc_s: float = 0.0


class Tracer:
    """Span stack for one thread. ``set_group(span_or_None)`` is called
    whenever the innermost open span changes."""

    def __init__(self, set_group=None, clock=time.time):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._set_group = set_group or (lambda span: None)
        self._clock = clock
        self._thread = threading.get_ident()
        self._next = 0

    def on_owner_thread(self) -> bool:
        return threading.get_ident() == self._thread

    def open(self, name: str) -> Span:
        parent = self._stack[-1].sid if self._stack else None
        span = Span(self._next, name, parent, self._clock())
        self._next += 1
        self._stack.append(span)
        self._set_group(span)
        return span

    def close(self, span: Span, name: str | None = None) -> None:
        if not self._stack or self._stack[-1] is not span:
            raise RuntimeError(f"span {span.name!r} closed out of order")
        if name is not None:
            span.name = name
        span.end = self._clock()
        self._stack.pop()
        self.spans.append(span)
        self._set_group(self._stack[-1] if self._stack else None)

    @contextlib.contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    def wrap(self, name: str, fn):
        """``fn`` inside a span when called from the tracing thread;
        calls from other threads (lease heartbeats, pools) pass
        through untraced."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.on_owner_thread():
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def stage_hook(self, prefix: str):
        """A ``stage_hook`` for `curation_frame` that returns ``None``
        (the chain is unchanged). The work between two boundaries is
        one span named for the boundary that ends it; `end_stages`
        closes the last one."""
        state = {"open": None}

        def hook(key, frame):
            if state["open"] is not None:
                self.close(state["open"], f"{prefix}.{key}")
            state["open"] = self.open(f"{prefix}.pending")
            return None

        def end_stages(name: str):
            if state["open"] is not None:
                self.close(state["open"], f"{prefix}.{name}")
                state["open"] = None

        return hook, end_stages


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``(start, end)`` intervals clipped to
    [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
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
    """Span id → its duration minus the part of its interval that its
    direct children cover (children may overlap each other; their
    union is subtracted once)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return {s.sid: (s.end - s.start) - _covered(
                [(c.start, c.end) for c in kids.get(s.sid, [])],
                s.start, s.end)
            for s in spans}


def span_of_group(group: str | None) -> int | None:
    if group and group.startswith(GROUP_PREFIX):
        return int(group[len(GROUP_PREFIX):])
    return None


def attribute_jobs(spans: list[Span], jobs: list[Job]
                   ) -> dict[int | None, list[Job]]:
    """Span id → the jobs whose group names it (``None`` collects jobs
    that carried no span's group)."""
    known = {s.sid for s in spans}
    out: dict[int | None, list[Job]] = {}
    for j in jobs:
        sid = span_of_group(j.group)
        out.setdefault(sid if sid in known else None, []).append(j)
    return out


def jobs_outside_their_span(spans: list[Span], jobs: list[Job],
                            slack_s: float = 0.05) -> list[int]:
    """Ids of jobs that Spark's own clock says started outside the
    interval of the span their job group names: a stale or leaked group.
    This reads the status store's times against the tracer's, so unlike
    the self-time sum it can catch a wrong attribution. ``slack_s``
    covers the store's millisecond timestamps."""
    by_id = {s.sid: s for s in spans}
    return [j.job_id for sid, js in attribute_jobs(spans, jobs).items()
            if sid is not None for j in js
            if not (by_id[sid].start - slack_s <= j.start
                    <= by_id[sid].end + slack_s)]


@dataclass
class LayerStats:
    calls: int = 0
    self_s: float = 0.0
    jobs: int = 0
    executor_cpu_s: float = 0.0


@dataclass
class Summary:
    layers: dict[str, LayerStats] = field(default_factory=dict)
    totals: dict[str, float] = field(default_factory=dict)


def summarise(spans: list[Span], jobs: list[Job], wall: tuple[float, float]
              ) -> Summary:
    """Per-span-name layer stats plus whole-unit Spark totals over the
    jobs that ran inside ``wall`` (start, end)."""
    st = self_times(spans)
    by_span = attribute_jobs(spans, jobs)
    out = Summary()
    for s in spans:
        ls = out.layers.setdefault(s.name, LayerStats())
        ls.calls += 1
        ls.self_s += st[s.sid]
        for j in by_span.get(s.sid, []):
            ls.jobs += 1
            ls.executor_cpu_s += j.executor_cpu_s
    lo, hi = wall
    inside = [j for j in jobs if j.start < hi and j.end > lo]
    out.totals = {
        "spark.jobs": len(inside),
        "spark.tasks": sum(j.tasks for j in inside),
        "spark.executor_cpu_s": sum(j.executor_cpu_s for j in inside),
        "spark.shuffle_write_mb": sum(j.shuffle_write_mb for j in inside),
        "spark.spill_mb": sum(j.spill_mb for j in inside),
        "spark.input_mb": sum(j.input_mb for j in inside),
        "spark.gc_s": sum(j.gc_s for j in inside),
        "spark.unattributed_jobs": len(by_span.get(None, [])),
        "driver.self_s": (hi - lo) - _covered(
            [(j.start, j.end) for j in inside], lo, hi),
        "trace.self_sum_s": sum(st.values()),
    }
    return out


# ------------------------------------------------------------ Spark side

def spark_group_setter(sc):
    """``set_group`` for `Tracer`: tags the calling thread's jobs."""
    def set_group(span):
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"{GROUP_PREFIX}{span.sid}", span.name)
    return set_group


def _opt(o):
    return o.get() if o.isDefined() else None


def _seq(s):
    it = s.iterator()
    while it.hasNext():
        yield it.next()


def drain_listener_bus(sc, timeout_ms: int = 30_000) -> None:
    """Wait until the status store has seen every event posted so far."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


def _stages(sc):
    """Every stage attempt in the status store (no task quantiles)."""
    no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    return _seq(sc._jsc.sc().statusStore().stageList(
        None, False, False, no_quantiles, None))


def read_jobs(sc, after: tuple[int, int]) -> list[Job]:
    """Jobs and stages newer than ``after`` (see `last_ids`) from Spark's
    status store: each job with the metrics of the stages it ran (a
    stage counts for the first job that lists it; later jobs skip it)."""
    after_job, after_stage = after
    drain_listener_bus(sc)
    stages = {}
    for st in _stages(sc):
        if st.stageId() > after_stage:
            stages.setdefault(st.stageId(), []).append(st)
    jobs, seen = [], set()
    raw = sorted((j for j in _seq(sc._jsc.sc().statusStore()
                                  .jobsList(None))
                  if j.jobId() > after_job), key=lambda j: j.jobId())
    for j in raw:
        sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
        if sub is None or done is None:
            continue
        job = Job(j.jobId(), _opt(j.jobGroup()), sub.getTime() / 1e3,
                  done.getTime() / 1e3)
        for sid in _seq(j.stageIds()):
            if sid in seen:
                continue
            seen.add(sid)
            for st in stages.get(sid, []):
                job.tasks += st.numCompleteTasks() + st.numFailedTasks()
                job.executor_cpu_s += st.executorCpuTime() / 1e9
                job.shuffle_write_mb += st.shuffleWriteBytes() / 2**20
                job.spill_mb += (st.memoryBytesSpilled()
                                 + st.diskBytesSpilled()) / 2**20
                job.input_mb += st.inputBytes() / 2**20
                job.gc_s += st.jvmGcTime() / 1e3
        jobs.append(job)
    return jobs


def last_ids(sc) -> tuple[int, int]:
    """(highest job id, highest stage id) the status store knows, so a
    later `read_jobs` sees only what ran after this call; a stage that
    ran earlier and is skipped by a later job is not counted again."""
    drain_listener_bus(sc)
    jobs = [j.jobId() for j in _seq(sc._jsc.sc().statusStore()
                                    .jobsList(None))]
    stages = [s.stageId() for s in _stages(sc)]
    return max(jobs, default=-1), max(stages, default=-1)


class Instrumentation:
    """Replaces engine functions with traced wrappers for the life of a
    ``with`` block. A function is replaced in every loaded engine module
    that holds it under the same name, so ``from ..session import pin``
    style imports are covered too."""

    def __init__(self, tracer: Tracer, package: str):
        self.tracer = tracer
        self.package = package
        self._undo: list[tuple[object, str, object]] = []

    def wrap(self, module, attr: str, span_name: str) -> None:
        fn = getattr(module, attr)
        traced = self.tracer.wrap(span_name, fn)
        for name, mod in list(sys.modules.items()):
            if mod is None or not name.startswith(self.package):
                continue
            if getattr(mod, attr, None) is fn:
                self._undo.append((mod, attr, fn))
                setattr(mod, attr, traced)

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        for mod, attr, fn in reversed(self._undo):
            setattr(mod, attr, fn)
        self._undo.clear()
        return False
