"""Measurement core: the closed-loop runner, order statistics with
their sample counts, interval arithmetic, and the span tracer that
reads Spark's own counters.

The tracer attributes Spark jobs to spans through job groups and reads
job and stage data from ``statusTracker`` and the driver's status store.
Neither submits a Spark job, so a traced op runs the same jobs as an
untraced one; what tracing costs is its own bookkeeping, which every
span measures and reports as ``overhead_s``.
"""

from __future__ import annotations

import itertools
import math
import statistics
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field

# ----------------------------------------------------------- statistics

TAIL_MIN_SAMPLES = 100  # p90 needs ten samples beyond it


@dataclass(frozen=True)
class Stat:
    value: float
    n: int


def median(values) -> Stat:
    vals = list(values)
    if not vals:
        raise ValueError("median of no samples")
    return Stat(statistics.median(vals), len(vals))


def geomean(values) -> Stat:
    """Geometric mean: each value weighs the same whatever its scale."""
    vals = list(values)
    if not vals or min(vals) <= 0:
        raise ValueError("geomean needs positive samples")
    return Stat(math.exp(sum(math.log(v) for v in vals) / len(vals)), len(vals))


def p90(values) -> Stat:
    """The 90th percentile (nearest-rank). Refused below
    TAIL_MIN_SAMPLES samples: with fewer than ten samples above it a
    tail percentile is one outlier's value."""
    vals = sorted(values)
    if len(vals) < TAIL_MIN_SAMPLES:
        raise ValueError(f"p90 needs >= {TAIL_MIN_SAMPLES} samples, got {len(vals)}")
    return Stat(vals[math.ceil(0.9 * len(vals)) - 1], len(vals))


# ------------------------------------------------------------ intervals


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def driver_seconds(t0: float, t1: float, job_intervals) -> float:
    """Span wall minus the part of it covered by Spark jobs: the time
    the driver spent in Python, planning and waiting between jobs."""
    return (t1 - t0) - union_length(job_intervals, t0, t1)


def self_seconds(t0: float, t1: float, child_intervals) -> float:
    """A span's self time: its wall minus the union of its children."""
    return (t1 - t0) - union_length(child_intervals, t0, t1)


# ---------------------------------------------------------------- spans

COUNTERS = (
    "wall_s", "jobs", "stages", "tasks", "driver_s", "executor_run_s",
    "executor_cpu_s", "shuffle_bytes", "spill_bytes", "input_bytes",
)
DERIVED = ("wall_s", "jobs", "driver_s", "self_s")  # computed, not summed from stages


@dataclass
class Span:
    name: str
    t0: float = 0.0  # epoch seconds, comparable with Spark's job times
    t1: float = 0.0
    overhead_s: float = 0.0
    jobs: list = field(default_factory=list)  # own (innermost-span) job ids
    intervals: list = field(default_factory=list)  # own job [start, end]
    counts: dict = field(default_factory=dict)  # own stage sums
    children: list = field(default_factory=list)

    def total(self, key: str) -> float:
        return self.counts.get(key, 0) + sum(c.total(key) for c in self.children)

    def total_overhead(self) -> float:
        return self.overhead_s + sum(c.total_overhead() for c in self.children)

    def all_intervals(self) -> list:
        return self.intervals + [iv for c in self.children for iv in c.all_intervals()]

    def counters(self) -> dict:
        jobs = len(self.jobs) + sum(c.counters()["jobs"] for c in self.children)
        out = {k: self.total(k) for k in COUNTERS if k not in DERIVED}
        out.update(
            wall_s=self.t1 - self.t0,
            jobs=jobs,
            driver_s=driver_seconds(self.t0, self.t1, self.all_intervals()),
            self_s=self_seconds(self.t0, self.t1, [(c.t0, c.t1) for c in self.children]),
        )
        return out


class Tracer:
    """Spans around calls into the engine's layers. ``enabled=False``
    makes ``span`` a no-op that records nothing, so the untraced run
    executes exactly the benchmark's own code and the engine's."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.roots: list[Span] = []
        self._stack: list[Span] = []
        if enabled:
            self.sc = spark.sparkContext
            self._jsc = self.sc._jsc.sc()
            self.tracker = self.sc.statusTracker()
            self.store = self._jsc.statusStore()
            self._ids = itertools.count()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        h0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(name)
        group = f"perfbench-{next(self._ids)}"
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobGroup(group, name)
        self._stack.append(sp)
        sp.t0 = time.time()
        sp.overhead_s += time.perf_counter() - h0
        try:
            yield sp
        finally:
            sp.t1 = time.time()
            h1 = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            self.sc.setLocalProperty("spark.job.description", prev_desc)
            self._collect(sp, group)
            if parent is None:
                self.roots.append(sp)
            else:
                parent.children.append(sp)
            sp.overhead_s += time.perf_counter() - h1

    def _collect(self, sp: Span, group: str) -> None:
        # job-end events reach the status store through the async
        # listener bus; drain it so the span sees its own jobs complete
        self._jsc.listenerBus().waitUntilEmpty()
        counts = dict.fromkeys((k for k in COUNTERS if k not in DERIVED), 0)
        for jid in sorted(self.tracker.getJobIdsForGroup(group)):
            sp.jobs.append(jid)
            job = self.store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                sp.intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            for sid in self.tracker.getJobInfo(jid).stageIds:
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — skipped stage, never ran
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                counts["stages"] += 1
                counts["tasks"] += st.numCompleteTasks()
                counts["executor_run_s"] += st.executorRunTime() / 1e3
                counts["executor_cpu_s"] += st.executorCpuTime() / 1e9
                counts["shuffle_bytes"] += st.shuffleWriteBytes()
                counts["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                counts["input_bytes"] += st.inputBytes()
        sp.counts = counts


# ------------------------------------------------------------ the loop


@dataclass
class Op:
    kind: str
    wall_s: float
    ok: bool
    span: Span | None = None


@dataclass
class Run:
    ops: list = field(default_factory=list)
    rounds: list = field(default_factory=list)  # summed op walls per round
    errors: list = field(default_factory=list)


def timed(run: Run, tracer: Tracer, kind: str, span_name: str, fn: Callable, check: Callable | None = None):
    """One closed-loop op: call ``fn`` (timed, inside span
    ``span_name``), then ``check`` its result (untimed). An exception or
    a failed check marks the op failed; the loop carries on."""
    t0 = time.perf_counter()
    result, ok, sp = None, True, None
    try:
        with tracer.span(span_name) as sp:
            result = fn()
        wall = time.perf_counter() - t0
        if check is not None:
            why = check(result)
            if why:
                ok = False
                run.errors.append(f"{kind}: {why}")
    except Exception as ex:  # noqa: BLE001 — a failed op is data, not a crash
        wall = time.perf_counter() - t0
        ok = False
        run.errors.append(f"{kind}: {type(ex).__name__}: {str(ex)[:300]}")
    run.ops.append(Op(kind, wall, ok, sp))
    return result if ok else None


def closed_loop(seconds: float, round_fn: Callable[[], list]) -> Run:
    """One client, no think time: run whole rounds until ``seconds``
    have passed, so every run holds the same mix of op kinds."""
    run = Run()
    t_end = time.perf_counter() + seconds
    while True:
        n0 = len(run.ops)
        round_fn(run)
        run.rounds.append(sum(op.wall_s for op in run.ops[n0:]))
        if time.perf_counter() >= t_end:
            return run
