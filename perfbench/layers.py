"""Layer counters and spans, read from outside the program.

``snapshot(spark)`` reads Spark's status store (jobs, stages, task
metrics) and the persisted-RDD count; ``Tracer.call`` diffs two
snapshots around one public call and records a span (name, start,
end, parent).  Nothing here touches the package's internals: the
status store is the same one the Spark UI reads, and it is populated
with ``spark.ui.enabled=false`` too.

Untraced runs never call into this module's status-store readers, so
their timings carry no tracing cost.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# StageData / JobData fields summed per diff (ms and bytes as Spark stores them)
_STAGE_SUMS = (
    ("executorRunTime", "executor_run_s", 1e-3),
    ("executorCpuTime", "executor_cpu_s", 1e-9),
    ("jvmGcTime", "gc_s", 1e-3),
    ("shuffleWriteBytes", "shuffle_write_bytes", 1),
    ("inputBytes", "input_bytes", 1),
)


def _opt_ms(opt) -> float | None:
    """Scala Option[java.util.Date] -> epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


@dataclass
class Snapshot:
    max_job: int
    max_stage: int
    persisted: int


def _store(spark):
    sc = spark.sparkContext
    # the status store is fed by the asynchronous listener bus: drain it
    # so the jobs of a call that just returned are all recorded
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return sc._jsc.sc().statusStore()


def _stages(spark, store):
    sc = spark.sparkContext
    quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    return store.stageList(None, False, False, quantiles, None)


def snapshot(spark) -> Snapshot:
    """Newest job and stage ids (both lists come sorted newest first)."""
    store = _store(spark)
    jobs, stages = store.jobsList(None), _stages(spark, store)
    return Snapshot(
        max_job=jobs.apply(0).jobId() if jobs.size() else -1,
        max_stage=stages.apply(0).stageId() if stages.size() else -1,
        persisted=spark.sparkContext._jsc.getPersistentRDDs().size(),
    )


def diff(spark, before: Snapshot, t0: float, t1: float) -> dict:
    """Counters for everything Spark ran since ``before``.  ``t0``/``t1``
    are the call's wall-clock bounds (``time.time()``); job time is the
    union of job intervals clipped to them, and the driver gap is the
    rest of the call."""
    sc = spark.sparkContext
    store = _store(spark)
    jobs = store.jobsList(None)
    intervals = []
    n_jobs = 0
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if j.jobId() <= before.max_job:
            break
        n_jobs += 1
        s, e = _opt_ms(j.submissionTime()), _opt_ms(j.completionTime())
        if s is not None:
            intervals.append((max(s, t0), min(e if e is not None else t1, t1)))
    out = {name: 0.0 for _, name, _ in _STAGE_SUMS}
    stages = _stages(spark, store)
    n_stages = n_tasks = 0
    for i in range(stages.size()):
        st = stages.apply(i)
        if st.stageId() <= before.max_stage:
            break
        if str(st.status()) == "SKIPPED":
            continue
        n_stages += 1
        n_tasks += st.numCompleteTasks()
        for attr, name, scale in _STAGE_SUMS:
            out[name] += getattr(st, attr)() * scale
    job_s = 0.0
    end = float("-inf")
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if s > end:
            job_s += e - s
            end = e
        elif e > end:
            job_s += e - end
            end = e
    out.update(
        jobs=n_jobs,
        stages=n_stages,
        tasks=n_tasks,
        job_s=job_s,
        driver_gap_s=max(0.0, (t1 - t0) - job_s),
        persisted_delta=sc._jsc.getPersistentRDDs().size() - before.persisted,
    )
    return out


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    counters: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Times calls from outside; with ``enabled`` it also diffs the
    status store around each.  ``overhead_s`` is the time spent in the
    status-store reads themselves (the cost of tracing)."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[str] = []
        self.overhead_s = 0.0
        #: tracing cost spent inside each parent span, by parent name
        self.overhead_in: dict[str, float] = {}

    def _charge(self, parent: str | None, since: float) -> None:
        dt = time.perf_counter() - since
        self.overhead_s += dt
        if parent is not None:
            self.overhead_in[parent] = self.overhead_in.get(parent, 0.0) + dt

    @contextmanager
    def call(self, name: str, spark_counters: bool = True):
        before = None
        parent = self._stack[-1] if self._stack else None
        if self.enabled and spark_counters:
            o = time.perf_counter()
            before = snapshot(self.spark)
            self._charge(parent, o)
        self._stack.append(name)
        t0 = time.time()
        span = Span(name, t0, t0, parent)
        try:
            yield span
        finally:
            span.end = time.time()
            self._stack.pop()
            if before is not None:
                o = time.perf_counter()
                span.counters = diff(self.spark, before, span.start, span.end)
                self._charge(parent, o)
            self.spans.append(span)

    def children(self, parent: str) -> list[Span]:
        return [s for s in self.spans if s.parent == parent]

    def coverage(self, root: str) -> float:
        """Share of the root span's wall that its child spans (plus the
        tracing cost spent between them) account for; the rest is
        untraced self-time of the root."""
        wall = sum(s.dur for s in self.spans if s.name == root)
        traced = sum(s.dur for s in self.children(root)) + self.overhead_in.get(root, 0.0)
        return traced / wall if wall else 0.0

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                [
                    {"name": s.name, "start": s.start, "end": s.end,
                     "parent": s.parent, **({"counters": s.counters} if s.counters else {})}
                    for s in self.spans
                ],
                fh,
                indent=1,
            )


def summed(spans: list[Span]) -> dict:
    """Sum the counters of several spans (plus their wall time)."""
    out: dict = {"calls": len(spans), "wall_s": sum(s.dur for s in spans)}
    for s in spans:
        for k, v in s.counters.items():
            out[k] = out.get(k, 0) + v
    return out


def peak_rss_mb(spark) -> float:
    """Driver JVM peak resident set (VmHWM) plus this process's."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb(pid) + _vm_hwm_kb(os.getpid())) / 1024.0


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0
