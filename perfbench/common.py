"""Pieces every workload shares: the result record, the metric sets
declared in BENCHMARK.json, the timed set-up, and the per-layer summary
built from a tracer."""

from __future__ import annotations

import statistics
import time
from dataclasses import dataclass, field

from layers import Tracer, summed

#: root span of the measured phase
MEASURE = "measure"


@dataclass
class Result:
    e2e_metrics: dict = field(default_factory=dict)  # name -> (value, unit)
    layer_metrics: dict = field(default_factory=dict)
    report: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.problems.append(what)
        return ok


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def quantile(xs, q: float) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))] if xs else 0.0


class Setup:
    """Times the set-up a run pays: session start, then registration
    and one warm-up, each once."""

    def __init__(self, tracer: Tracer, session_s: float):
        self.tracer = tracer
        self.session_s = session_s
        self.times: dict = {}

    def run(self, register, warmup) -> None:
        for name, fn in (("register", register), ("warmup", warmup)):
            t0 = time.perf_counter()
            with self.tracer.call(f"setup.{name}") as span:
                fn()
            self.times[f"{name}_s"] = time.perf_counter() - t0
            self.times[f"{name}_jobs"] = span.counters.get("jobs", 0)

    @property
    def setup_s(self) -> float:
        return self.session_s + self.times["register_s"] + self.times["warmup_s"]

    def layers(self) -> dict:
        return {
            "setup.session_s": (self.session_s, "s"),
            "setup.register_s": (self.times["register_s"], "s"),
            "setup.register_jobs": (self.times["register_jobs"], "count"),
            "setup.warmup_s": (self.times["warmup_s"], "s"),
        }


def e2e(setup: Setup, throughput: float, latency: float) -> dict:
    return {
        "setup_s": (setup.setup_s, "s"),
        "throughput_per_s": (throughput, "1/s"),
        "latency_p50_s": (latency, "s"),
    }


def generic_layers(tracer: Tracer, setup: Setup, main_prefix: str, rss_mb: float) -> dict:
    """The per-layer metrics every workload reports: set-up, the
    workload's Spark-side public calls (``main_prefix`` spans inside
    the measured phase), everything else in the measured phase, and the
    tracing bookkeeping."""
    inside = tracer.children(MEASURE)
    main = [s for s in inside if s.name.startswith(main_prefix)]
    m = summed(main)
    wall = sum(s.dur for s in tracer.spans if s.name == MEASURE)
    out = dict(setup.layers())
    out.update({
        "main.calls": (m["calls"], "count"),
        "main.wall_s": (m["wall_s"], "s"),
        "main.jobs": (m.get("jobs", 0), "count"),
        "main.stages": (m.get("stages", 0), "count"),
        "main.tasks": (m.get("tasks", 0), "count"),
        "main.job_s": (m.get("job_s", 0.0), "s"),
        "main.driver_gap_s": (m.get("driver_gap_s", 0.0), "s"),
        "main.executor_run_s": (m.get("executor_run_s", 0.0), "s"),
        "main.executor_cpu_s": (m.get("executor_cpu_s", 0.0), "s"),
        "main.gc_s": (m.get("gc_s", 0.0), "s"),
        "main.shuffle_write_bytes": (m.get("shuffle_write_bytes", 0), "bytes"),
        "main.input_bytes": (m.get("input_bytes", 0), "bytes"),
        "main.leaked_rdds": (m.get("persisted_delta", 0), "count"),
        "other.wall_s": (sum(s.dur for s in inside if s not in main), "s"),
        "jvm.peak_rss_mb": (rss_mb, "MB"),
        "trace.coverage": (tracer.coverage(MEASURE), "ratio"),
        "trace.overhead_share": (tracer.overhead_in.get(MEASURE, 0.0) / wall if wall else 0.0, "ratio"),
    })
    return out


def spark_layer(prefix: str, spans) -> dict:
    """Module-named Spark counters for the report (``<prefix>.jobs`` ...)."""
    m = summed(spans)
    keys = ("wall_s", "jobs", "stages", "tasks", "job_s", "driver_gap_s",
            "executor_run_s", "executor_cpu_s", "gc_s",
            "shuffle_write_bytes", "input_bytes", "persisted_delta")
    return {f"{prefix}.{k}": round(m.get(k, 0), 6) for k in keys if k in m}


def check_coverage(res: Result, tracer: Tracer) -> None:
    """ROADMAP item 1's "done when": the layers sum to the wall time
    within 10%."""
    cov = tracer.coverage(MEASURE)
    res.report["trace.coverage"] = round(cov, 4)
    res.report["trace.overhead_s"] = round(tracer.overhead_s, 4)
    res.check(abs(1.0 - cov) <= 0.10, f"layer self-times cover {cov:.1%} of the wall")
