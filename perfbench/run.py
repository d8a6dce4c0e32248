"""Benchmark entry point.

    python3 perfbench/run.py --workload copy|stream|catalog \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout: the package is imported from there
and every file the run writes goes under ``.perfbench_run/`` in it.
Workloads are described in perfbench/README.md.

stdout ends with two JSON lines: a report with the workload's own
metrics named by module (``report``), then the result line
``{"correct", "attempted", "failed", "metrics"}`` whose metrics are
the end-to-end ones with ``--trace 0`` and the per-layer ones with
``--trace 1``.  The exit code is 0 only when every output check
passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "flink_elasticsearch_ingestion_spark"
WORKLOADS = ("copy", "stream", "catalog")

#: local[N] and shuffle partitions for every workload, so runs on a
#: bigger host measure the same plan shapes
CPUS = 4


def _env(run_dir: str) -> None:
    """Keep every file Spark and Python write inside the checkout, and
    let executor-side Python import the package from it."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # -UsePerfData: no hsperfdata files under the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    import tempfile

    tempfile.tempdir = tmp


def _stop(spark) -> None:
    """Stop the SparkContext, then the gateway JVM, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: {PACKAGE}/ not found in {ROOT}; run from a checkout root",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    run_dir = os.path.join(ROOT, ".perfbench_run",
                           f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _env(run_dir)

    import importlib

    from layers import Tracer

    mod = importlib.import_module(f"wl_{args.workload}")
    wl = mod.Workload(run_dir, args.seed, args.seconds, bool(args.trace))
    spark = None
    try:
        wl.generate()
        from flink_elasticsearch_ingestion_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", shuffle_partitions=CPUS)
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark, enabled=bool(args.trace))
        res = wl.run(spark, tracer, session_s)
        if args.trace:
            tracer.dump(os.path.join(ROOT, ".perfbench_run",
                                     f"spans-{args.workload}-s{args.seed}.json"))
    finally:
        wl.close()
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics = res.layer_metrics if args.trace else res.e2e_metrics
    print(json.dumps({"report": {"workload": args.workload, "seed": args.seed,
                                 **res.report}}, sort_keys=True))
    if res.problems:
        for p in res.problems:
            print(f"CHECK FAILED: {p}", file=sys.stderr)
    print(json.dumps({
        "correct": not res.problems,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if not res.problems else 1


if __name__ == "__main__":
    sys.exit(main())
