"""Stability evidence: run the benchmark back to back over several
seeds and record, per workload and end-to-end metric, the median, the
quartiles and the spread (interquartile range over median, the figure
BENCHMARK.json's ``bound`` is held against).

    python3 perfbench/stability.py [--first-seed 1]

Run from a checkout root.  Each invocation runs every workload declared
in BENCHMARK.json on ``RUNS`` consecutive seeds and appends the set to
``perfbench/STABILITY.json``.  From the second set on, it also records
how far each median moved from the first set's, as a share of the
first.  Exits non-zero if
a run fails or reports ``correct: false``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(HERE, "STABILITY.json")
RUNS = 10


def run_set(spec: dict, first_seed: int) -> tuple[dict, bool]:
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    out: dict = {}
    ok = True
    for wl in (w["name"] for w in spec["workloads"]):
        values: dict[str, list] = {}
        walls = []
        for seed in range(first_seed, first_seed + RUNS):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, *spec["command"][1:], "--workload", wl, "--seed", str(seed),
                 "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                capture_output=True, text=True, timeout=600,
            )
            walls.append(round(time.time() - t0, 1))
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else {}
            if p.returncode or not res.get("correct"):
                ok = False
                print(f"{wl} seed {seed}: FAILED rc={p.returncode}\n{p.stderr[-2000:]}",
                      file=sys.stderr)
                continue
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{wl} seed {seed}: {walls[-1]}s "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  file=sys.stderr)
        rows = {}
        for k, xs in values.items():
            q1, med, q3 = statistics.quantiles(xs, n=4)
            rows[k] = {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med,
                       "bound": bounds.get(k), "values": xs}
        out[wl] = {"seeds": [first_seed, first_seed + RUNS - 1], "run_wall_s": walls,
                   "metrics": rows}
    return out, ok


def main() -> int:
    spec = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    doc = {"sets": []}
    if os.path.exists(OUT):
        with open(OUT) as fh:
            doc = json.load(fh)
    started = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    workloads, ok = run_set(spec, args.first_seed)
    this = {
        "started": started,
        "host": f"{platform.machine()}, {os.cpu_count()} cpus, {platform.platform()}",
        "run_seconds": spec["run_seconds"],
        "workloads": workloads,
    }
    if doc["sets"]:
        first = doc["sets"][0]["workloads"]
        this["median_change_vs_first_set"] = {
            wl: {k: (r["median"] - first[wl]["metrics"][k]["median"])
                 / first[wl]["metrics"][k]["median"]
                 for k, r in w["metrics"].items() if k in first.get(wl, {}).get("metrics", {})}
            for wl, w in workloads.items()
        }
    doc["sets"].append(this)
    with open(OUT, "w") as fh:
        json.dump(doc, fh, indent=1)
    for wl, w in workloads.items():
        for k, r in w["metrics"].items():
            moved = this.get("median_change_vs_first_set", {}).get(wl, {}).get(k)
            print(f"{wl:8s} {k:18s} median={r['median']:.4g} spread={r['spread']:.3f} "
                  f"bound={r['bound']}" + (f" vs first set {moved:+.3f}" if moved is not None else ""),
                  file=sys.stderr)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
