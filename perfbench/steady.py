#!/usr/bin/env python3
"""Steadiness evidence: run the benchmark several times per workload,
each run with another seed, and summarise every end-to-end metric
(median, quartiles, inter-quartile spread as a share of the median,
against the metric's bound in BENCHMARK.json). One traced run per
workload adds the per-layer split and the tracing overhead (traced
minus untraced medians).

    python3 perfbench/steady.py --runs 10 --out perfbench/results/set1.json

Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(spec: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]),
                             "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    return {"seed": seed, "wall_s": wall, "result": json.loads(lines[-1]),
            "record": json.loads(lines[-2])["record"]}


def summarise(values: list[float], bound: float) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    spread = (q3 - q1) / med
    return {"median": med, "q1": q1, "q3": q3, "spread": spread,
            "bound": bound, "within_third_of_bound": spread < bound / 3,
            "values": values}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=None, help="comma list; default: all")
    ap.add_argument("--no-trace", action="store_true")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = (args.workloads.split(",") if args.workloads
             else [w["name"] for w in spec["workloads"]])
    report = {"run_seconds": spec["run_seconds"], "workloads": {}}
    for w in names:
        runs = []
        for k in range(args.runs):
            r = run_once(spec, w, args.first_seed + k, 0)
            runs.append(r)
            meta = r["record"]["meta"]
            print(w, r["seed"], f"{r['wall_s']:.1f}s",
                  {m: round(v["value"], 2) for m, v in r["result"]["metrics"].items()},
                  "canary_ms", round(meta["cpu_canary_ms_start"], 1),
                  round(meta["cpu_canary_ms_end"], 1), flush=True)
        entry = {
            "correct_runs": sum(r["result"]["correct"] for r in runs),
            "wall_s": summarise([r["wall_s"] for r in runs], 1.0),
            "metrics": {
                m["name"]: summarise(
                    [r["result"]["metrics"][m["name"]]["value"] for r in runs], m["bound"])
                for m in spec["end_to_end"]},
            "records": [r["record"] for r in runs],
        }
        if not args.no_trace:
            t = run_once(spec, w, args.first_seed, 1)
            layers = {k: v["value"] for k, v in t["result"]["metrics"].items()}
            entry["trace"] = {
                "seed": t["seed"], "wall_s": t["wall_s"], "layers": layers,
                "overhead": {
                    "latency_p50_ms": layers["trace.latency_p50_ms"]
                    - entry["metrics"]["latency_p50_ms"]["median"],
                    "setup_s": layers["trace.setup_s"]
                    - entry["metrics"]["setup_s"]["median"]},
            }
        report["workloads"][w] = entry
        for m, s in entry["metrics"].items():
            print(f"  {w} {m}: median {s['median']:.2f} spread {s['spread']:.4f} "
                  f"(bound {s['bound']})", flush=True)
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
