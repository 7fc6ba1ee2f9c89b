#!/usr/bin/env python3
"""Self-test of the benchmark at tiny size (sf0.001 search tables,
sf0.005 batch tables, 20-page ingest waves, a few operations each).
It checks that

1. every metric BENCHMARK.json names is emitted, with its unit, by
   both the untraced and the traced run of every workload;
2. the output checks fire: a deliberately corrupted output makes
   every affected operation count as failed;
3. a second run in the same process still does real work: it starts
   new Spark jobs for every operation.

Every uncorrupted run must also pass all its output checks. The
self-test reports, without failing, whether the engine still has the
known defect the ingest workload does not reach (see
``probe_in_wave_duplicate``).

    python3 perfbench/selftest.py

Run from the repository root; exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]


def check(ok: bool, what) -> None:
    if not ok:
        raise SystemExit(f"selftest FAILED: {what}")


def _corrupt_query(item, out):
    """A search page or rag answer missing its last row; a registered
    query reporting one row too many."""
    if isinstance(out, int):
        return out + 1
    return out[:-1] if out else [None]


CORRUPT = {
    "query": _corrupt_query,
    # the read-back lookup sees the url twice
    "ingest": lambda probe, hits: hits + hits,
}


def check_emitted(spec: dict) -> None:
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    for w in (x["name"] for x in spec["workloads"]):
        for trace in (0, 1):
            cmd = spec["command"] + ["--workload", w, "--seed", "3", "--seconds", "1",
                                     "--trace", str(trace), "--size", "tiny"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                                  timeout=600)
            check(proc.returncode == 0, (w, trace, proc.stderr[-3000:]))
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            check(set(res) == {"correct", "attempted", "failed", "metrics"}, res)
            check(1 <= res["attempted"] and res["failed"] == 0 and res["correct"], res)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == want[trace], (w, trace, got))
            print(f"ok   {w} trace={trace}: {len(got)} metrics with units, "
                  f"{res['attempted']} operations correct", flush=True)


def check_corruption_and_rerun(spec: dict) -> None:
    from run import Bench, run_workload

    for w in (x["name"] for x in spec["workloads"]):
        bench = Bench(w, seed=5, trace=False, tiny=True)
        try:
            clean = run_workload(bench, w, 0)
            check(clean["failed"] == 0, (w, "clean run failed", clean["failed"]))
            dag = bench.spark.sparkContext._jsc.sc().dagScheduler()
            before = dag.nextJobId()
            bad = run_workload(bench, w, 0, corrupt=CORRUPT[w])
            started = dag.nextJobId() - before
            ops = len(bad["ops"])
            check(bad["failed"] >= ops > 0, (w, bad["failed"], ops))
            check(started >= ops, (w, started))
            print(f"ok   {w}: clean run correct; corrupted second run failed "
                  f"{bad['failed']}/{bad['attempted']} and started {started} new "
                  f"Spark jobs", flush=True)
        finally:
            bench.close()


def probe_in_wave_duplicate() -> None:
    """Report, without failing, whether ``make_batch_processor`` still
    stores a url twice when one micro-batch holds it twice and its
    bucket has no live rows yet (the merge runs only for live buckets).
    The ingest workload's waves hold each url once, as crawl-tier waves
    do, so its runs never reach this path."""
    from pyspark.sql import functions as F

    from crawler_spark import schemas
    from crawler_spark.streaming.ingest_stream import (
        make_batch_processor, read_pages_table)
    from run import Bench

    bench = Bench("probe", seed=0, trace=False, tiny=True)
    try:
        pages = os.path.join(bench.run_dir, "pages")
        process = make_batch_processor(pages, os.path.join(bench.run_dir, "dead"))
        url = "https://d0.test/page/0"
        row = (url, "text/html", b"<html><body><p>probe</p></body></html>", None)
        process(bench.spark.createDataFrame([row, row], schemas.FETCHED), 0)
        n = read_pages_table(bench.spark, pages).filter(F.col("url") == url).count()
    finally:
        bench.close()
    state = "still present" if n != 1 else "not present"
    print(f"note engine defect (in-wave duplicate url into an empty bucket): "
          f"{state}, url stored {n} time(s)", flush=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_emitted(spec)
    check_corruption_and_rerun(spec)
    probe_in_wave_duplicate()
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
