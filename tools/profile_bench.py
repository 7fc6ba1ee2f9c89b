#!/usr/bin/env python
"""Per-query profiler for the bench suite (optimization rounds).

Runs the named queries (or the N slowest from BENCH_FULL.json) exactly
as bench.py does (noop sink), but additionally records, per query:
job count, stage count, task count (via the status tracker), wall
seconds, construction milliseconds, the Py4J calls construction sent
to the JVM, and the classes codegen compiled over the whole run (build
and write). High job/stage counts against tiny sf data mean the query
is scheduling-overhead bound, not compute bound — the first split the
optimization guide asks for (guide §1); a construction time dominated
by thousands of Py4J calls, or a warm query still compiling classes,
is fixed driver cost.

Usage:
    python tools/profile_bench.py q1 q2 ...      # profile named queries
    python tools/profile_bench.py --top 15       # N slowest per BENCH_FULL
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if repo not in sys.path:  # `python tools/profile_bench.py` puts
        sys.path.insert(0, repo)  # tools/ on the path, not the repo root
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from crawler_spark.plans import registry
    from crawler_spark.session import (
        codegen_compile_count,
        count_py4j_calls,
        get_spark,
    )

    spark = get_spark("profile", cpus=cpus)
    registry.load_all()

    args = sys.argv[1:]
    if args and args[0] == "--top":
        n = int(args[1]) if len(args) > 1 else 15
        full = json.load(open(os.path.join(repo, "BENCH_FULL.json")))
        names = [k for k, _ in sorted(
            full["queries"].items(), key=lambda kv: -kv[1])[:n]]
    else:
        names = args
    unknown = [n for n in names if n not in registry.QUERIES]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    from crawler_spark.sources import TABLES, load_table

    for t in TABLES:
        load_table(spark, sf_dir, t).count()
    from crawler_spark.plans.queries_pipeline import _fixture_crawl_items

    _fixture_crawl_items(spark)

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    rows = []
    for i, name in enumerate(names):
        fn = registry.QUERIES[name]
        # one group per run: a repeated name must not count the jobs
        # of its earlier runs
        group = f"profile_{i}_{name}"
        sc.setJobGroup(group, name)
        c0 = codegen_compile_count(spark)
        t0 = time.perf_counter()
        try:
            with count_py4j_calls(spark) as py4j:
                df = fn(spark, sf_dir)
            t_build = time.perf_counter() - t0
            df.write.format("noop").mode("overwrite").save()
        except Exception as exc:
            print(f"{name} FAILED: {exc}", file=sys.stderr)
            continue
        finally:
            sc.setJobGroup(None, None)
        wall = time.perf_counter() - t0
        job_ids = tracker.getJobIdsForGroup(group)
        n_stages = n_tasks = 0
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                si = tracker.getStageInfo(s)
                if si is not None:
                    n_stages += 1
                    n_tasks += si.numTasks
        rows.append({
            "query": name, "wall_s": round(wall, 3),
            "build_ms": round(1000 * t_build, 1),
            "build_py4j_calls": py4j[0],
            "codegen_compiles": codegen_compile_count(spark) - c0,
            "jobs": len(job_ids), "stages": n_stages, "tasks": n_tasks,
        })
        print(json.dumps(rows[-1]), flush=True)

    print("\n== summary (slowest first) ==")
    for r in sorted(rows, key=lambda r: -r["wall_s"]):
        print(f"{r['wall_s']:8.2f}s  build={r['build_ms']:8.1f}ms "
              f"py4j={r['build_py4j_calls']:6d} "
              f"codegen={r['codegen_compiles']:4d} "
              f"jobs={r['jobs']:4d} stages={r['stages']:5d} "
              f"tasks={r['tasks']:6d}  {r['query']}")


if __name__ == "__main__":
    main()
