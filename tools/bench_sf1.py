"""sf1 spot-bench at two core counts (round-13, VERDICT_r12 item 7).

The sf0.1 bench is scheduling/driver-bound — essentially every 8-vs-32
core ratio reads ~1, so it cannot demonstrate that the shrunk-loop
regime (session.loop_conf) kept real parallelism. This tool re-runs
bench.py's exact per-query methodology (registry query → noop sink,
same session factory, same warmup rule) over the shuffle-bound
graph/closure/ngram subset at sf1 — the 10× derived corpus
soak_sf1.build_sf1 materializes under /tmp — so the work is large
enough for core count to matter.

Usage (one process per core count; the master is fixed per JVM):

    SPARK_GRAFT_CPUS=32 python tools/bench_sf1.py
    SPARK_GRAFT_CPUS=8  python tools/bench_sf1.py

Each run records {query: sec} under its cpu count in BENCH_SF1.json
(merging with any previous run) and, once both counts are present,
prints the per-query 8c/32c ratio — >1 means cores helped; the
round-13 bar is ratio > 2 on the shuffle-bound names. This is soak
EVIDENCE, not the driver bench: BENCH_FULL.json and bench.py's
contract are untouched.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

OUT = os.path.join(REPO, "BENCH_SF1.json")

# shuffle-bound heavies only: every name reads ONLY the three tables
# build_sf1 scales (documents/embeddings/events), so the sf1 dir is a
# complete input for it
SUBSET = [
    # closure family (iterative loops under session.loop_conf)
    "dedup_canonical", "dedup_canonical_capped", "dedup_canonical_star",
    # ngram/shingle family (round-13 Arrow kernel)
    "dedup_ngram_jaccard", "dedup_ngram_jaccard_capped",
    "dedup_ngram_jaccard_prefix", "dedup_containment",
    # graph family (loop_conf + the r12/r13 join restructures)
    "graph_cooccur_degree", "graph_triangle_stats", "graph_influence_ppr",
    # vector loops
    "dedup_semantic", "dedup_semantic_incremental",
    # round-13 aggregation restructures
    "txt_bigram_logprob", "txt_heavy_hitters_cms",
]


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from tools.soak_sf1 import SF1_DIR, build_sf1

    from crawler_spark.plans import registry
    from crawler_spark.session import get_spark

    spark = get_spark("bench-sf1", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    registry.load_all()
    build_sf1(spark)

    # warmup: touch the three scaled tables once (bench.py's rule)
    for t in ("documents", "embeddings", "events"):
        spark.read.parquet(os.path.join(SF1_DIR, f"{t}.parquet")).count()

    timings: dict[str, float] = {}
    for name in SUBSET:
        fn = registry.QUERIES[name]
        spark.sparkContext.setJobDescription(f"bench_sf1:{name}")
        t0 = time.perf_counter()
        try:
            fn(spark, SF1_DIR).write.format("noop").mode("overwrite").save()
            timings[name] = round(time.perf_counter() - t0, 3)
        except Exception as exc:
            print(f"bench_sf1: {name} FAILED: {exc}", file=sys.stderr)
            timings[name] = -1.0
        print(f"{name}@{cpus}c: {timings[name]}s", flush=True)

    payload = json.load(open(OUT)) if os.path.exists(OUT) else {
        "sf": 1.0, "dir": SF1_DIR, "runs": {}}
    payload["runs"][str(cpus)] = {
        "queries": timings,
        "total": round(sum(t for t in timings.values() if t >= 0), 3),
    }
    if {"8", "32"} <= set(payload["runs"]):
        q8 = payload["runs"]["8"]["queries"]
        q32 = payload["runs"]["32"]["queries"]
        payload["ratio_8c_over_32c"] = {
            n: round(q8[n] / q32[n], 2)
            for n in SUBSET if q8.get(n, -1) > 0 and q32.get(n, -1) > 0
        }
    with open(OUT, "w") as fh:
        json.dump(payload, fh, indent=1)
        fh.write("\n")
    print(json.dumps({"cpus": cpus,
                      "total": payload["runs"][str(cpus)]["total"]}))


if __name__ == "__main__":
    main()
