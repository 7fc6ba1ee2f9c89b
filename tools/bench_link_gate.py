"""Measure the small-graph gate of the link-analysis operators: time
``pagerank`` and ``personalized_pagerank`` on a synthetic graph of
about ``--edges`` distinct directed edges through both solver paths —
the driver-side solve (gate at its default) and the distributed loop
(gate forced to 0) — and print one JSON object with every run's wall
time, the medians and the core count.

The graph: ``--edges``/5 nodes, out-degrees drawn from a seeded
power law (hubs and dangling nodes both present), destinations
skewed toward low ids. The edge frame is materialized before timing,
so each run times the operator alone, through to a noop write of its
output. The first run of each path is a warm-up and is not reported.
``edge_collect_s`` times one collect of the whole edge list: the gate's
bounded collect costs a graph above the gate about that much.

Usage: python tools/bench_link_gate.py [--edges 100000] [--runs 3] [--cores 2]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def synthetic_edges(n_edges: int, seed: int = 7):
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    n = max(3, n_edges // 5)
    deg = np.minimum(rng.zipf(1.8, n) - 1, n - 1)
    deg = np.round(deg * 1.5 * n_edges / max(deg.sum(), 1)).astype(np.int64)
    src = np.repeat(np.arange(n), deg)
    dst = (rng.pareto(1.2, len(src)) * n / 20).astype(np.int64) % n
    df = pd.DataFrame({"src": src, "dst": dst})
    return df[df.src != df.dst].drop_duplicates().head(n_edges)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--edges", type=int, default=100_000)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--cores", type=int, default=2)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    import crawler_spark.operators.graph as graph_ops
    from crawler_spark.session import get_spark

    spark = get_spark("bench_link_gate", cpus=args.cores,
                      extra_conf={"spark.driver.memory": "2g"})
    pdf = synthetic_edges(args.edges)
    edges = spark.createDataFrame(pdf, "src long, dst long").localCheckpoint()
    seeds = edges.select(F.col("src").alias("id")).where(
        F.col("src") % 50 == 0).distinct().localCheckpoint()
    limit = graph_ops.SMALL_GRAPH_EDGE_LIMIT
    ops = {
        "pagerank": lambda st: graph_ops.pagerank(edges, stats=st),
        "personalized_pagerank": lambda st: graph_ops.personalized_pagerank(
            edges, seeds, stats=st),
    }
    out = {"edges": len(pdf), "nodes": len(set(pdf.src) | set(pdf.dst)),
           "cores": args.cores, "nproc": os.cpu_count(), "gate": limit}
    walls = []
    for _ in range(args.runs + 1):
        t = time.perf_counter()
        edges.toPandas()
        walls.append(round(time.perf_counter() - t, 3))
    out["edge_collect_s"] = walls[1:]
    for name, op in ops.items():
        for path, gate in (("driver", max(limit, len(pdf))), ("distributed", 0)):
            graph_ops.SMALL_GRAPH_EDGE_LIMIT = gate
            walls = []
            for _ in range(args.runs + 1):
                stats: dict = {}
                t = time.perf_counter()
                op(stats).write.format("noop").mode("overwrite").save()
                walls.append(round(time.perf_counter() - t, 3))
                if stats["path"] != path:
                    raise RuntimeError(f"{name} took {stats}, expected {path}")
            out[f"{name}.{path}_s"] = walls[1:]
            out[f"{name}.{path}_median_s"] = statistics.median(walls[1:])
            out[f"{name}.iterations_run"] = stats["iterations_run"]
    graph_ops.SMALL_GRAPH_EDGE_LIMIT = limit
    print(json.dumps(out))


if __name__ == "__main__":
    main()
