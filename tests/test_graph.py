"""PageRank operator tests: closed-form graphs, a pure-Python power
iteration as the value oracle, and mass conservation with dangling
nodes. The PageRank and PPR tests run on both solver paths — the
driver-side solve the small-graph gate picks for these graphs, and the
distributed loop, forced by setting the gate to 0 edges."""

from __future__ import annotations

import pytest

import crawler_spark.operators.graph as graph_ops
from crawler_spark.operators.graph import pagerank

PATHS = ("driver", "distributed")


@pytest.fixture
def use_path(monkeypatch):
    """``use_path(p)`` routes pagerank / personalized_pagerank to solver
    path ``p`` for the rest of the test: "distributed" sets the
    small-graph gate to 0 edges, "driver" restores it."""
    limit = graph_ops.SMALL_GRAPH_EDGE_LIMIT

    def use(path: str) -> None:
        monkeypatch.setattr(graph_ops, "SMALL_GRAPH_EDGE_LIMIT",
                            limit if path == "driver" else 0)
    return use


def _py_pagerank(edges, d=0.85, iters=10):
    nodes = sorted({u for e in edges for u in e})
    n = len(nodes)
    out = {}
    dedup = sorted(set(edges))
    for s, _t in dedup:
        out[s] = out.get(s, 0) + 1
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        dangling = sum(r[v] for v in nodes if v not in out)
        nxt = {v: (1 - d) / n + d * dangling / n for v in nodes}
        for s, t in dedup:
            nxt[t] += d * r[s] / out[s]
        r = nxt
    return {v: round(x, 6) for v, x in r.items()}


def test_cycle_is_uniform(spark, use_path):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long")
    for path in PATHS:
        use_path(path)
        stats: dict = {}
        got = {r.id: r.rank for r in pagerank(edges, stats=stats).collect()}
        assert stats["path"] == path
        assert got == {
            1: round(1 / 3, 6), 2: round(1 / 3, 6), 3: round(1 / 3, 6)}


def test_matches_python_reference_with_dangling(spark, use_path):
    # node 4 is dangling; duplicate edge (1,2) must count once
    raw = [(1, 2), (1, 2), (1, 3), (2, 4), (3, 4), (2, 3)]
    edges = spark.createDataFrame(raw, "src long, dst long")
    want = _py_pagerank(raw)
    for path in PATHS:
        use_path(path)
        got = {r.id: r.rank for r in pagerank(edges).collect()}
        assert set(got) == set(want)
        for v in want:
            assert abs(got[v] - want[v]) < 2e-6, (path, v, got[v], want[v])


def test_total_mass_conserved(spark, use_path):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (1, 5)], "src long, dst long")
    for path in PATHS:
        use_path(path)
        total = sum(r.rank for r in pagerank(edges, iterations=5).collect())
        assert abs(total - 1.0) < 1e-4, path


def test_convergence_stop_is_early_and_value_preserving(spark, use_path):
    for path in PATHS:
        use_path(path)
        _check_convergence_stop(spark)


def _check_convergence_stop(spark):
    # a 3-cycle's uniform start IS the fixed point: delta hits 0 after
    # the first round, so the tol path must exit long before the ceiling
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long")
    stats: dict = {}
    early = {r.id: r.rank
             for r in pagerank(edges, iterations=10, stats=stats).collect()}
    assert stats["iterations_run"] < 10
    fixed = {r.id: r.rank
             for r in pagerank(edges, iterations=10, tol=0).collect()}
    assert early == fixed

    # non-trivial graph: early-exit result equals the fixed-count result
    # after the 6-decimal rounding, and tol=0 really runs the ceiling
    raw = [(1, 2), (1, 3), (2, 4), (3, 4), (2, 3), (4, 1)]
    g = spark.createDataFrame(raw, "src long, dst long")
    stats2: dict = {}
    early2 = {r.id: r.rank
              for r in pagerank(g, iterations=60, stats=stats2).collect()}
    stats3: dict = {}
    fixed2 = {r.id: r.rank
              for r in pagerank(g, iterations=60, tol=0, stats=stats3).collect()}
    assert stats3["iterations_run"] == 60
    assert stats2["iterations_run"] < 60  # data-dependent, not the ceiling
    assert early2 == fixed2


def test_warm_start_same_fixed_point_fewer_iterations(spark, use_path):
    """Incremental-recrawl path: warm-starting from the previous
    converged ranks after a small edge delta must (a) reach the SAME
    rounded ranks as a cold run on the new graph, and (b) take fewer
    power iterations to converge. A new node absent from the seed gets
    uniform mass and the seed renormalizes, so mass stays 1. Warm
    starts always take the distributed loop; the cold runs they are
    compared with run on both paths."""
    for path in PATHS:
        use_path(path)
        _check_warm_start(spark)


def _check_warm_start(spark):
    base_raw = [(1, 2), (1, 3), (2, 4), (3, 4), (2, 3), (4, 1)]
    base = spark.createDataFrame(base_raw, "src long, dst long")
    s0: dict = {}
    converged = pagerank(base, iterations=60, stats=s0)
    converged = spark.createDataFrame(
        converged.collect(), converged.schema)  # freeze the seed

    # restart on the SAME graph: seeded at the (6-decimal-rounded)
    # fixed point, the warm run's residual starts ~1e-6 instead of
    # O(1) — measured 10 vs 54 cold iterations; pin at least a 2× win
    s_same: dict = {}
    same = {r.id: r.rank
            for r in pagerank(base, iterations=60, stats=s_same,
                              init_ranks=converged).collect()}
    assert same == {r.id: r.rank for r in converged.collect()}
    assert s_same["iterations_run"] * 2 < s0["iterations_run"], (
        s_same, s0)

    # delta: one new page 5 linked from 4, linking back to 1 — warm
    # start must reach the SAME rounded ranks as the cold run (the
    # seed moves the starting point, never the fixed point), with mass
    # conserved through the renormalized seed. No iteration-count
    # claim here: on a 6-node fixture one new node is 17% of the
    # graph, so the warm seed is no closer than uniform — the
    # proportional win only exists when the delta is small relative to
    # the graph (the production recrawl case; same-graph pin above).
    full = spark.createDataFrame(
        base_raw + [(4, 5), (5, 1)], "src long, dst long")
    cold = {r.id: r.rank
            for r in pagerank(full, iterations=60).collect()}
    warm = {r.id: r.rank
            for r in pagerank(full, iterations=60,
                              init_ranks=converged).collect()}
    assert warm == cold
    assert abs(sum(warm.values()) - 1.0) < 1e-4


def test_hub_outranks_leaves(spark, use_path):
    # star: everyone links to 0
    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, 6)], "src long, dst long")
    for path in PATHS:
        use_path(path)
        rows = {r.id: r.rank for r in pagerank(edges).collect()}
        assert rows[0] == max(rows.values())
        leaf_ranks = {v for k, v in rows.items() if k != 0}
        assert len(leaf_ranks) == 1  # symmetric leaves tie exactly


# --- HITS -----------------------------------------------------------------
from crawler_spark.operators.graph import hits  # noqa: E402


def _py_hits(edges, iters=20):
    nodes = sorted({u for e in edges for u in e})
    dedup = sorted(set(edges))
    h = {v: 1.0 for v in nodes}
    a = {v: 1.0 for v in nodes}
    for _ in range(iters):
        a = {v: sum(h[s] for s, t in dedup if t == v) for v in nodes}
        nrm = sum(x * x for x in a.values()) ** 0.5
        a = {v: (x / nrm if nrm else 0.0) for v, x in a.items()}
        h = {v: sum(a[t] for s, t in dedup if s == v) for v in nodes}
        nrm = sum(x * x for x in h.values()) ** 0.5
        h = {v: (x / nrm if nrm else 0.0) for v, x in h.items()}
    return (
        {v: round(x, 6) for v, x in h.items()},
        {v: round(x, 6) for v, x in a.items()},
    )


def test_hits_matches_python_reference(spark):
    # a directory page (1) linking to three content pages, one of which
    # (4) is also endorsed by 2 and 3; duplicate edge counts once
    raw = [(1, 2), (1, 3), (1, 4), (2, 4), (3, 4), (1, 4)]
    edges = spark.createDataFrame(raw, "src long, dst long")
    got = {r.id: (r.hub, r.authority) for r in hits(edges, tol=0).collect()}
    wh, wa = _py_hits(raw)
    assert set(got) == set(wh)
    for v in wh:
        assert abs(got[v][0] - wh[v]) < 2e-6, ("hub", v, got[v][0], wh[v])
        assert abs(got[v][1] - wa[v]) < 2e-6, ("auth", v, got[v][1], wa[v])


def test_hits_identifies_hub_and_authority(spark):
    raw = [(1, 2), (1, 3), (1, 4), (2, 4), (3, 4)]
    edges = spark.createDataFrame(raw, "src long, dst long")
    got = {r.id: r for r in hits(edges).collect()}
    # 1 is the best hub (links all content); 4 the best authority
    assert got[1].hub == max(r.hub for r in got.values())
    assert got[4].authority == max(r.authority for r in got.values())
    # pure hub has no in-links -> zero authority; pure sink no hub
    assert got[1].authority == 0.0
    assert got[4].hub == 0.0


def test_hits_early_exit_preserves_values(spark):
    raw = [(1, 2), (1, 3), (2, 3), (3, 1)]
    edges = spark.createDataFrame(raw, "src long, dst long")
    stats = {}
    fixed = {
        (r.id, r.hub, r.authority)
        for r in hits(edges, iterations=30, tol=0).collect()
    }
    early = {
        (r.id, r.hub, r.authority)
        for r in hits(edges, iterations=30, tol=1e-7, stats=stats).collect()
    }
    assert early == fixed
    assert stats["iterations_run"] < 30


# --- co-occurrence projection + triangle census ---------------------------
from itertools import combinations  # noqa: E402

from crawler_spark.operators.graph import (  # noqa: E402
    cooccurrence_edges,
    triangle_stats,
)


def test_cooccurrence_edges_basic(spark):
    rows = [(1, "a"), (2, "a"), (3, "a"), (3, "b"), (4, "b"), (1, "a")]
    df = spark.createDataFrame(rows, "id2 long, bucket string")
    got = {
        (r.u, r.v)
        for r in cooccurrence_edges(df, "id2", ["bucket"], cap=10).collect()
    }
    assert got == {(1, 2), (1, 3), (2, 3), (3, 4)}


def test_cooccurrence_cap_bounds_fanout_deterministically(spark):
    rows = [(i, "hot") for i in range(40)] + [(100, "cold"), (101, "cold")]
    df = spark.createDataFrame(rows, "uid long, bucket string")
    e1 = cooccurrence_edges(df, "uid", ["bucket"], cap=5)
    hot = [r for r in e1.collect() if r.u < 100]
    assert len(hot) == 5 * 4 / 2  # exactly cap-choose-2 survive
    # deterministic: a second run picks the identical members
    e2 = cooccurrence_edges(df, "uid", ["bucket"], cap=5)
    assert set(map(tuple, e1.collect())) == set(map(tuple, e2.collect()))


def test_cooccurrence_pairs_match_brute_force_on_random_buckets(spark):
    """Round-12 lock for the pair-expansion rewrite (per-bucket
    self-join → bounded collect_list + higher-order array expansion):
    on a seeded random membership table, the emitted edge set must
    equal the brute-force definition — every unordered pair of
    distinct members sharing a bucket, capped to the `cap` smallest
    md5(id) per bucket, emitted once as (u, v) with u < v."""
    import hashlib
    import random

    rng = random.Random(7)
    rows = [
        (rng.randrange(60), f"b{rng.randrange(12)}") for _ in range(400)
    ]
    cap = 6
    df = spark.createDataFrame(rows, "uid long, bucket string")
    got = {
        (r.u, r.v)
        for r in cooccurrence_edges(df, "uid", ["bucket"], cap=cap).collect()
    }
    # brute force in plain python
    members: dict = {}
    for uid, b in set(rows):
        members.setdefault(b, set()).add(uid)
    expect = set()
    for b, ids in members.items():
        capped = sorted(
            ids, key=lambda i: hashlib.md5(str(i).encode()).hexdigest()
        )[:cap]
        for a, c in combinations(sorted(capped), 2):
            expect.add((a, c))
    assert got == expect


def _brute_triangle_stats(edges):
    nodes = sorted({x for e in edges for x in e})
    es = {tuple(sorted(e)) for e in edges}
    deg = {v: sum(v in e for e in es) for v in nodes}
    wedges = sum(d * (d - 1) // 2 for d in deg.values())
    tris = sum(
        (min(a, b), max(a, b)) in es
        and (min(b, c), max(b, c)) in es
        and (min(a, c), max(a, c)) in es
        for a, b, c in combinations(nodes, 3)
    )
    return len(nodes), len(es), wedges, tris


def test_triangle_stats_matches_brute_force(spark):
    import random

    rng = random.Random(7)
    edges = {
        tuple(sorted(rng.sample(range(12), 2))) for _ in range(40)
    }
    df = spark.createDataFrame(sorted(edges), "u long, v long")
    row = triangle_stats(df).collect()[0]
    n, m, w, t = _brute_triangle_stats(edges)
    assert (row.n_nodes, row.n_edges, row.n_wedges, row.n_triangles) == (
        n, m, w, t,
    )
    assert abs(row.clustering - round(3.0 * t / w, 6)) < 1e-9


def test_triangle_stats_counts_skewed_hub_once_per_triangle(spark):
    # star + one rim edge: exactly one triangle, hub degree 5
    edges = [(0, i) for i in range(1, 6)] + [(1, 2)]
    df = spark.createDataFrame(edges, "u long, v long")
    row = triangle_stats(df).collect()[0]
    assert row.n_triangles == 1
    assert row.n_edges == 6


# --- personalized PageRank ------------------------------------------------
from crawler_spark.operators.graph import personalized_pagerank  # noqa: E402


def _py_ppr(edges, seeds, d=0.85, iters=10):
    nodes = sorted({x for e in edges for x in e})
    out = {v: [t for s, t in set(edges) if s == v] for v in nodes}
    p = {v: (1.0 / len(seeds) if v in seeds else 0.0) for v in nodes}
    r = dict(p)
    for _ in range(iters):
        dmass = sum(r[v] for v in nodes if not out[v])
        nr = {}
        for v in nodes:
            in_mass = sum(r[u] / len(out[u]) for u in nodes if v in out[u])
            nr[v] = (1 - d) * p[v] + d * (in_mass + dmass * p[v])
        r = nr
    return {v: round(x, 6) for v, x in r.items()}


def test_personalized_pagerank_matches_python_reference(spark, use_path):
    raw = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)]
    edges = spark.createDataFrame(raw, "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "id long")
    want = _py_ppr(raw, {1})
    for path in PATHS:
        use_path(path)
        stats: dict = {}
        got = {
            r.id: r.rank
            for r in personalized_pagerank(
                edges, seeds, iterations=10, tol=0, stats=stats
            ).collect()
        }
        assert stats == {"iterations_run": 10, "path": path}
        assert set(got) == set(want)
        for v in want:
            assert abs(got[v] - want[v]) < 2e-6, (path, v, got[v], want[v])


def test_personalized_pagerank_unreachable_nodes_get_zero(spark, use_path):
    # two components; seed in the first — the second must converge to 0
    raw = [(1, 2), (2, 1), (8, 9), (9, 8)]
    edges = spark.createDataFrame(raw, "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "id long")
    for path in PATHS:
        use_path(path)
        got = {
            r.id: r.rank
            for r in personalized_pagerank(edges, seeds).collect()
        }
        assert got[8] == 0.0 and got[9] == 0.0
        assert got[1] > got[2] > 0  # seed holds the teleport mass


def test_personalized_pagerank_ignores_unknown_seeds(spark, use_path):
    raw = [(1, 2), (2, 1)]
    edges = spark.createDataFrame(raw, "src long, dst long")
    seeds = spark.createDataFrame([(1,), (99,)], "id long")  # 99 not in graph
    for path in PATHS:
        use_path(path)
        got = {
            r.id: r.rank
            for r in personalized_pagerank(edges, seeds).collect()
        }
        # teleport weight renormalized over surviving seeds: mass sums to 1
        assert abs(sum(got.values()) - 1.0) < 1e-5, path


def test_personalized_pagerank_only_unknown_seeds_gives_zero(spark, use_path):
    """No seed is a node of the graph: nothing to teleport to, so every
    node gets rank 0.0 — on both paths (the distributed loop used to
    raise ANSI DIVIDE_BY_ZERO on the empty seed count)."""
    raw = [(1, 2), (2, 1), (2, 3)]
    edges = spark.createDataFrame(raw, "src long, dst long")
    seeds = spark.createDataFrame([(98,), (99,)], "id long")
    for path in PATHS:
        use_path(path)
        stats: dict = {}
        got = {
            r.id: r.rank
            for r in personalized_pagerank(edges, seeds, stats=stats).collect()
        }
        assert stats["path"] == path
        assert got == {1: 0.0, 2: 0.0, 3: 0.0}, path


def test_pagerank_warm_start_duplicate_seed_ids(spark):
    """init_ranks with a duplicated id (e.g. a union of two snapshot
    outputs) must not double that node's mass through the seed join —
    duplicates collapse before seeding, so the result matches the
    deduplicated seed exactly."""
    from crawler_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")],
        "src string, dst string")
    seed = spark.createDataFrame(
        [("a", 0.5), ("b", 0.25), ("c", 0.25)], "id string, rank double")
    dup_seed = seed.unionAll(
        spark.createDataFrame([("a", 0.5)], "id string, rank double"))
    clean = {r.id: r.rank for r in
             pagerank(edges, iterations=3, init_ranks=seed).collect()}
    dup = {r.id: r.rank for r in
           pagerank(edges, iterations=3, init_ranks=dup_seed).collect()}
    assert set(clean) == set(dup) == {"a", "b", "c"}
    assert len(dup) == 3, "duplicated seed id fanned out node rows"
    # duplicate mass is summed then renormalized: a gets 1.0/1.5 of the
    # start mass instead of doubled rows; totals stay a distribution
    assert abs(sum(dup.values()) - 1.0) < 1e-9


def test_pagerank_degenerate_seeds_fall_back_to_uniform(spark, use_path):
    """Seeds whose IN-GRAPH mass is zero must fall back to the uniform
    start (review-found): all weight on ids absent from the graph
    passes the pre-total guard (pt > 0) but scales every surviving
    node's share to 0 — without the t > 0 guard that is DIVIDE_BY_ZERO
    under ANSI and all-NULL ranks without it. Arbitrary weight scales
    (the docstring's contract) must also survive the double pre-scale."""
    for path in PATHS:
        use_path(path)
        _check_degenerate_seeds(spark)


def _check_degenerate_seeds(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")],
        "src string, dst string")
    cold = {r.id: r.rank for r in
            pagerank(edges, iterations=40).collect()}

    # every graph node at weight 0; the positive mass sits off-graph
    offgraph = spark.createDataFrame(
        [("a", 0.0), ("b", 0.0), ("c", 0.0), ("zzz", 7.0)],
        "id string, rank double")
    got = {r.id: r.rank for r in
           pagerank(edges, iterations=40, init_ranks=offgraph).collect()}
    assert got == cold, "zero in-graph seed mass must start uniform"

    # huge raw scores: the double pre-scale must bound them before the
    # decimal-exact path (no overflow, same fixed point as any seed)
    huge = spark.createDataFrame(
        [("a", 1e300), ("b", 2e300), ("c", 1e299)],
        "id string, rank double")
    got_huge = {r.id: r.rank for r in
                pagerank(edges, iterations=60, init_ranks=huge).collect()}
    assert got_huge == cold, "seed scale must never move the fixed point"


# --- driver-side solve vs the distributed loop ----------------------------
def _unrounded(edges, seeds, **kw):
    """(ranks before the 6-decimal output rounding, stats)."""
    stats: dict = {}
    kw = {"damping": 0.85, "iterations": 10, "src_col": "src",
          "dst_col": "dst", "tol": 1e-7, "check_every": 2, **kw}
    ranks = graph_ops._link_ranks(edges, seeds, stats=stats, **kw)
    return {r.id: r.rank for r in ranks.collect()}, stats


def _assert_paths_bit_identical(use_path, edges, seeds, **kw):
    use_path("driver")
    drv, s_drv = _unrounded(edges, seeds, **kw)
    use_path("distributed")
    dist, s_dist = _unrounded(edges, seeds, **kw)
    assert (s_drv["path"], s_dist["path"]) == PATHS
    assert drv == dist  # exact float equality, no tolerance
    assert s_drv["iterations_run"] == s_dist["iterations_run"]
    return s_drv["iterations_run"]


@pytest.mark.parametrize("raw", [
    # node 4 dangling (per-round dangling-mass term)
    [(1, 2), (1, 3), (2, 4), (3, 4), (2, 3)],
    # two components, one with a dangling sink
    [(1, 2), (2, 1), (8, 9), (9, 8), (9, 10)],
    # duplicate edges collapse before the degree count
    [(1, 2), (1, 2), (2, 3), (3, 1), (3, 1), (3, 2)],
], ids=["dangling", "disconnected", "duplicate_edges"])
def test_driver_solve_bit_identical_to_distributed(spark, use_path, raw):
    """The driver-side solve replays the distributed loop's arithmetic
    exactly: same unrounded ranks, same iterations_run, for PageRank
    and PPR (the tol-driven exit is locked by the next test)."""
    edges = spark.createDataFrame(raw, "src long, dst long")
    seeds = spark.createDataFrame([(raw[0][0],)], "id long")
    for s in (None, seeds):
        _assert_paths_bit_identical(use_path, edges, s, tol=0.0)


def test_driver_solve_bit_identical_on_early_exit(spark, use_path):
    # check_every=2 cadence: the exit round must match, not just values
    raw = [(1, 2), (1, 3), (2, 4), (3, 4), (2, 3), (4, 1)]
    edges = spark.createDataFrame(raw, "src long, dst long")
    rounds = _assert_paths_bit_identical(
        use_path, edges, None, iterations=60, check_every=2)
    assert rounds < 60 and rounds % 2 == 0


def test_driver_solve_bit_identical_on_cooccurrence_graph(spark, use_path):
    """The data-scale graph behind graph_influence_ppr (sf0.01 events
    co-occurrence, symmetrized) with its seed cohort and schedule."""
    from conftest import SF_ORACLE as sf
    from pyspark.sql import functions as F

    from crawler_spark.plans.queries_graph import _event_cooccurrence_edges
    from crawler_spark.sources import load_table

    und = _event_cooccurrence_edges(load_table(spark, sf, "events"))
    edges = und.unionByName(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint()
    seeds = (
        load_table(spark, sf, "events")
        .select(F.col("user_id").alias("id"))
        .where(F.col("user_id") % 50 == 0)
        .distinct()
    )
    rounds = _assert_paths_bit_identical(
        use_path, edges, seeds, src_col="u", dst_col="v", iterations=8,
        check_every=8)
    assert rounds == 8


def test_decimal_units_match_spark_cast(spark):
    """Lock of the driver-side replica of ``_exact_sum``: each double's
    ``CAST(x AS DECIMAL(38,18))`` and each group's decimal sum cast
    back to double, against Spark on a seeded sample. Includes
    2.82879384806159e17, which JDK 17's Double.toString prints with
    18 digits — a repr-based replica would get it wrong."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(20)
    xs = [2.82879384806159e17, 0.0, 1e-18, 5e-19, 1.5e-18, 0.1, 1.0]
    for _ in range(20_000):
        k = rng.random()
        if k < 0.4:  # rank / out-degree shaped
            xs.append(rng.random() / rng.randint(1, 5000))
        elif k < 0.8:  # across the decimal's 18 fractional digits
            xs.append(rng.random() * 10 ** rng.uniform(-20, 0))
        else:
            xs.append(rng.uniform(-1e6, 1e6) * 10 ** rng.uniform(-20, 0))
    df = spark.createDataFrame(
        [(i, i % 97, x) for i, x in enumerate(xs)], "i long, g long, x double")
    dec = {
        r.i: r.d for r in df.select(
            "i", F.col("x").cast("decimal(38,18)").alias("d")).collect()
    }
    units = graph_ops._decimal_units(spark, xs)
    assert [
        int(graph_ops._DEC38.scaleb(dec[i], 18)) for i in range(len(xs))
    ] == units

    sums = {
        r.g: r.s for r in df.groupBy("g").agg(
            graph_ops._exact_sum("x").alias("s")).collect()
    }
    by_group: dict = {}
    for i, u in enumerate(units):
        by_group[i % 97] = by_group.get(i % 97, 0) + u
    assert sums == {g: t / graph_ops._UNITS for g, t in by_group.items()}


def test_solver_path_is_recorded(spark, use_path):
    """``stats["path"]``: the crawl fixture graph takes the driver
    path, a gate of 0 edges forces the distributed loop — same ranks."""
    from crawler_spark.plans.queries_pipeline import _fixture_edges

    edges = _fixture_edges(spark)
    got = {}
    for path in PATHS:
        use_path(path)
        stats: dict = {}
        got[path] = {r.id: r.rank for r in
                     pagerank(edges, check_every=10, stats=stats).collect()}
        assert stats == {"iterations_run": 10, "path": path}
    assert got["driver"] == got["distributed"]


def test_crawl_pagerank_values_pin_on_both_paths(spark, use_path):
    """``crawl_pagerank`` sets no conf regime of its own: its VALUES pin
    holds on the driver solve and on the distributed loop (which runs
    under ``session.loop_conf``)."""
    import duckdb
    from conftest import SF_ORACLE

    import __spark_entry__ as E

    want = sorted((u, float(r)) for u, r in
                  duckdb.sql(E.oracle_sql()["crawl_pagerank"]).fetchall())
    for path in PATHS:
        use_path(path)
        got = E.queries()["crawl_pagerank"](spark, SF_ORACLE)
        assert sorted(map(tuple, got.collect())) == want, path
