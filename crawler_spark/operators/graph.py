"""Link-graph operators: PageRank over a (src, dst) edge DataFrame —
the crawl-prioritization signal (which frontier URLs are worth
fetching first) and a generic iterative-computation template beside
the canonical-closure family (operators/dedup.py).

Shape at scale: ranks and out-degrees are node-cardinality DataFrames;
every iteration is one equi-join of edges⨝ranks on src (shuffle keyed
on node id) plus one groupBy(dst) — the textbook distributed power
iteration, no driver-side graph state. A hub page with millions of
in-links is one hot groupBy key; AQE skew splitting handles it the
same way it does a hot join key. ``localCheckpoint`` per iteration
truncates the lineage exactly as the closure operators do.

Small graphs skip the loop: at or below ``SMALL_GRAPH_EDGE_LIMIT``
distinct edges (the gate the closure operators already use),
``pagerank`` and ``personalized_pagerank`` collect the edge list once
and replay the same rounds on the driver, bit-identical to the
distributed loop (``_solve_on_driver``). There every round is a
few milliseconds of arithmetic, against several Spark jobs,
checkpoints and schedule syncs in the loop.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Context, Decimal

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from crawler_spark.operators.dedup import SMALL_GRAPH_EDGE_LIMIT


def _exact_sum(c: Column | str) -> Column:
    """Order-independent float reduction: each double is cast to
    DECIMAL(38,18) (a deterministic per-row rounding), summed EXACTLY
    (decimal addition is associative — partial-aggregation combine
    order cannot move the total), and cast back to double once. The
    registry's money-math rule applied to the iterative walks: with
    every per-round reduction exact, PageRank/HITS/PPR ranks are
    bit-reproducible on ANY partitioning and cluster size — which is
    what lets graph_influence_ppr carry a pinned value oracle at data
    scale. The truncation at 1e-18 per term is the documented,
    deterministic price (ranks are probabilities ≤ 1; DECIMAL(38,18)
    leaves 20 integer digits — no overflow for any real graph).
    PRECONDITION: each term's magnitude must stay within the 20
    integer digits DECIMAL(38,18) leaves (|term| ≲ 1 everywhere this
    is used: probabilities, unit-vector components, L1 deltas of
    normalized frames — and caller-supplied weights are pre-scaled
    to this range with plain double sums BEFORE entering the decimal
    path, see pagerank's init_ranks handling). A larger value
    overflows the cast, which under ``spark.sql.ansi.enabled``
    (PySpark 4's default; pinned in session.get_spark — a session
    built elsewhere, e.g. the external driver's, carries its own
    setting) raises ArithmeticException: the precondition fails LOUD.
    On a non-ANSI session the overflow would instead become a silently
    skipped NULL term, which is why no unbounded value may reach this
    function on ANY code path rather than relying on the conf to
    catch it. HITS's intra-stretch
    half-step sums are bounded only by λ₁^check_every and therefore
    deliberately use plain double sums (see _normalize).
    NULL-preserving like ``F.sum``."""
    col = F.col(c) if isinstance(c, str) else c
    return F.sum(col.cast("decimal(38,18)")).cast("double")


# _exact_sum replayed on the driver: each DECIMAL(38,18) term as an
# exact integer count of 1e-18
_UNITS = 10 ** 18
_Q18 = Decimal("1e-18")
_DEC38 = Context(prec=38, rounding=ROUND_HALF_UP)


def _decimal_units(spark, xs) -> list[int]:
    """Spark's ``CAST(x AS DECIMAL(38,18))`` of each double in ``xs``,
    as an integer count of 1e-18: the terms ``_exact_sum`` adds. Their
    integer sum divided by ``_UNITS`` (Python's int/int division is
    correctly rounded, and so is Spark's decimal-to-double cast)
    replays ``_exact_sum`` bit for bit.

    Spark turns a double into a decimal through the JVM's
    ``Double.toString`` and then rounds HALF_UP. The digits must come
    from that same method: on JDK 17 it is not always the shortest
    form Python's ``repr`` prints (2.82879384806159e17 becomes
    2.82879384806159008E17). So the doubles cross to the driver JVM as
    one byte array and their strings come back as one
    ``Arrays.toString`` — a few Py4J calls, no Spark job. Locked
    against Spark's cast by tests/test_graph.py."""
    if len(xs) == 0:
        return []
    sc = spark.sparkContext
    arr = sc._gateway.new_array(sc._jvm.double, len(xs))
    sc._jvm.java.nio.ByteBuffer.wrap(
        np.asarray(xs, dtype=">f8").tobytes()
    ).asDoubleBuffer().get(arr)
    text = sc._jvm.java.util.Arrays.toString(arr)
    return [
        int(_DEC38.quantize(Decimal(s), _Q18).scaleb(18, _DEC38))
        for s in text[1:-1].split(", ")
    ]


def _rank_update(in_mass, dmass, damping: float, n: int | None, p):
    """One round's new rank from the in-link mass ``in_mass`` and the
    dangling mass ``dmass`` (None when no node is dangling). ``p`` is
    the per-node teleport probability, or None for the uniform 1/n.
    Written once for Spark Columns and numpy arrays alike, so both
    paths apply the same IEEE double operations in the same order."""
    if p is None:
        inner = in_mass if dmass is None else in_mass + dmass / n
        return (1.0 - damping) / n + damping * inner
    inner = in_mass if dmass is None else in_mass + dmass * p
    return (1.0 - damping) * p + damping * inner


def _solve_on_driver(
    pdf: pd.DataFrame,
    nodes: DataFrame,
    seed_ids: DataFrame | None,
    damping: float,
    iterations: int,
    tol: float,
    check_every: int,
) -> tuple[DataFrame, int]:
    """``_distributed_loop`` replayed on the driver over ``pdf``, the
    collected distinct (src, dst) edges: the small-graph path. Every
    reduction is ``_exact_sum``'s — each term quantized
    by ``_decimal_units``, summed as integers, cast back once — and
    the rest of a round is ``_rank_update``, so ranks and the
    iteration count are bit-identical to the distributed path (locked
    by tests/test_graph.py). A node's term ``rank/deg`` is the same on
    every out-edge, so it is quantized once per node and summed per
    destination with ``np.add.reduceat``; the total mass is ≤ 1, far
    inside int64. The delta check keeps the loop's cadence: every
    ``check_every`` rounds, never on the final round.

    Spark work besides the caller's edge collect: for PPR one collect
    of at most n + 1 distinct seeds (n = node count); only when there
    are more seeds than nodes, the seeds that are nodes are selected
    in Spark instead. The output is a local frame built from the
    result. Returns (unrounded (id, rank), rounds run).
    """
    spark = nodes.sparkSession
    codes, ids = pd.factorize(
        pd.concat([pdf["src"], pdf["dst"]], ignore_index=True))
    m, n = len(pdf), len(ids)
    src, dst = codes[:m], codes[m:]
    schema = StructType([
        StructField("id", nodes.schema["id"].dataType),
        StructField("rank", DoubleType()),
    ])

    def result(rank, rounds: int) -> tuple[DataFrame, int]:
        out = pd.DataFrame({"id": ids, "rank": rank})
        return spark.createDataFrame(out, schema), rounds

    if n == 0:
        return result(np.zeros(0), 0)
    if seed_ids is None:
        p = None
        rank = np.full(n, 1.0 / n)
    else:
        in_graph = seed_ids.limit(n + 1).toPandas()["id"]
        if len(in_graph) > n:
            in_graph = nodes.join(seed_ids, "id", "semi").toPandas()["id"]
        is_seed = np.asarray(ids.isin(in_graph))
        s = int(is_seed.sum())
        if s == 0:
            return result(np.zeros(n), 0)
        p = np.where(is_seed, 1.0 / s, 0.0)
        rank = p

    deg = np.bincount(src, minlength=n)
    has_out = np.flatnonzero(deg)
    dangling = np.flatnonzero(deg == 0)
    by_dst = np.argsort(dst, kind="stable")
    in_src = src[by_dst]
    targets, starts = np.unique(dst[by_dst], return_index=True)

    def one_round(r):
        c = np.zeros(n, dtype=np.int64)
        c[has_out] = _decimal_units(spark, r[has_out] / deg[has_out])
        in_mass = np.zeros(n)
        in_mass[targets] = [
            int(u) / _UNITS for u in np.add.reduceat(c[in_src], starts)
        ]
        dmass = (
            sum(_decimal_units(spark, r[dangling])) / _UNITS
            if len(dangling) else None
        )
        return _rank_update(in_mass, dmass, damping, n, p)

    rounds = 0
    while rounds < iterations:
        prev, rank = rank, one_round(rank)
        rounds += 1
        if tol > 0 and rounds < iterations and rounds % check_every == 0:
            delta = sum(_decimal_units(spark, np.abs(rank - prev))) / _UNITS
            if delta < tol:
                break
    return result(rank, rounds)


def _distributed_loop(
    e: DataFrame,
    n_edges: int,
    frame: DataFrame,
    ranks: DataFrame,
    damping: float,
    n: int | None,
    p: Column | None,
    iterations: int,
    tol: float,
    check_every: int,
) -> tuple[DataFrame, int]:
    """The distributed power iteration shared by ``pagerank`` and
    ``personalized_pagerank``: ``frame`` is the checkpointed node
    frame (``id``, plus the teleport column ``p`` for PPR), ``ranks``
    the starting (id, rank) frame. Returns (unrounded ranks, rounds
    run)."""
    # Round-12 loop restructure (guide §2.4 — remove per-round
    # recomputation): degrees are joined into the edge list ONCE and
    # checkpointed, instead of re-aggregating out_deg from e inside
    # every iteration's contribs subtree AND its dangling anti-join;
    # the dangling-node set is likewise computed once — when it is
    # empty (e.g. any symmetrized graph) the per-round dangling-mass
    # aggregate + broadcast disappear entirely (dmass is exactly 0.0
    # either way, so ranks are bit-identical).
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ed = e.join(out_deg, "src").localCheckpoint(eager=True)
    dang_ids = (
        frame.select("id")
        .join(out_deg, F.col("id") == out_deg.src, "left_anti")
        .localCheckpoint(eager=True)
    )
    n_dang = dang_ids.count()
    iters_run = 0
    # loop shuffles carry node/edge-cardinality frames of two narrow
    # columns: size them to the measured edge count, not a constant
    # (guide §2 — scale-adaptive; decimal-exact sums keep every rank
    # bit-identical under ANY partitioning, so this is value-free)
    from crawler_spark.session import loop_conf

    spark = e.sparkSession
    # shrunk-regime decision + conf save/restore centralized in
    # session.loop_conf (round 13 — see its docstring for the regime
    # rationale and the single-threaded-session assumption)
    with loop_conf(spark, n_edges) as (_loop_parts, shrunk):

        def one_round(r: DataFrame) -> DataFrame:
            contribs = (
                ed.join(r.withColumnRenamed("id", "src"), "src")
                .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
                .groupBy("dst")
                .agg(_exact_sum("c").alias("in_mass"))
            )
            joined = frame.join(contribs, frame.id == contribs.dst, "left")
            in_mass = F.coalesce(F.col("in_mass"), F.lit(0.0))
            if not n_dang:
                return joined.select("id", _rank_update(
                    in_mass, None, damping, n, p).alias("rank"))
            # dangling mass stays IN the plan as a broadcast 1-row
            # frame — a driver-side .first() here would add a
            # synchronizing job per iteration; the semi-join against
            # the precomputed dangling set selects exactly the rows
            # the old per-round anti-join did
            dang = (
                r.join(dang_ids, "id", "semi")
                .agg(F.coalesce(_exact_sum("rank"), F.lit(0.0))
                     .alias("dmass"))
            )
            return joined.crossJoin(F.broadcast(dang)).select(
                "id", _rank_update(
                    in_mass, F.col("dmass"), damping, n, p).alias("rank"))

        # a SHRUNK loop composes 2 rounds lazily per eager checkpoint
        # (the canonical_closure stretch trade, round 13): the
        # checkpoint+schedule sync dominates a tiny round, and the
        # composed plan is exactly the sequential arithmetic — ONLY
        # when the tol check is provably dead for this run (tol<=0, or
        # check_every >= iterations which the skip-final-round rule
        # already disables — the fixture callers' configuration), so
        # the delta-check cadence and early-exit semantics of
        # tol-driven callers are untouched. Full-scale loops keep
        # stretch 1: there each round is a real shuffle pass.
        stretch = (
            2 if shrunk and (tol <= 0 or check_every >= iterations) else 1
        )
        while iters_run < iterations:
            prev = ranks
            steps = min(stretch, iterations - iters_run)
            new_ranks = ranks
            for _ in range(steps):
                new_ranks = one_round(new_ranks)
            ranks = new_ranks.localCheckpoint(eager=True)
            iters_run += steps
            # no delta on the FINAL round: the loop ends either way,
            # so the check's only effect would be one wasted
            # synchronizing join job (round-12)
            if tol > 0 and iters_run < iterations and (
                iters_run % check_every == 0
            ):
                delta = (
                    ranks.join(
                        prev.withColumnRenamed("rank", "prev_rank"), "id")
                    .agg(_exact_sum(
                        F.abs(F.col("rank") - F.col("prev_rank")))
                        .alias("d"))
                    .first()["d"]
                )
                if delta is not None and delta < tol:
                    break
    return ranks, iters_run


def _link_ranks(
    edges: DataFrame,
    seeds: DataFrame | None,
    damping: float,
    iterations: int,
    src_col: str,
    dst_col: str,
    tol: float,
    stats: dict | None,
    check_every: int,
    init_ranks: DataFrame | None = None,
) -> DataFrame:
    """Unrounded (id, rank) of ``pagerank`` (``seeds`` None) or
    ``personalized_pagerank``: collapse the edges, then take the
    driver path when the distinct edge count is at or below
    ``SMALL_GRAPH_EDGE_LIMIT`` and no warm start is given (the
    ``init_ranks`` pre-scale is an order-dependent double sum, so it
    stays in Spark), else the distributed loop. ``stats`` receives
    ``iterations_run`` and ``path`` ("driver" | "distributed")."""
    # lazy checkpoint: the first action materializes it, running the
    # (possibly heavy) upstream edge projection once; everything after
    # reads the checkpointed two-column frame
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .localCheckpoint(eager=False)
    )
    # the gate is one bounded collect: a small graph's whole edge list,
    # or one row past the limit, which sends it down the Spark loop.
    # The dup-closure limit holds here too — measured at 100k edges on
    # 2 cores (tools/bench_link_gate.py): driver path 2.7 s against
    # 11.6 s distributed for PageRank, 3.0 s against 13.3 s for PPR;
    # a graph above the limit pays ~0.2 s for the wasted collect
    limit = SMALL_GRAPH_EDGE_LIMIT
    pdf = e.limit(limit + 1).toPandas() if init_ranks is None else None
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    seed_ids = None if seeds is None else (
        seeds.select(F.col(seeds.columns[0]).alias("id")).distinct())
    check_every = max(1, int(check_every))
    if pdf is not None and len(pdf) <= limit:
        path = "driver"
        ranks, iters_run = _solve_on_driver(
            pdf, nodes, seed_ids, damping, iterations, tol, check_every)
    elif seed_ids is None:
        path = "distributed"
        ranks, iters_run = _pagerank_distributed(
            e, e.count(), nodes, damping, iterations, tol, check_every,
            init_ranks)
    else:
        path = "distributed"
        ranks, iters_run = _ppr_distributed(
            e, e.count(), nodes, seed_ids, damping, iterations, tol,
            check_every)
    if stats is not None:
        stats["iterations_run"] = iters_run
        stats["path"] = path
    return ranks


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 10,
    src_col: str = "src",
    dst_col: str = "dst",
    tol: float = 1e-7,
    stats: dict | None = None,
    init_ranks: DataFrame | None = None,
    check_every: int = 2,
) -> DataFrame:
    """Power-iteration PageRank. ``edges`` rows are directed links;
    duplicate edges are collapsed (a page linking twice votes once,
    matching link-extractor dedup). Dangling nodes (no out-links)
    redistribute their mass uniformly each round — one scalar
    aggregate per iteration — so total rank stays 1 and the result
    matches the standard formulation. Returns (id, rank), ranks
    rounded to 6 decimals (float partial-sum order is partitioning-
    dependent below that).

    ``iterations`` is a CEILING, not a schedule: iteration stops early
    once the L1 delta between consecutive rank vectors drops below
    ``tol`` (set ``tol=0`` to force the fixed count). The delta is
    checked every ``check_every`` rounds — each check is a
    synchronizing driver job, and a one-round overshoot is cheaper
    than a scalar collect per round. NOTE the interaction with the
    skip-final-round rule: the delta is never checked on the LAST
    round (an exit decision there saves nothing), so ``check_every >=
    iterations`` disables the tol early-exit entirely — callers that
    pin ``check_every = iterations`` (the fixture-scale graph queries,
    which provably never converge early at either SF) are choosing
    exactly that. ``tol=1e-7`` is an order below the 6-decimal output
    rounding, so converged-early and fixed-count results are identical
    after rounding. Pass a dict as ``stats`` to receive
    ``{"iterations_run": k, "path": "driver" | "distributed"}`` back
    (observability for the early exit and the small-graph gate; the
    DataFrame itself can't carry them).

    A graph of at most ``SMALL_GRAPH_EDGE_LIMIT`` distinct edges is
    solved on the driver (``_solve_on_driver``): same ranks to the
    last bit, same ``iterations_run``, one edge collect instead of a
    Spark loop. Larger graphs, and warm starts, take the distributed
    loop.

    ``init_ranks`` ((id, rank) frame) WARM-STARTS the iteration — the
    incremental-recrawl path: after a delta of new edges/pages lands,
    seed with the previous converged ranks instead of uniform. The
    power method converges from any probability vector, and a warm
    start near the new fixed point cuts iterations roughly in
    proportion to how small the graph delta is (test-pinned). New
    nodes absent from ``init_ranks`` get uniform mass; the seed is
    renormalized in-plan to sum 1 (one broadcast scalar), so dropped
    nodes can't leak mass. Same fixed point either way — the seed only
    moves the starting point, never the answer.

    ``init_ranks`` accepts ANY non-negative weight scale: seed weights
    are pre-scaled to ≤ 1 with plain double sums BEFORE they reach the
    DECIMAL(38,18)-exact reductions (``_exact_sum``), whose ~1e20
    magnitude precondition must never be exposed to caller data (on a
    non-ANSI session an overflow would be a silently NULL-skipped
    term, not an error). The double pre-scale's 1-ulp order
    sensitivity moves only the starting point — the fixed point, and
    the 6-decimal rounded output, are unchanged. A seed vector summing
    to ≤ 0 falls back to the uniform start.
    """
    return _link_ranks(
        edges, None, damping, iterations, src_col, dst_col, tol, stats,
        check_every, init_ranks,
    ).select("id", F.round("rank", 6).alias("rank"))


def _pagerank_distributed(
    e: DataFrame,
    n_edges: int,
    nodes: DataFrame,
    damping: float,
    iterations: int,
    tol: float,
    check_every: int,
    init_ranks: DataFrame | None,
) -> tuple[DataFrame, int]:
    nodes = nodes.localCheckpoint(eager=True)
    n = nodes.count()
    if n == 0:
        return nodes.select("id", F.lit(0.0).alias("rank")), 0
    if init_ranks is None:
        ranks = nodes.select("id", F.lit(1.0 / n).alias("rank"))
    else:
        # collapse duplicate seed ids (e.g. a union of snapshot
        # outputs) BEFORE the join — a duplicated id would otherwise
        # fan the node row out and carry doubled mass through every
        # iteration's joins with no error. PLAIN DOUBLE sums here, not
        # _exact_sum: caller weights are of UNKNOWN magnitude (raw
        # scores, not probabilities), and _exact_sum's DECIMAL(38,18)
        # precondition must never be exposed to caller data — the
        # double pre-scale bounds everything downstream to ≤ 1. The
        # 1-ulp order sensitivity only moves the STARTING point, never
        # the fixed point (and the 6-decimal output rounding absorbs
        # it); bit-exact reductions resume once values are bounded.
        init_dedup = (
            init_ranks.select(F.col("id"), F.col("rank").alias("r0"))
            .groupBy("id").agg(F.sum("r0").alias("r0"))
        )
        pre_total = init_dedup.agg(F.sum("r0").alias("pt"))
        scaled = (
            init_dedup.crossJoin(F.broadcast(pre_total))
            .select("id", F.when(
                F.col("pt") > 0, F.col("r0") / F.col("pt")
            ).otherwise(F.lit(1.0 / n)).alias("r0"))
        )
        seeded = nodes.join(scaled, "id", "left").select(
            "id", F.coalesce("r0", F.lit(1.0 / n)).alias("r0"))
        total = seeded.agg(_exact_sum("r0").alias("t"))
        # t > 0 guard mirrors the pt guard above: a seed whose
        # IN-GRAPH mass scales to exactly 0 (all weight on ids absent
        # from the graph, or a +inf pre-total collapsing every share
        # to 0.0) must fall back to the uniform start, not divide by
        # zero (ANSI: DIVIDE_BY_ZERO; non-ANSI: all-NULL ranks)
        ranks = (
            seeded.crossJoin(F.broadcast(total))
            .select("id", F.when(
                F.col("t") > 0, F.col("r0") / F.col("t")
            ).otherwise(F.lit(1.0 / n)).alias("rank"))
            .localCheckpoint(eager=True)
        )
    return _distributed_loop(
        e, n_edges, nodes, ranks, damping, n, None, iterations, tol,
        check_every)


def hits(
    edges: DataFrame,
    iterations: int = 20,
    src_col: str = "src",
    dst_col: str = "dst",
    tol: float = 1e-6,
    stats: dict | None = None,
    check_every: int = 4,
) -> DataFrame:
    """HITS hubs/authorities (Kleinberg, JACM 1999) — the second
    classic link-analysis signal beside ``pagerank``: an AUTHORITY is
    pointed at by good hubs, a HUB points at good authorities. For
    crawl prioritization the two disagree usefully: PageRank surfaces
    pages the random surfer lands on, authority scores surface pages
    link-curators vouch for, and hub scores find the index/directory
    pages whose outlinks are worth expanding first.

    Same distributed template as ``pagerank``: per half-iteration one
    equi-join of edges⨝scores plus one groupBy on the other endpoint —
    all shuffles keyed on node id, no driver-side graph state. The L2
    normalization scalar stays IN the plan as a broadcast 1-row frame
    (a ``.first()`` would add a synchronizing job per round); the only
    per-round driver sync is the early-exit delta, same contract as
    ``pagerank`` (``iterations`` is a ceiling, ``tol=0`` forces the
    fixed count, ``stats`` receives ``iterations_run``).

    Per-round cost is ONE materialization job: the round checkpoints
    only the authority frame (the hub half-step stays a lazy
    constant-depth subplan inside it), and normalization — a scalar
    multiple that never changes the DIRECTION the iteration converges
    to — runs on a cadence (every 4th round, plus at exit) instead of
    every half-step, together with the early-exit delta check. A
    4-round unnormalized stretch grows values by at most λ₁(AᵀA)⁴,
    comfortably inside double range for any real link graph. ``tol``
    defaults to 1e-6 because the output rounds to 6 decimals —
    iterating to 1e-7 buys digits the contract throws away.

    Returns (id, hub, authority) rounded to 6 decimals; nodes with no
    out-links have hub 0, no in-links authority 0.
    """
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if nodes.count() == 0:
        return nodes.select(
            "id", F.lit(0.0).alias("hub"), F.lit(0.0).alias("authority")
        )

    def _normalize(df: DataFrame, col: str) -> DataFrame:
        norm = df.agg(
            # plain double sum, NOT _exact_sum: mid-stretch HITS
            # magnitudes are bounded only by lambda_1^check_every (a
            # web graph's lambda_1 can reach ~1e16), and a DECIMAL
            # (38,18) cast OVERFLOWS above 1e20 — under the pinned
            # spark.sql.ansi.enabled (session.py) that's an
            # ArithmeticException killing the job mid-iteration, so
            # the decimal path is simply unusable for unbounded
            # magnitudes (second-review finding, failure mode updated
            # for ANSI fail-fast). Fixture-scale determinism for
            # the crawl_hits pin comes from the 1-partition sequential
            # fold; data-scale bit-reproducibility for HITS would need
            # per-round in-plan normalization, documented as the
            # at-scale swap in SCALING.md.
            F.sqrt(F.coalesce(F.sum(F.col(col) * F.col(col)), F.lit(0.0)))
            .alias("nrm")
        )
        return (
            df.crossJoin(F.broadcast(norm))
            .select(
                "id",
                F.when(F.col("nrm") > 0, F.col(col) / F.col("nrm"))
                .otherwise(F.lit(0.0))
                .alias(col),
            )
        )

    def _hub_of(auth_df: DataFrame) -> DataFrame:
        return nodes.join(
            e.join(auth_df.withColumnRenamed("id", "dst"), "dst")
            .groupBy("src")
            .agg(F.sum("authority").alias("hub")),  # unbounded: _normalize
            nodes.id == F.col("src"),
            "left",
        ).select("id", F.coalesce("hub", F.lit(0.0)).alias("hub"))

    def _auth_of(hub_df: DataFrame) -> DataFrame:
        return nodes.join(
            e.join(hub_df.withColumnRenamed("id", "src"), "src")
            .groupBy("dst")
            .agg(F.sum("hub").alias("authority")),  # unbounded: _normalize
            nodes.id == F.col("dst"),
            "left",
        ).select("id", F.coalesce("authority", F.lit(0.0)).alias("authority"))

    # UNROLLED power iteration: compose `check_every` full rounds (each
    # = both half-steps) LAZILY and materialize the whole stretch as
    # ONE job — 16 rounds cost 4 checkpoint jobs, not 16. The plan for
    # a stretch is linear in check_every (2·check_every join+agg
    # pairs), well inside Catalyst's comfort zone, and normalization/
    # delta run once per stretch on the already-materialized frame.
    # ``check_every`` trades driver-sync count against unnormalized
    # growth (λ₁(AᵀA)^check_every between renormalizations — 8 is still
    # comfortably inside double range for real link graphs) and exit
    # granularity (converged work overshoots by < one stretch; the
    # fixed point, hence the rounded output, is unchanged). Tiny
    # fixture graphs pass a wider stretch because per-job scheduling
    # dwarfs their compute; corpus-scale graphs keep the default.
    check_every = max(1, int(check_every))
    auth = nodes.select("id", F.lit(1.0).alias("authority"))
    prev_norm: DataFrame | None = None
    iters_run = 0
    converged = False
    while iters_run < iterations and not converged:
        steps = min(check_every, iterations - iters_run)
        for _ in range(steps):
            auth = _auth_of(_hub_of(auth))
        iters_run += steps
        auth = auth.localCheckpoint(eager=True)
        # always renormalize at the stretch boundary (bounds magnitudes
        # at λ₁^check_every between checkpoints even when tol=0 forces
        # the fixed count); the delta sync is the only tol-gated part
        norm = _normalize(auth, "authority").localCheckpoint(eager=True)
        if tol > 0:
            if prev_norm is not None:
                delta = (
                    norm.join(
                        prev_norm.withColumnRenamed("authority", "pa"), "id")
                    .agg(_exact_sum(
                        F.abs(F.col("authority") - F.col("pa"))).alias("d"))
                    .first()["d"]
                )
                converged = delta is not None and delta < tol
            prev_norm = norm
        auth = norm
    if stats is not None:
        stats["iterations_run"] = iters_run
    final_auth = _normalize(auth, "authority").localCheckpoint(eager=True)
    final_hub = _normalize(_hub_of(final_auth), "hub")
    return (
        final_hub.join(final_auth, "id")
        .select(
            "id",
            F.round("hub", 6).alias("hub"),
            F.round("authority", 6).alias("authority"),
        )
    )


def cooccurrence_edges(
    df: DataFrame,
    id_col: str,
    bucket_cols: list[str],
    cap: int = 8,
) -> DataFrame:
    """Undirected co-occurrence edges: two ids are connected when they
    share at least one bucket (same event type + time slice, same
    session, same LSH bucket, ...). The bipartite-projection primitive
    behind co-visitation graphs, collusion/bot-ring detection, and
    related-item mining.

    The projection is inherently quadratic PER BUCKET, so the operator
    carries its scale knob in the plan: each bucket keeps at most
    ``cap`` members, chosen deterministically by md5 of the id (a
    seeded uniform sample that any engine reproduces bit-for-bit —
    same trick as the deterministic samplers in queries_mlprep). Pair
    fan-out is then bounded by cap²/2 per bucket, so edge volume grows
    linearly with the number of buckets, never quadratically with
    bucket membership — the same cap-the-hot-key move as
    ``ngram_jaccard_pairs(cap=...)``.

    One shuffle keyed on the bucket (the cap window — the groupBy that
    follows is keyed identically and reuses its partitioning, guide
    §2.4), one on the edge (the distinct). Pair expansion happens
    INSIDE the bucket row: the ≤cap member ids are collected (bounded
    by the cap, so the aggregation buffer can never blow up on a hot
    bucket — the window above already absorbed the skew with spilling)
    and the ≤cap·(cap−1)/2 pairs are generated by a higher-order
    array expression in whole-stage codegen. Round 12 replaced the
    former per-bucket SELF-JOIN with this: the join re-shuffled and
    sorted the capped table twice to produce the same ≤28 rows per
    bucket (guide §3 — don't join when an array expression already
    has both sides). Emits each undirected edge once as (u, v), u < v.
    """
    b = df.select(F.col(id_col).alias("id"), *bucket_cols).distinct()
    w = Window.partitionBy(*bucket_cols).orderBy(
        F.md5(F.col("id").cast("string"))
    )
    capped = (
        b.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= cap)
        .drop("rn")
    )
    members = capped.groupBy(*bucket_cols).agg(
        F.collect_list("id").alias("ids")  # ≤ cap ids by construction
    )
    pairs = members.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ids",
                    lambda x, i: F.transform(
                        # elements strictly after position i (1-based
                        # slice start i+2); size("ids") as the length
                        # overshoots safely — slice returns what
                        # exists — and keeps the expansion complete
                        # even if the upstream cap window is ever
                        # changed (round-13 ADVICE: don't couple the
                        # slice bound to the window invariant)
                        F.slice("ids", i + F.lit(2), F.size("ids")),
                        lambda y: F.struct(
                            F.least(x, y).alias("u"),
                            F.greatest(x, y).alias("v"),
                        ),
                    ),
                )
            )
        ).alias("e")
    )
    return pairs.select("e.u", "e.v").distinct()


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Global triangle census of an undirected graph given as distinct
    (u, v) edges with u < v: one row of node count, edge count, wedge
    (length-2 path) count, triangle count, and the global clustering
    coefficient 3·triangles/wedges — the graph-health card for a
    co-occurrence or link graph (clustering near the random-graph
    expectation ⇒ organic; far above ⇒ cliquey bot rings / mirror
    farms).

    Scale shape is the degree-ordered orientation of Suri &
    Vassilvitskii (WWW'11): orient every edge from its lower-(degree,
    id) endpoint to the higher one, self-join oriented edges on the
    source to enumerate wedges, then semi-join the wedge's (v, w)
    endpoint pair against the oriented edge set. Orientation caps
    out-degree at O(√m) on any graph, so the wedge join materializes
    O(m^{3/2}) rows instead of Σdeg² — on a skewed graph the hot hub
    contributes its degree only as IN-links, never as a wedge fan-out.
    The count is orientation-invariant, so a plain SQL engine can
    verify it with the naive id-ordered 3-way join.

    Wedge count for the coefficient is Σdeg(v)·(deg(v)−1)/2 over the
    UNDIRECTED degrees (orientation-independent), computed from the
    node-cardinality degree frame — never from the wedge join.
    """
    # materialize the (possibly expensive) caller-supplied edge frame
    # once and the node-cardinality degree frame once: deg feeds BOTH
    # the orientation keys and the final cardinality aggregate, and
    # edges feeds BOTH deg and the orientation join — composed lazily,
    # an edge projection like cooccurrence_edges re-ran once per
    # consumer (round-12, guide §2.4 / §5: cut recomputation, not just
    # shuffles). Checkpointed state is O(m) + O(n) — within the
    # operator's documented O(m^1.5) wedge budget.
    edges = edges.localCheckpoint(eager=False)
    deg = (
        edges.select(F.col("u").alias("id"))
        .unionByName(edges.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=True)
    )
    # total order by (degree, id) as a struct — struct comparison is
    # lexicographic, so this is collision-free for ANY id type
    # (cooccurrence_edges can emit string ids), unlike packing into a
    # long, which silently nulls/collides for string or >=2^31 ids
    key = F.struct(F.col("deg"), F.col("id")).alias("k")
    keyed = deg.select("id", key)
    e = (
        edges.join(keyed.withColumnRenamed("id", "u").withColumnRenamed("k", "ku"), "u")
        .join(keyed.withColumnRenamed("id", "v").withColumnRenamed("k", "kv"), "v")
    )
    # materialize `oriented` ALREADY partitioned (and sorted) by src:
    # a localCheckpoint keeps the physical plan's outputPartitioning/
    # outputOrdering on the LogicalRDD, so the wedge self-join below
    # starts from two co-partitioned, pre-sorted scans of the SAME
    # checkpointed rows — zero Exchange, zero Sort on either side
    # (round 13, guide §2.4/§3: one sort order serving both sides of
    # the self-join; the r12 plan paid 2 Exchange + 2 Sort here).
    # AQE must be OFF while the checkpoint materializes: under an
    # AdaptiveSparkPlan the captured partitioning is
    # UnknownPartitioning and the join re-shuffles both sides
    # (measured round 13) — same single-threaded-session caveat as
    # session.loop_conf. Partition count sized to the measured edge
    # count (scale-adaptive, guide §2): the count scans the
    # just-materialized deg/edges checkpoints, not the raw projection.
    # FLOOR OF 2: repartition(1, src) plans as SinglePartition, not
    # hashpartitioning(src, 1), and a captured SinglePartition does NOT
    # satisfy the self-join's co-partitioning check — both sides
    # re-shuffle to the session default (measured round 13: the whole
    # win silently vanished at fixture scale). Two partitions of a
    # sub-50k-row frame cost nothing; real-scale counts clear the
    # floor anyway. Partition count never changes values here — every
    # downstream op is an aggregate/join on content, not position.
    from crawler_spark.session import loop_shuffle_partitions

    spark = edges.sparkSession
    wedge_parts = max(2, loop_shuffle_partitions(spark, edges.count()))
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    oriented_lazy = e.select(
        F.when(F.col("ku") < F.col("kv"), F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(F.col("ku") < F.col("kv"), F.col("kv")).otherwise(F.col("ku")).alias("dk"),
        F.when(F.col("ku") < F.col("kv"), F.col("v")).otherwise(F.col("u")).alias("dst"),
    )
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        oriented = (
            oriented_lazy.repartition(wedge_parts, "src")
            .sortWithinPartitions("src")
            .localCheckpoint()
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    a, c = oriented.alias("a"), oriented.alias("c")
    wedges = a.join(c, "src").filter(F.col("a.dk") < F.col("c.dk")).select(
        F.col("a.dst").alias("wu"), F.col("c.dst").alias("wv")
    )
    tri = wedges.join(
        oriented.select(F.col("src").alias("wu"), F.col("dst").alias("wv")),
        ["wu", "wv"],
    ).agg(F.count(F.lit(1)).alias("n_triangles"))
    card = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum(F.col("deg")) / 2).cast("long").alias("n_edges"),
        F.sum(F.col("deg") * (F.col("deg") - 1) / 2).cast("long").alias("n_wedges"),
    )
    return (
        card.crossJoin(tri)
        .select(
            "n_nodes", "n_edges", "n_wedges", "n_triangles",
            F.round(
                F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6
            ).alias("clustering"),
        )
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    damping: float = 0.85,
    iterations: int = 10,
    src_col: str = "src",
    dst_col: str = "dst",
    tol: float = 1e-7,
    stats: dict | None = None,
    check_every: int = 2,
) -> DataFrame:
    """Topic-sensitive PageRank (Haveliwala, WWW 2002): the random
    walk teleports to the SEED set instead of uniformly, so rank
    measures proximity/influence relative to the seeds — crawl toward
    pages like these, rank users by influence on this cohort, expand
    a seed list of known-good domains. ``seeds`` is a one-column
    (id) DataFrame; seeds absent from the graph are ignored, and the
    teleport weight is uniform over the surviving seed set. When no
    seed is a node of the graph, every node gets rank 0.0.

    Same distributed loop as ``pagerank`` (one edges⨝ranks join plus
    one groupBy per round, dangling mass as an in-plan broadcast
    scalar, cadenced L1 early exit) with one structural difference:
    the per-node teleport probability is a COLUMN carried on the rank
    frame, not a literal — dangling and teleport mass flow to the
    seeds, so mass conservation holds and unreachable nodes converge
    to exactly 0. Small graphs take the same bit-identical driver path
    as ``pagerank``.

    ``check_every``/``tol``/``stats`` behave exactly as in
    ``pagerank``, including the caveat there: the delta is never
    checked on the final round, so ``check_every >= iterations``
    disables the tol early-exit entirely (deliberate for the
    fixture-scale callers).
    """
    return _link_ranks(
        edges, seeds, damping, iterations, src_col, dst_col, tol, stats,
        check_every,
    ).select("id", F.round("rank", 6).alias("rank"))


def _ppr_distributed(
    e: DataFrame,
    n_edges: int,
    nodes: DataFrame,
    seed_ids: DataFrame,
    damping: float,
    iterations: int,
    tol: float,
    check_every: int,
) -> tuple[DataFrame, int]:
    p = (
        nodes.join(seed_ids.withColumn("is_seed", F.lit(1)), "id", "left")
        .select("id", F.coalesce("is_seed", F.lit(0)).alias("is_seed"))
    )
    n_seeds = p.agg(F.sum("is_seed").alias("s"))
    # s > 0 guard: with no seed in the graph the teleport vector is
    # all 0.0 (ANSI would raise DIVIDE_BY_ZERO on is_seed / 0)
    p = (
        p.crossJoin(F.broadcast(n_seeds))
        .select("id", F.when(
            F.col("s") > 0, F.col("is_seed") / F.col("s")
        ).otherwise(F.lit(0.0)).alias("p"))
        .localCheckpoint(eager=True)
    )
    # no seed in the graph (teleport mass 0.0) or no graph at all
    # (NULL): every rank is 0.0, nothing to iterate
    if not p.agg(F.sum("p")).first()[0]:
        return p.select("id", F.lit(0.0).alias("rank")), 0
    return _distributed_loop(
        e, n_edges, p, p.select("id", F.col("p").alias("rank")), damping,
        None, F.col("p"), iterations, tol, check_every)
