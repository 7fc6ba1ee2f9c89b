"""Graph analytics over data-derived graphs (the oracle-backed side of
the graph family — ``crawl_pagerank``/``crawl_hits`` exercise the
iterative operators on a crawl fixture, these run the non-iterative
graph primitives on a graph PROJECTED from a real table, so the driver
can value-check them end-to-end).

The graph: user co-occurrence from ``events`` — an undirected edge
between two users that acted in the same (event_type, 10-minute slice)
bucket. The bipartite projection behind co-visitation mining and
bot-ring / collusion detection; per-bucket membership is capped
deterministically (md5 order) so pair fan-out is bounded — see
``operators/graph.py:cooccurrence_edges``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawler_spark.operators.graph import cooccurrence_edges, triangle_stats
from crawler_spark.plans.oracle_pins import pin_kwargs as _PINS_KW
from crawler_spark.plans.registry import register
from crawler_spark.sources import load_table

_BUCKET_CAP = 8

# shared CTE: the deterministic capped co-occurrence edge list, written
# once so degree and triangle oracles can't drift apart
_EDGES_SQL = f"""
    b AS (
        SELECT DISTINCT user_id AS id, event_type,
               date_trunc('hour', ts) AS h,
               CAST(floor(minute(ts) / 10) AS BIGINT) AS m10
        FROM events
    ),
    capped AS (
        SELECT id, event_type, h, m10 FROM (
            SELECT *, row_number() OVER (
                PARTITION BY event_type, h, m10
                ORDER BY md5(CAST(id AS VARCHAR))) AS rn
            FROM b)
        WHERE rn <= {_BUCKET_CAP}
    ),
    edges AS (
        SELECT DISTINCT a.id AS u, c.id AS v
        FROM capped a JOIN capped c USING (event_type, h, m10)
        WHERE a.id < c.id
    )
"""


def _event_cooccurrence_edges(ev: DataFrame) -> DataFrame:
    """Undirected co-occurrence edges (u < v) of the events frame."""
    buckets = ev.select(
        "user_id",
        "event_type",
        F.date_trunc("hour", "ts").alias("h"),
        F.floor(F.minute("ts") / 10).alias("m10"),
    )
    return cooccurrence_edges(
        buckets, "user_id", ["event_type", "h", "m10"], cap=_BUCKET_CAP
    )


# --- per-user degree in the co-occurrence graph ---------------------------
@register(
    "graph_cooccur_degree",
    oracle=f"""
        WITH {_EDGES_SQL}
        SELECT id AS user_id, count(*) AS degree
        FROM (SELECT u AS id FROM edges UNION ALL SELECT v FROM edges)
        GROUP BY id
    """,
)
def graph_cooccur_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree of every user in the co-occurrence graph — the first
    screen for bot rings (degree far above the population) and
    isolates (degree 0 users don't appear: they have no edge). Output
    is node-cardinality, never edge-cardinality."""
    edges = _event_cooccurrence_edges(load_table(spark, sf_dir, "events"))
    return (
        edges.select(F.col("u").alias("user_id"))
        .unionByName(edges.select(F.col("v").alias("user_id")))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )


# --- global triangle census ----------------------------------------------
@register(
    "graph_triangle_stats",
    oracle=f"""
        WITH {_EDGES_SQL},
        deg AS (
            SELECT id, count(*) AS deg
            FROM (SELECT u AS id FROM edges UNION ALL SELECT v FROM edges)
            GROUP BY id
        ),
        tri AS (
            SELECT count(*) AS n_triangles
            FROM edges e1
            JOIN edges e2 ON e2.u = e1.v
            JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
        )
        SELECT (SELECT count(*) FROM deg) AS n_nodes,
               (SELECT count(*) FROM edges) AS n_edges,
               (SELECT CAST(sum(deg * (deg - 1) / 2) AS BIGINT) FROM deg)
                   AS n_wedges,
               (SELECT n_triangles FROM tri) AS n_triangles,
               round(3.0 * (SELECT n_triangles FROM tri)
                     / (SELECT CAST(sum(deg * (deg - 1) / 2) AS BIGINT)
                        FROM deg), 6) AS clustering
    """,
)
def graph_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row graph-health card: nodes, edges, wedges, triangles and
    the global clustering coefficient of the co-occurrence graph.
    Spark runs the degree-ordered-orientation census (O(m^1.5) wedge
    materialization, hub fan-out capped at O(sqrt m) — see
    ``operators/graph.py:triangle_stats``); the oracle proves the
    count with the naive id-ordered 3-way self-join, which is exactly
    the orientation-invariance of the triangle total."""
    return triangle_stats(
        _event_cooccurrence_edges(load_table(spark, sf_dir, "events")))


# --- seed-cohort influence via personalized PageRank ----------------------
# iterative link-analysis isn't SQL, but with every per-round
# reduction DECIMAL-exact (operators/graph.py _exact_sum) the walk is
# bit-reproducible on any partitioning — pinned as a VALUES regression
# oracle at the driver's sf0.01 (tools/pin_oracles.py)
@register("graph_influence_ppr", **_PINS_KW("graph_influence_ppr"))
def graph_influence_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Influence of every user RELATIVE to a seed cohort: personalized
    PageRank over the co-occurrence graph, teleporting to the seeds
    (deterministic cohort: every 50th user). The seed-expansion tool —
    rank candidates by proximity to a known-good (or known-bad) set,
    exactly the Haveliwala topic-sensitive walk. Unlike the fixture
    `crawl_pagerank`, this runs the iterative operator at DATA scale:
    the graph is projected from the events table, so iteration joins
    shuffle real edge volume. Not SQL-expressible (iterative);
    value-locked against a NumPy reference in tests/test_graph.py.

    Output keeps the top-100 influencers (rank desc, id tiebreak) —
    the serving shape of a seed-expansion query."""
    from crawler_spark.operators.graph import personalized_pagerank

    ev = load_table(spark, sf_dir, "events")
    und = _event_cooccurrence_edges(ev)
    # the projection emits each undirected edge once (u < v); the walk
    # is directed, so symmetrize before iterating
    edges = und.unionByName(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    seeds = (
        ev.select(F.col("user_id").alias("id"))
        .where(F.col("user_id") % 50 == 0)
        .distinct()
    )
    # check_every=8: measured at sf0.01 AND sf0.1 the walk never
    # early-exits (iterations_run == 8 at both), so the mid-loop delta
    # checks were 3 wasted synchronizing join jobs (round-12; the
    # final-round check is skipped inside the operator as a no-op).
    # Were a scale ever to converge sooner, tol=1e-7 sits an order
    # below the 6-decimal output rounding, so early-exit and
    # fixed-count outputs are identical after rounding by design.
    ranks = personalized_pagerank(
        edges, seeds, src_col="u", dst_col="v", iterations=8, check_every=8
    )
    return ranks.orderBy(F.col("rank").desc(), "id").limit(100)
