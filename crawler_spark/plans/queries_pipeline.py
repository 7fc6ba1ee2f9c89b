"""Pipeline operators surfaced as rows-only registry queries (not
SQL-expressible: crawl loop, HTML parse UDFs, stub model calls —
SURVEY.md §2.10, §5). The driver records rows-only checks for these;
value-level coverage lives in tests/test_crawl.py, test_ingest.py,
test_streaming.py.

Each runs a deterministic in-memory fixture site through the real
distributed pipeline (same code paths as a cluster crawl; only the
Fetcher is a stub, exactly as the reference's tests mock requests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawler_spark.plans.oracle_pins import pin_kwargs as _PINS_KW
from crawler_spark.plans.registry import register
from crawler_spark.session import scoped_conf, scratch_dir, stream_conf
from crawler_spark.sources.fetch import StubFetcher
from crawler_spark.sources.file_handlers import STUB_PDF_MAGIC


def _sink_name(prefix: str) -> str:
    """A fresh memory-sink name ``<prefix>_a<7 hex>``. The suffix is
    random per construction, and its fixed leading letter keeps it
    recognizably hex: an all-digit suffix (2.3% of bare 8-hex draws)
    would read as a deliberate numeric alias and stay in the canonical
    plan (tools/plan_ledger.py)."""
    import uuid

    return f"{prefix}_a{uuid.uuid4().hex[:7]}"


def _page(title: str, body: str, links: list[str]) -> tuple[str, bytes]:
    anchors = "".join(f'<a href="{l}">x</a>' for l in links)
    return ("text/html",
            f"<title>{title}</title><body>{body} {anchors}</body>".encode())


FIXTURE_SITE = {
    "https://fixture.test/": _page("home", "fast hash join engines", ["/a", "/b"]),
    "https://fixture.test/a": _page("alpha", "sort merge shuffle", ["/b", "/doc.pdf"]),
    "https://fixture.test/b": _page("beta", "vector scan filter", ["/img.png"]),
    "https://fixture.test/doc.pdf": ("application/pdf", STUB_PDF_MAGIC + b"pdf corpus text"),
    "https://fixture.test/img.png": ("image/png", b"\x89PNG fake"),
    "https://fixture.test/bad.bin": ("application/octet-stream", b"\x00"),
}


@register(
    "crawl_ingest_e2e",
    # the crawl loop + parse/embed UDFs aren't SQL, but the fixture is
    # sf-independent so the ENDPOINT is exact constants — pinned here
    # as a VALUES oracle (bad.bin is unreachable from the hub, missing
    # URLs dead-letter; titles exist only for the html tier)
    oracle="""
        SELECT * FROM (VALUES
            ('https://fixture.test/', 'fixture.test', 'home',
             'html', 'text', 64),
            ('https://fixture.test/a', 'fixture.test', 'alpha',
             'html', 'text', 64),
            ('https://fixture.test/b', 'fixture.test', 'beta',
             'html', 'text', 64),
            ('https://fixture.test/doc.pdf', 'fixture.test',
             CAST(NULL AS VARCHAR), 'pdf', 'text', 64),
            ('https://fixture.test/img.png', 'fixture.test',
             CAST(NULL AS VARCHAR), 'image', 'vision', 64)
        ) t(url, domain, title, file_type, embedding_type,
            embedding_dims)
    """,
)
def crawl_ingest_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-2 crawl of the fixture site → full ingest → pages table.
    Deterministic apart from last_crawled, which is dropped here."""
    from crawler_spark.plans.ingest import embed_stage, finalize_pages

    # materialized=True: the fixture crawl items are a collected local
    # relation — nothing to re-execute, nothing to pin
    pages = finalize_pages(
        embed_stage(_fixture_crawl_items(spark), materialized=True))
    return pages.select(
        "url", "domain", "title", "file_type", "embedding_type",
        F.size("embedding").alias("embedding_dims"),
    ).orderBy("url")


@register(
    "ingest_dead_letter",
    # sf-independent fixture endpoint (same rationale as
    # crawl_ingest_e2e): exactly two rejects — the unreachable binary
    # gets the content-type reject, the missing URL the fetch error —
    # pinned as VALUES so the D5 branch is value-verified, not just
    # "ran"
    oracle="""
        SELECT * FROM (VALUES
            ('https://fixture.test/bad.bin',
             'unsupported content type: application/octet-stream'),
            ('https://fixture.test/missing',
             'fetch: 404: not in stub site')
        ) t(url, error) ORDER BY url
    """,
)
def ingest_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows that the pipeline rejects (fetch errors, unsupported types)
    landing in the dead-letter branch instead of failing the job."""
    from crawler_spark.plans.ingest import ingest_batch

    urls = list(FIXTURE_SITE) + ["https://fixture.test/missing"]
    _pages, dead = ingest_batch(spark, StubFetcher(FIXTURE_SITE), urls)
    return dead.orderBy("url")


# pinnable since the band state fn processes each group's trigger rows
# in sorted doc-id order (streaming/neardup_stream.py): the one-trigger
# replay is deterministic on any partitioning, so a VALUES regression
# pin at the driver's sf0.01 cannot flake
@register("streaming_neardup_e2e", **_PINS_KW("streaming_neardup_e2e"))
def streaming_neardup_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table replayed as a stream through the stateful
    SimHash near-dup operator (streaming/neardup_stream.py): one
    micro-batch, per-band keyed state, memory-sink verdicts reduced to
    one row per doc. Production replaces the memory sink with
    foreachBatch → the manifest-committed pages table; this query
    proves the distributed plumbing (Arrow simhash kernel on a stream,
    band explode, applyInPandasWithState sharding, verdict reduce)
    end-to-end on real data."""
    from crawler_spark.sources import load_table
    from crawler_spark.streaming.neardup_stream import (
        reduce_verdicts,
        streaming_neardup_verdicts,
    )

    name = _sink_name("neardup_e2e")
    schema = load_table(spark, sf_dir, "documents").select("doc_id", "text").schema
    # state shards sized to the stream, not the batch default
    with stream_conf(spark):
        # the file-stream source wants a DIRECTORY; sf_dir holds one
        # file per table, so glob-filter the stream to documents.parquet
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir)
            .select("doc_id", "text")
        )
        q = (
            streaming_neardup_verdicts(stream)
            .writeStream.format("memory").queryName(name)
            .outputMode("append")
            .option("checkpointLocation", scratch_dir("neardup_ckpt_"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return (
        reduce_verdicts(spark.table(name))
        # dup_of = -1 for uniques instead of NULL: a nullable BIGINT
        # crosses the oracle's pandas bridge as float64 (NaN), which
        # can never value-hash-match an int64 column — the sentinel
        # keeps the column int64 end-to-end (doc_ids are non-negative)
        .select(
            "doc_id", "is_duplicate",
            F.coalesce(F.col("dup_of"), F.lit(-1)).alias("dup_of"),
        )
        .orderBy("doc_id")
    )


def _dedup_horizon_oracle() -> str:
    from crawler_spark.plans.queries_text import _FP_SQL

    return f"""
        SELECT DISTINCT {_FP_SQL} AS fp FROM documents ORDER BY fp
    """


@register("streaming_dedup_horizon_e2e", oracle=_dedup_horizon_oracle())
def streaming_dedup_horizon_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table replayed as a stream (synthetic event time,
    doc_id minutes past a fixed epoch) through the watermark-evicted
    bounded-horizon dedup (streaming/stateful.py
    streaming_dedup_within_horizon). With the horizon wider than the
    replay's event-time span, semantics equal full-history first-seen
    dedup — which the batch dedup_exact oracle family pins — while the
    plan carries the watermark-evicted state the 100 TB stream needs.

    VALUE-oracled (r9) on the fingerprint SET: exactly one survivor
    per distinct fingerprint, reconstructed in SQL from the documents
    table (the same _FP_SQL fragment the batch dedup family uses). The
    survivor's URL is deliberately NOT in the contract —
    ``dropDuplicatesWithinWatermark`` keeps the first ARRIVAL, which
    is plan/partition-order dependent within a micro-batch; which-copy
    -wins discipline is the batch keep-best family's job."""
    from crawler_spark.sources import load_table
    from crawler_spark.streaming.stateful import (
        streaming_dedup_within_horizon,
    )

    name = _sink_name("dedup_horizon_e2e")
    schema = load_table(spark, sf_dir, "documents").select("doc_id", "text").schema
    with stream_conf(spark):
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir)
            .select(
                F.col("doc_id").cast("string").alias("url"),
                F.col("text").alias("content"),
                (F.to_timestamp(F.lit("2026-01-01 00:00:00"))
                 + F.make_interval(mins=F.col("doc_id"))).alias("fetched_at"),
            )
        )
        q = (
            streaming_dedup_within_horizon(stream, horizon_sec=365 * 86400)
            .writeStream.format("memory").queryName(name)
            .outputMode("append")
            .option("checkpointLocation", scratch_dir("dedup_horizon_ckpt_"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return spark.table(name).select("fp").orderBy("fp")


def _trending_oracle() -> str:
    from crawler_spark.plans.queries_text import _TOKENS_SQL
    from crawler_spark.streaming.event_stream import _TRENDING_STOPWORDS

    stop = ", ".join(repr(s) for s in _TRENDING_STOPWORDS)
    # sliding 1h/30min: every event lands in the two 30-min-aligned
    # windows containing it (both engines' buckets are :00/:30-aligned
    # — Spark's epoch origin and DuckDB's 2000-01-01 origin agree on
    # 30-minute boundaries)
    return f"""
        WITH docs2 AS (
            SELECT TIMESTAMP '2026-01-01 00:00:00'
                       + doc_id * INTERVAL 1 MINUTE AS ts,
                   text
            FROM documents
        ),
        toks AS (
            SELECT ts, unnest(list_distinct({_TOKENS_SQL})) AS token
            FROM docs2
        ),
        wins AS (
            SELECT token, win AS window_start
            FROM (SELECT * FROM toks WHERE token NOT IN ({stop})),
                 unnest([time_bucket(INTERVAL 30 MINUTE, ts),
                         time_bucket(INTERVAL 30 MINUTE, ts)
                             - INTERVAL 30 MINUTE]) t(win)
        ),
        counts AS (
            SELECT window_start, token, count(*) AS n_docs
            FROM wins GROUP BY 1, 2
        ),
        ranked AS (
            SELECT *, row_number() OVER (PARTITION BY window_start
                      ORDER BY n_docs DESC, token) AS rank
            FROM counts
        )
        SELECT window_start, token, n_docs, CAST(rank AS INTEGER) AS rank
        FROM ranked WHERE rank <= 5
        ORDER BY window_start, rank
    """


@register("streaming_trending_e2e", oracle=_trending_oracle())
def streaming_trending_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table replayed as a watermarked stream through the
    trending-tokens operator (streaming/event_stream.py): synthetic
    event-time (doc_id minutes past a fixed epoch — documents carry no
    timestamp), sliding-window token counts in append mode, then the
    batch-side top-k rank over the closed windows. Proves the
    bounded-state windowed-count + sink-side-rank serving shape on
    real data.

    VALUE-oracled (r9): the replay is deterministic and the synthetic
    event-time is a pure function of doc_id, so DuckDB reconstructs
    the sliding-window counts and the per-window rank straight from
    the documents table — window assignment, stopword drop, per-doc
    token dedup, and the closed-window top-k all drive the hash."""
    from crawler_spark.sources import load_table
    from crawler_spark.streaming.event_stream import (
        top_tokens_per_window,
        trending_token_counts,
    )

    name = _sink_name("trending_e2e")
    schema = load_table(spark, sf_dir, "documents").select("doc_id", "text").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .select(
            F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("base"),
            "doc_id", "text",
        )
        .select(
            (F.col("base") + F.make_interval(mins=F.col("doc_id"))).alias("ts"),
            "text",
        )
    )
    counts = trending_token_counts(stream, window="1 hour", slide="30 minutes")
    q = (
        counts.writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", scratch_dir("trend_ckpt_"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return (
        top_tokens_per_window(spark.table(name), k=5)
        .orderBy("window_start", "rank")
    )


# Fixture link graph, crawled ONCE per process (the _PQ_CODEBOOKS
# module-cache pattern, queries_vector.py): crawl_pagerank and
# crawl_hits analyze the SAME deterministic graph, and each fixture
# crawl costs a multi-wave loop of synchronizing jobs — re-crawling per
# query paid ~10% of total suite wall for identical bytes. The fixture
# is a handful of pages, so the cached row list is bounded and tiny.
_FIXTURE_EDGES_CACHE: list | None = None


_FIXTURE_CRAWL_CACHE: tuple | None = None


def _fixture_crawl_items(spark: SparkSession) -> DataFrame:
    """The depth-2 fixture crawl, run AT MOST ONCE per process and
    shared by every consumer (crawl_ingest_e2e, the pagerank/HITS edge
    fixture): the identical crawl used to run twice per full suite —
    once for the e2e query, once for the graph fixture — at ~13 s of
    pure BFS-wave scheduling overhead each (review-found round 11, the
    suite's single largest fixture cost). The crawl's correctness
    coverage is unchanged: this IS the crawl whose endpoint the
    crawl_ingest_e2e oracle pins, plus the dedicated crash/resume and
    politeness tests in tests/test_crawl.py.

    Collected rows + schema are cached (5 fixture pages — bounded by
    construction, the _qc_model_df pattern), so consumers get a fresh
    local relation regardless of session restarts."""
    global _FIXTURE_CRAWL_CACHE
    if _FIXTURE_CRAWL_CACHE is None:
        from crawler_spark.plans.crawl import crawl

        # the crawl's wave joins/distincts are sized to the fixture too
        # (a handful of urls per wave — even 4-partition shuffles are
        # pure scheduling overhead across the BFS's many wave stages;
        # measured 4→1 partitions cuts the one-off fixture crawl by
        # several seconds); the collect below materializes every wave
        # while the setting is in force
        with scoped_conf(spark, {"spark.sql.shuffle.partitions": "1"}):
            items, _dead = crawl(
                spark, StubFetcher(FIXTURE_SITE), ["https://fixture.test/"],
                allowed_domains=["fixture.test"], depth_limit=2,
                obey_robots=True,
            )
            _FIXTURE_CRAWL_CACHE = (items.collect(), items.schema)
    return spark.createDataFrame(*_FIXTURE_CRAWL_CACHE)


def _fixture_edges(spark: SparkSession) -> DataFrame:
    global _FIXTURE_EDGES_CACHE
    if _FIXTURE_EDGES_CACHE is None:
        _FIXTURE_EDGES_CACHE = [
            (r.src, r.dst)
            for r in _fixture_crawl_items(spark).select(
                F.col("url").alias("src"),
                F.explode("links").alias("dst"),
            ).collect()
        ]
    return spark.createDataFrame(
        _FIXTURE_EDGES_CACHE, "src string, dst string"
    )


@register(
    "crawl_pagerank",
    # the power iteration isn't SQL, but the fixture graph is constant
    # and convergence is deterministic (4 partitions, AQE off, rounded
    # 6dp) — the converged vector is pinned as a VALUES oracle; the
    # python-reference equivalence lives in tests/test_graph.py
    oracle="""
        SELECT * FROM (VALUES
            ('https://fixture.test/img.png', 0.310209),
            ('https://fixture.test/b', 0.231091),
            ('https://fixture.test/doc.pdf', 0.182721),
            ('https://fixture.test/a', 0.162174),
            ('https://fixture.test/', 0.113805)
        ) t(id, rank)
    """,
)
def crawl_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the fixture site's link graph (crawl → explode
    links → pagerank): the crawl-prioritization signal, run through
    the real distributed power iteration (operators/graph.py).
    Deterministic fixture, ranks rounded."""
    from crawler_spark.operators.graph import pagerank

    edges = _fixture_edges(spark)
    # no conf regime here: the fixture graph is far below
    # SMALL_GRAPH_EDGE_LIMIT, so pagerank solves it on the driver (one
    # edge collect, sequential sums, a local-relation result), and a
    # larger graph's loop runs under session.loop_conf (one partition
    # and AQE off at fixture scale). check_every=10: the fixture walk
    # runs all 10 rounds (measured, no early exit), so cadenced delta
    # checks would be wasted synchronizing jobs; identical ranks
    # either way — tol sits an order below the 6dp rounding.
    return pagerank(edges, check_every=10).orderBy(
        F.col("rank").desc(), "id")


@register(
    "crawl_hits",
    # same pinning rationale as crawl_pagerank: constant fixture,
    # deterministic fixed point, rounded output (stretch-invariant)
    oracle="""
        SELECT * FROM (VALUES
            ('https://fixture.test/b', 0.0, 0.816497),
            ('https://fixture.test/a', 0.707107, 0.408248),
            ('https://fixture.test/doc.pdf', 0.0, 0.408248),
            ('https://fixture.test/', 0.707107, 0.0),
            ('https://fixture.test/img.png', 0.0, 0.0)
        ) t(id, hub, authority)
    """,
)
def crawl_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities over the same fixture link graph as
    ``crawl_pagerank`` — the second crawl-prioritization signal:
    hub scores surface directory pages whose OUTLINKS are worth
    expanding next, authority scores surface pages curators vouch
    for (operators/graph.py:hits, Kleinberg JACM'99). Deterministic
    fixture, early-exit convergence, scores rounded."""
    from crawler_spark.operators.graph import hits

    edges = _fixture_edges(spark)
    # ONE shuffle partition and AQE off: every iteration stage at the
    # batch default is pure task-scheduling overhead on a handful of
    # nodes, and a single partition makes each per-round sum a
    # SEQUENTIAL fold, so the 6dp VALUES pin does not depend on task
    # combine order. Plus a FIXED single stretch: tol=0 with
    # check_every=iterations composes all 16 rounds lazily and
    # materializes them as ONE job — no per-stretch delta syncs, no
    # intermediate checkpoints. 16 is enough margin past the fixed
    # point at 6dp (the decaying hub component reaches ~5e-7 by round
    # 14 on this graph; the default tol path needed all 20 rounds and 3
    # checkpoint jobs — measured 14.6 s → 7.3 s when the stretch
    # landed; re-measured 7.6 s solo in round 11, figure current). The remaining bench-visible cost
    # above the query itself was the SHARED fixture crawl, which as of
    # round 11 runs once per process for all consumers
    # (_fixture_crawl_items) instead of once for the e2e query plus
    # once for the graph fixture. Corpus-scale graphs keep the
    # defaults: there the per-round work amortizes the syncs and early
    # exit genuinely saves rounds.
    # round-12 (guide §1.2 per-task work AFTER algorithm): profiling
    # showed ~90% of this query's wall was DRIVER-side planning+codegen
    # of the lazily-composed multi-round stretch, execution itself
    # ~0.5 s — whole-stage codegen compiles one enormous fused stage
    # per stretch that then processes five rows. Interpreted mode and
    # a 2×8-round stretch measured 13.2 s → 3.8 s with IDENTICAL
    # 6dp-rounded output (stretch boundaries only move normalization
    # points; the fixed point and rounded scores are unchanged —
    # re-verified against the pinned VALUES oracle). Corpus-scale
    # graphs keep codegen on: there per-row compute dominates and the
    # fused stage pays for itself.
    with scoped_conf(spark, {
        "spark.sql.shuffle.partitions": "1",
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.codegen.wholeStage": "false",
    }):
        return hits(edges, iterations=16, tol=0.0, check_every=8).orderBy(
            F.col("authority").desc(), F.col("hub").desc(), "id"
        )


@register(
    "streaming_index_append_e2e",
    # the probe endpoint is deterministic (seeded hyperplanes, fixed
    # stream replay) but ANN-approximate, so no exact SQL form exists:
    # REGRESSION pin at sf0.01 (tools/pin_oracles.py) — together with
    # the stream-equals-batch lockstep test this makes the endpoint
    # driver-checkable; recall floors live in tests/test_vector
    **_PINS_KW("streaming_index_append_e2e"),
)
def streaming_index_append_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serving-index maintenance loop end-to-end: embeddings replayed
    as a multi-batch file stream, each micro-batch banded with the
    shared hyperplanes and APPENDED into the banded index
    (foreachBatch → operators/similarity.py append_banded_index — the
    continuous-crawl shape: O(batch) per trigger, never a rebuild),
    then the finished index is probed. Because appends only add files
    inside the fixed (band, bucket) layout, the stream-built index is
    equal to a batch build of the same rows (lockstep-tested in
    tests/test_streaming.py); the probe here returning the exact-path
    neighbors proves it on real data."""
    from crawler_spark.operators.similarity import (
        append_banded_index,
        knn_topk_precomputed,
    )
    from crawler_spark.plans.queries_vector import QUERY_VEC
    from crawler_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    src = scratch_dir("idx_stream_src_")
    emb.repartition(2).write.mode("overwrite").parquet(src)
    idx = scratch_dir("idx_stream_out_") + "/banded"

    # two micro-batches exercise the incremental path; per-batch append
    # jobs are tiny, so size the shuffle to the stream
    with stream_conf(spark):
        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda batch, _id: append_banded_index(batch, idx)
            )
            .option("checkpointLocation", scratch_dir("idx_ckpt_"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    top = knn_topk_precomputed(spark, idx, QUERY_VEC, k=5)
    return top.select("vec_id", F.round("distance", 6).alias("distance"))


# Normalized events replay directory, written once per (process,
# sf_dir): the raw events.ts is TIMESTAMP(NANOS) in some testdata
# versions, which readStream's vectorized reader rejects, and
# TIMESTAMP_NTZ micros in others (the sf0.001/0.01/0.1 sets), so the
# stream replays a load_table-normalized multi-file copy (4 files → 4 micro-batches,
# real cross-batch session-state merging).
def _event_replay_dir(spark: SparkSession, sf_dir: str) -> str:
    from crawler_spark.sources import load_table

    def build(path: str) -> None:
        (
            load_table(spark, sf_dir, "events")
            .select("event_id", "ts", "user_id", "event_type",
                    F.col("value").cast("double").alias("value"),
                    F.col("props").cast("string").alias("props"))
            .repartition(4)
            .write.mode("overwrite").parquet(path)
        )

    return scratch_dir("ev_replay_", key=sf_dir, populate=build)


@register(
    "streaming_sessionize_e2e",
    # The replay is deterministic and the widened watermark closes no
    # session early, so the stream's final state equals gap-based
    # sessionization of the whole events table — which SQL expresses
    # with a lag-gap flag + running sum. One semantic detail makes
    # this a REAL oracle of the native operator, not a copy of the
    # batch query's: session_window's end is EXCLUSIVE (an event at
    # exactly start+gap opens a NEW session), so the flag is >= gap
    # where ev_sessionize's batch rewrite uses > gap, and session_end
    # is last_event + gap, not last_event.
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        numbered AS (
            SELECT user_id, ts,
                   SUM(is_new) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS sid
            FROM flagged
        )
        SELECT user_id, min(ts) AS session_start,
               max(ts) + INTERVAL 30 MINUTE AS session_end,
               count(*) AS n_events
        FROM numbered GROUP BY user_id, sid
        ORDER BY user_id, session_start
    """,
)
def streaming_sessionize_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table replayed as a MULTI-batch file stream through
    the native ``session_window`` operator (streaming/event_stream.py
    session_windows — per-open-session state, closed by watermark):
    sessions opened in one micro-batch extend through later batches,
    which is precisely the state-merge semantics the batch lag-gap
    rewrite (``ev_sessionize``) cannot express. Complete-mode memory
    sink, final table returned. Value lockstep vs the batch
    sessionizer — identical (user_id, session_start, n_events) and
    stream end = batch last-event + gap — is pinned in
    tests/test_streaming.py."""

    from crawler_spark.streaming.event_stream import (
        read_event_stream,
        session_windows,
    )

    name = _sink_name("sessionize_e2e")
    stream = read_event_stream(spark, _event_replay_dir(spark, sf_dir))
    # session-state shards sized to the stream
    with stream_conf(spark):
        # the replay's 4 files are round-robin slices, not time slices,
        # so a production-width watermark would drop the "late" half of
        # every later batch — widen it past the dataset's span so the
        # lockstep equality with the batch sessionizer holds exactly
        # (watermark EVICTION semantics are pinned by
        # streaming_dedup_horizon_e2e and the stateful.py tests; this
        # query pins session-state MERGING)
        q = (
            session_windows(stream, watermark="3650 days")
            .writeStream.format("memory")
            .queryName(name).outputMode("complete").start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return spark.table(name).orderBy("user_id", "session_start")


# --- incremental semantic dedup at ingest (round 12) -----------------------
# Stream-source replay dir, corpus-index dir, landed verdict table and
# checkpoint — one memoized scratch_dir each per (process, sf_dir).
@register(
    "streaming_semantic_dedup_e2e",
    # seeded centroids have no SQL closed form — REGRESSION pin at the
    # driver's sf0.01 (tools/pin_oracles.py), same epistemics as
    # dedup_semantic: the pin proves cross-session determinism and no
    # silent drift; semantic recall floors live in tests/test_dedup.py
    # and the batch-lockstep equality in tests/test_streaming.py.
    **_PINS_KW("streaming_semantic_dedup_e2e"),
)
def streaming_semantic_dedup_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup AT INGEST — the streaming form of ``dedup_semantic``
    and the semantic analogue of ``dedup_incremental``: arriving
    embeddings (a 10% id-split of the table) replay as a multi-batch
    parquet file stream; every micro-batch assigns each vector to its
    ``nprobe`` nearest shared IVF centroids, reads ONLY those inverted
    lists of the persisted corpus index (directory-pruned, the same
    physics as an ANN probe), computes exact max cosine against the
    pruned lists, and MERGES the verdict (vec_id, max_cos, is dup)
    idempotently into a bucketed landed table (foreachBatch →
    operators/upsert.py — checkpoint + idempotent merge, the
    exactly-once recipe every streaming tier here shares). The LANDED
    TABLE is the result.

    Verdicts are against the FIXED corpus only (not batch-vs-batch),
    so the result is independent of micro-batch boundaries and arrival
    order — the property that makes it pinnable, and the same contract
    as ``dedup_incremental``'s batch-vs-corpus report. A production
    loop that also appends accepted uniques to the index is the
    ``streaming_index_append_e2e`` pattern composed with this one.

    Scale shape: scoring Common Crawl embeddings as they land — per
    trigger O(batch × probed-list rows), no corpus-scale state, no
    cross-batch shuffle, watermark-free (stateless per vector); the
    batch side BROADCASTS into the pruned-list scan, so the corpus is
    touched only through ``nprobe``/C of its partitions per trigger."""
    from crawler_spark.functions import vector as V
    from crawler_spark.operators.similarity import (
        build_ivf_index,
        top_centroids_udf,
    )
    from crawler_spark.operators.upsert import key_bucket, merge_into_bucketed
    from crawler_spark.plans.queries_vector import _ensure_ivf_centroids
    from crawler_spark.sources import load_table
    from crawler_spark.streaming.ingest_stream import read_pages_table

    THRESHOLD, NPROBE = 0.35, 2
    centroids = _ensure_ivf_centroids(spark, sf_dir)

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    is_arriving = F.col("vec_id") % 10 == 0

    def build_src(path: str) -> None:
        (emb.filter(is_arriving).repartition(3)
         .write.mode("overwrite").parquet(path))

    def build_idx(path: str) -> None:
        build_ivf_index(emb.filter(~is_arriving), path, centroids)

    src = scratch_dir("semdedup_stream_src_", key=sf_dir, populate=build_src)
    idx = scratch_dir("semdedup_corpus_idx_", key=sf_dir, populate=build_idx)
    tbl = scratch_dir("semdedup_stream_tbl_", key=sf_dir)
    ckpt = scratch_dir("semdedup_stream_ckpt_", key=sf_dir)

    _probe_lists = top_centroids_udf(centroids, NPROBE)

    def sink(batch: DataFrame, _id: int) -> None:
        probes = (
            batch.select("vec_id", V.l2_normalize("embedding").alias("vb"))
            .withColumn("list_id", F.explode(_probe_lists("vb")))
        )
        # the probed list ids are bounded by C (=16): a driver-side
        # collect of the distinct set is a scalar frame, and the IN
        # predicate prunes the corpus scan at directory level
        lists = [r[0] for r in probes.select("list_id").distinct().collect()]
        corpus = (spark.read.parquet(idx)
                  .filter(F.col("list_id").isin(lists))
                  .select("list_id", F.col("v").alias("vc")))
        cos = V.dot(F.col("vb"), F.col("vc"))
        best = (
            corpus.join(F.broadcast(probes), "list_id")
            .groupBy("vec_id").agg(F.max(cos).alias("mx"))
        )
        verdicts = (
            batch.select("vec_id").join(best, "vec_id", "left")
            .select(
                "vec_id",
                # -1.0 sentinel: no corpus vector shares a probed list
                # (cannot collide with a real max — normalized cosines
                # here round above it whenever any pair exists)
                F.round(F.coalesce("mx", F.lit(-1.0)), 6).alias("max_cos"),
                F.coalesce(F.col("mx") >= THRESHOLD, F.lit(False))
                 .alias("is_semantic_dup"),
                key_bucket("vec_id", 4).alias("bucket"),
            )
        )
        merge_into_bucketed(spark, tbl, verdicts, key="vec_id")

    # per-batch jobs are tiny — size the shuffle to the stream
    with stream_conf(spark):
        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    landed = read_pages_table(spark, tbl)
    if landed is None:  # an sf with no vec_id % 10 == 0 rows
        return spark.createDataFrame(
            [], "vec_id bigint, max_cos double, is_semantic_dup boolean")
    return (landed.select("vec_id", "max_cos", "is_semantic_dup")
            .orderBy("vec_id"))
