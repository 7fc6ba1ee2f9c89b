"""Interchange-source queries: WARC ingest, sitemap-seeded frontier,
boilerplate stripping, and LLM-as-judge scoring — the front door of a
crawl→corpus pipeline (the reference covers this tier with Scrapy +
Postgres rows, backend/src/crawler.py; here it is batch-shaped for
corpus-scale re-processing).

Each query follows the roundtrip-value-oracle pattern from
``url_normalize_dedup``: the Spark side SERIALIZES real container
bytes (WARC records, sitemap XML, a boilerplate-framed page) from the
documents table, runs the genuine generic parser/classifier over
them, and the DuckDB oracle CONSTRUCTS the expected output
independently — it never sees the parser, so it cannot share its
bugs. The parse plumbing (mapInPandas over blobs) is byte-identical
to what runs over real .warc.gz / sitemap.xml files via
``read_warc_files`` / ``read_sitemap_blobs``.

Scale notes (100 TB):
  * WARC/sitemap parsing is mapInPandas over blobs — one task per
    blob, no shuffle; per-record gzip members keep memory bounded by
    one record (sources/warc.py module docstring has the full
    argument);
  * the build side here (applyInPandas groupBy) exists only to
    synthesize test blobs from parquet — a real ingest reads files,
    which is a scan, not a shuffle;
  * the sitemap frontier anti-join keys on url (high-cardinality,
    uniform — no salt needed) and broadcasts whichever side is small
    under AQE;
  * boilerplate stripping is a pure JVM projection (functions/text
    .strip_boilerplate) — no Python, no shuffle;
  * judge scoring is an Arrow-batched pandas_udf whose real
    deployment points at per-executor inference sidecars
    (functions/judge.py) — data never funnels through the driver.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawler_spark.functions import text as X
from crawler_spark.plans.registry import register
from crawler_spark.session import scratch_dir
from crawler_spark.sources import load_table

# url synthesized per doc — same convention both engines render
_URL_SQL = (
    "'https://' || source || '.example.com/doc/' || CAST(doc_id AS VARCHAR)"
)


def _with_url(docs: DataFrame) -> DataFrame:
    return docs.withColumn(
        "url",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/doc/"),
            F.col("doc_id").cast("string"),
        ),
    )


# --- WARC roundtrip -------------------------------------------------------

_WARC_GROUPS = 8  # blobs per run; odd groups serialize as .warc.gz members


@register(
    "source_warc_roundtrip",
    oracle=f"""
        SELECT {_URL_SQL} AS url,
               CAST(200 AS INTEGER) AS http_status,
               'text/plain; charset=utf-8' AS content_type,
               text,
               CAST(strlen(text) AS INTEGER) AS n_bytes
        FROM documents
    """,
)
def source_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → WARC/1.0 response records (half the blobs as
    per-record gzip members, the Common Crawl layout) → the generic
    WARC+HTTP parser (sources/warc.py) → (url, status, content_type,
    text, n_bytes). The oracle reconstructs the expected rows straight
    from the table: any header/payload/gzip-framing bug surfaces as a
    hash mismatch. Dead-letter handling and record-level resync are
    covered by unit tests on crafted garbage (tests/test_sources.py).
    """
    from crawler_spark.sources.warc import (
        build_http_response, build_warc_record, read_warc_blobs,
    )

    docs = _with_url(
        load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    ).withColumn("grp", F.col("doc_id") % _WARC_GROUPS)

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        gz = bool(int(pdf["grp"].iloc[0]) % 2)
        blob = b"".join(
            build_warc_record(
                u, build_http_response(t.encode("utf-8")), gzip_member=gz
            )
            for u, t in zip(pdf["url"], pdf["text"])
        )
        return pd.DataFrame({"blob": [blob]})

    blobs = docs.groupBy("grp").applyInPandas(build, "blob binary")
    recs = read_warc_blobs(blobs)
    return recs.filter(
        F.col("parse_error").isNull() & (F.col("warc_type") == "response")
    ).select(
        "url",
        "http_status",
        "content_type",
        F.decode(F.col("body"), "UTF-8").alias("text"),
        F.length(F.col("body")).cast("int").alias("n_bytes"),
    )


# --- ranged WARC roundtrip --------------------------------------------------
# The on-disk fixture is built once per (process, sf_dir): files are
# what the ranged reader reads, and rebuilding identical bytes per
# invocation would only re-measure the write.
def _warc_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    import os

    def build(path: str) -> None:
        from crawler_spark.sources.warc import (
            build_http_response, build_warc_record,
        )

        docs = _with_url(
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "source", "text")
        ).withColumn("grp", F.col("doc_id") % _WARC_GROUPS)
        # bounded collect: _WARC_GROUPS files' worth of fixture bytes —
        # the fixture BUILD is driver-side by design (a real pipeline
        # reads existing files; only this synthesis step fakes them)
        rows = docs.select("grp", "url", "text").collect()
        by_grp: dict[int, list] = {}
        for r in sorted(rows, key=lambda r: (r.grp, r.url)):
            by_grp.setdefault(int(r.grp), []).append(r)
        for grp, members in by_grp.items():
            gz = bool(grp % 2)
            blob = b"".join(
                build_warc_record(
                    r.url, build_http_response(r.text.encode("utf-8")),
                    gzip_member=gz,
                )
                for r in members
            )
            name = f"seg-{grp:05d}.warc" + (".gz" if gz else "")
            with open(os.path.join(path, name), "wb") as f:
                f.write(blob)

    return scratch_dir("warc_fixture_", key=sf_dir, populate=build)


@register(
    "source_warc_ranged_roundtrip",
    oracle=f"""
        SELECT {_URL_SQL} AS url,
               CAST(200 AS INTEGER) AS http_status,
               'text/plain; charset=utf-8' AS content_type,
               text,
               CAST(strlen(text) AS INTEGER) AS n_bytes
        FROM documents
    """,
)
def source_warc_ranged_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BYTE-RANGE twin of ``source_warc_roundtrip``: the same WARC
    bytes land as real files on disk (half .warc.gz with per-record
    members, half plain .warc), and ``read_warc_files_ranged`` reads
    them through mmap-backed splits small enough that most splits
    start MID-unit — exercising split ownership for BOTH framings
    (gzip member resync and plain frame validation), forward resync,
    and batched emission end-to-end. The oracle is identical to the
    whole-file roundtrip's: any record a split loses or duplicates is
    a row-count/hash mismatch."""
    from crawler_spark.sources.warc import read_warc_files_ranged

    # plain_exact=False ON PURPOSE: this query exists to exercise
    # range splits on BOTH framings — the exactness default would
    # whole-file the plain half and stop testing its split ownership
    recs = read_warc_files_ranged(
        spark, _warc_fixture_dir(spark, sf_dir), split_bytes=64 * 1024,
        plain_exact=False)
    return recs.filter(
        F.col("parse_error").isNull() & (F.col("warc_type") == "response")
    ).select(
        "url",
        "http_status",
        "content_type",
        F.decode(F.col("body"), "UTF-8").alias("text"),
        F.length(F.col("body")).cast("int").alias("n_bytes"),
    )


# --- sitemap-seeded frontier ----------------------------------------------

_LASTMOD_SQL = (
    "'2026-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')"
)


@register(
    "crawl_sitemap_seed",
    oracle=f"""
        SELECT {_URL_SQL} AS url, {_LASTMOD_SQL} AS lastmod
        FROM documents
        WHERE doc_id % 3 <> 0
    """,
)
def crawl_sitemap_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → one sitemaps.org urlset per source domain → the
    namespace-tolerant XML parser (sources/sitemap.py) → anti-join the
    already-crawled set (doc_id % 3 == 0 plays the role of the pages
    table) → the frontier delta a recrawl scheduler feeds into
    plans/crawl.py. Matches the public SitemapSpider behavior the
    reference's Scrapy tier inherits (loc + lastmod extraction,
    crawled-set suppression)."""
    from crawler_spark.sources.sitemap import (
        build_sitemap_xml, frontier_from_sitemaps,
    )

    docs = _with_url(
        load_table(spark, sf_dir, "documents").select("doc_id", "source")
    ).withColumn(
        "lastmod",
        F.concat(
            F.lit("2026-01-"),
            F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0"),
        ),
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        xml = build_sitemap_xml(list(zip(pdf["url"], pdf["lastmod"])))
        return pd.DataFrame({"xml": [xml]})

    blobs = docs.groupBy("source").applyInPandas(build, "xml string")
    crawled = docs.filter(F.col("doc_id") % 3 == 0).select("url")
    return frontier_from_sitemaps(blobs, crawled).select("url", "lastmod")


# --- boilerplate stripping --------------------------------------------------


@register(
    "txt_boilerplate_strip",
    oracle="SELECT doc_id, text AS main_content FROM documents",
)
def txt_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame every document in realistic page chrome — a pipe-separated
    nav bar, an ALL-CAPS promo line, a short cookie prompt, a ©-footer
    — then run the generic line-density classifier
    (functions/text.strip_boilerplate, pure JVM columns). Each chrome
    line is crafted to be caught by a DIFFERENT rule (pipes, caps
    ratio, min length, copyright mark), so the oracle equality
    ``main_content == text`` only holds if all four rules fire and the
    prose rule does NOT — a value oracle over the whole rule set.
    Documents are single prose lines ≥44 chars at every SF
    (TESTDATA.md), safely above the 35-char keep threshold."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    page = F.concat_ws(
        "\n",
        F.lit("HOME | ABOUT | CONTACT | PRODUCTS | BLOG"),
        F.lit("SUBSCRIBE TO OUR NEWSLETTER TODAY AND SAVE BIG"),
        F.col("text"),
        F.lit("Accept cookies?"),
        F.concat(F.lit("© 2026 "), F.col("source"),
                 F.lit(" Media Group — all rights reserved.")),
    )
    return docs.select(
        "doc_id", X.strip_boilerplate(page).alias("main_content")
    )


# --- LLM-as-judge scoring ---------------------------------------------------

_JUDGE_SCORE_SQL = "('0x' || substr(md5(text), 1, 4))::BIGINT % 101"


def _corpus_prose():
    """Fixture prose with PRE-COMPUTED StubJudge verdicts (score =
    md5(text)[:4] % 101, keep >= 30 — functions/judge.py): two keepers,
    one judge-reject, one sitemap-only orphan keeper."""
    return {
        "art1": ("the distributed query engine shuffles partitions "
                 "across the cluster racks"),                    # 54 keep
        "art2": ("columnar scans prune row groups using zone maps "
                 "and bloom filters today"),                     # 92 keep
        "low": ("broadcast joins avoid the shuffle when one side "
                "fits in executor memory"),                      # 21 drop
        "orphan": ("watermark semantics bound the state a streaming "
                   "aggregation must retain"),                   # 59 keep
    }


def _corpus_site() -> dict:
    """Fixture site for the front-door pipeline: an HTML hub linking
    text/plain articles, every article framed in the chrome lines the
    boilerplate rules are built for, one article duplicated verbatim
    at a second URL, one orphan reachable only via the sitemap — which
    is itself served by the site and advertised through robots.txt's
    Sitemap: directive, the standard discovery channel."""
    from crawler_spark.sources.sitemap import build_sitemap_xml

    prose = _corpus_prose()

    def _article(body: str) -> tuple[str, bytes]:
        page = "\n".join([
            "HOME | ABOUT | CONTACT | PRODUCTS | BLOG",
            "SUBSCRIBE TO OUR NEWSLETTER TODAY AND SAVE BIG",
            body,
            "Accept cookies?",
            "© 2026 corpus Media Group — all rights reserved.",
        ])
        return ("text/plain; charset=utf-8", page.encode("utf-8"))

    hub = ('<title>corpus hub</title><body>corpus index '
           '<a href="/a/art1">1</a><a href="/a/art2">2</a>'
           '<a href="/a/dup">d</a><a href="/a/low">l</a></body>')
    sitemap = build_sitemap_xml([
        ("https://corpus.test/", "2026-01-05"),
        ("https://corpus.test/orphan", "2026-01-06"),
        ("https://corpus.test/already", "2026-01-02"),
    ])
    robots = ("User-agent: *\nAllow: /\n"
              "Sitemap: https://corpus.test/sitemap.xml\n")
    return {
        "https://corpus.test/robots.txt": ("text/plain", robots.encode()),
        "https://corpus.test/sitemap.xml": ("application/xml",
                                            sitemap.encode()),
        "https://corpus.test/": ("text/html", hub.encode()),
        "https://corpus.test/a/art1": _article(prose["art1"]),
        "https://corpus.test/a/art2": _article(prose["art2"]),
        "https://corpus.test/a/dup": _article(prose["art1"]),  # exact dup
        "https://corpus.test/a/low": _article(prose["low"]),
        "https://corpus.test/orphan": _article(prose["orphan"]),
        "https://corpus.test/already": _article(prose["art2"]),
    }


# survivors of the fixture pipeline, derived in the oracle from the
# same prose constants + the StubJudge score formula (the fixture is
# sf-independent, so the expected rows are exact constants — the crawl
# loop itself isn't SQL, but its ENDPOINT is value-checkable)
_PIPE_SURVIVORS_SQL = ", ".join(
    f"('{u}', '{_corpus_prose()[k]}')"
    for u, k in [("https://corpus.test/a/art1", "art1"),
                 ("https://corpus.test/a/art2", "art2"),
                 ("https://corpus.test/orphan", "orphan")]
)


@register(
    "pipeline_corpus_e2e",
    oracle=f"""
        SELECT url, text AS main_content,
               CAST({_JUDGE_SCORE_SQL} AS INTEGER) AS score
        FROM (VALUES {_PIPE_SURVIVORS_SQL}) t(url, text)
    """,
)
def pipeline_corpus_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL front-door corpus pipeline as one composition — the
    crawl DAG the reference actually runs (SURVEY §3.2), each stage
    the operator the registry verifies in isolation:

      sitemap seed (sources/sitemap.py) → BFS crawl (plans/crawl.py)
      → text-tier dispatch (plans/ingest.py parse_stage)
      → boilerplate strip (functions/text.py)
      → LLM-judge gate (functions/judge.py)
      → exact dedup (min-url keeper)
      → file-pruned MERGE into a bucketed pages table
        (operators/upsert.py) → read back.

    Deterministic fixture: the sitemap lists the hub, an orphan
    article (reachable ONLY via the sitemap — proves seeding adds
    coverage), and an already-crawled URL (anti-joined away, never
    fetched). The crawl follows hub links to four articles; the judge
    drops the low-scoring one; dedup collapses the verbatim duplicate
    to its lexicographically-first URL; three rows land in the table.
    Value-level lockstep asserts live in tests/test_sources.py."""
    from crawler_spark.functions.judge import judge_udf, parse_judgment
    from crawler_spark.operators.upsert import key_bucket, merge_into_bucketed
    from crawler_spark.plans.crawl import crawl
    from crawler_spark.sources.fetch import StubFetcher
    from crawler_spark.sources.sitemap import (
        discover_sitemaps, fetch_sitemap_blobs, frontier_from_sitemaps,
    )
    from crawler_spark.streaming.ingest_stream import read_pages_table

    site = _corpus_site()
    fetcher = StubFetcher(site)

    # 1. robots.txt Sitemap: discovery → fetch → frontier delta (minus
    # the already-crawled set) — the standard discovery channel, same
    # bounded driver-side shape as the crawl's robots handling
    sitemap_urls = discover_sitemaps(fetcher, ["https://corpus.test"])
    xmls = fetch_sitemap_blobs(fetcher, sitemap_urls)
    blobs = spark.createDataFrame([(x,) for x in xmls], "xml string")
    crawled = spark.createDataFrame(
        [("https://corpus.test/already",)], "url string")
    frontier = frontier_from_sitemaps(blobs, crawled)
    # the seed list is the one bounded driver materialization a crawl
    # always starts from (plans/crawl.py head collect) — a sitemap
    # frontier is ≤50k urls per blob by spec
    seeds = [r.url for r in frontier.collect()]

    # 2-3. BFS crawl + content-type dispatch (text tier keeps newlines)
    items, _dead = crawl(
        spark, fetcher, seeds,
        allowed_domains=["corpus.test"], depth_limit=1, obey_robots=True,
    )
    articles = items.filter(F.col("file_type") == "text").select(
        "url", "content")

    # 4. line-density boilerplate strip (pure JVM columns)
    cleaned = articles.select(
        "url", X.strip_boilerplate(F.col("content")).alias("main_content")
    ).filter(F.length("main_content") > 0)

    # 5. model-judge quality gate (Arrow pandas_udf seam)
    judged = (
        cleaned.withColumn("raw", judge_udf()(F.col("main_content")))
        .withColumn("j", parse_judgment("raw"))
        .filter(F.col("j.verdict") == "keep")
        .select("url", "main_content", F.col("j.score").alias("score"))
    )

    # 6. exact dedup: one keeper per identical cleaned text, min url
    # (one shuffle on the content hash — the same keeper rule as the
    # dedup_exact family)
    keeper = judged.groupBy("main_content").agg(
        F.min("url").alias("url"), F.first("score").alias("score"))

    # 7. MERGE into a bucketed pages table and read the table back —
    # the landed table IS the result. One table dir per process
    # (removed at exit); the merge is idempotent by key, so re-runs
    # converge to the same three rows.
    d = scratch_dir("corpus_pages_", key="fixture")
    batch = keeper.select(
        "url", "main_content", "score", key_bucket("url", 4).alias("bucket"))
    merge_into_bucketed(spark, d, batch, key="url")
    landed = read_pages_table(spark, d)
    return landed.select("url", "main_content", "score").orderBy("url")


@register(
    "curation_llm_judge",
    oracle=f"""
        SELECT doc_id,
               CAST({_JUDGE_SCORE_SQL} AS INTEGER) AS score,
               CASE WHEN {_JUDGE_SCORE_SQL} >= 30
                    THEN 'keep' ELSE 'drop' END AS verdict
        FROM documents
    """,
)
def curation_llm_judge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality gate: every document through the judge
    client seam (functions/judge.py — Arrow-batched pandas_udf, JSON
    reply, from_json parse, failure → NULL struct), emitting (doc_id,
    score, verdict). The deterministic StubJudge derives the score
    from md5(text) alone, so the oracle reproduces it in SQL without
    seeing the client — what is actually verified is the full
    prompt→client→JSON→from_json pipeline shape, the same seam the
    OllamaJudge HTTP path plugs into (transport-injected tests in
    tests/test_model_clients.py)."""
    from crawler_spark.functions.judge import judge_udf, parse_judgment

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    judged = docs.withColumn("raw", judge_udf()(F.col("text"))).withColumn(
        "j", parse_judgment("raw")
    )
    return judged.select(
        "doc_id",
        F.col("j.score").alias("score"),
        F.col("j.verdict").alias("verdict"),
    )


# --- WARC-headed corpus pipeline (the 100-TB front door, end-to-end) -------
@register(
    "pipeline_warc_corpus_e2e",
    oracle=f"""
        SELECT min(url) AS url, text AS main_content, score
        FROM (SELECT {_URL_SQL} AS url, text,
                     CAST({_JUDGE_SCORE_SQL} AS INTEGER) AS score
              FROM documents)
        WHERE score >= 30
        GROUP BY text, score
    """,
)
def pipeline_warc_corpus_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``pipeline_corpus_e2e``'s WARC-headed twin — the ACTUAL 100-TB
    front door proven end-to-end instead of as a parse demo:

      byte-range WARC read (sources/warc.py read_warc_files_ranged,
      mmap splits small enough that most start mid-unit)
      → chrome framing + boilerplate strip (functions/text.py — the
        same four-rule chrome as ``txt_boilerplate_strip``, so the
        strip must reduce each page back to exactly the document text)
      → LLM-judge gate (functions/judge.py, keep >= 30)
      → exact dedup (min-url keeper per cleaned text)
      → file-pruned MERGE into a bucketed pages table
        (operators/upsert.py) → read the landed table back.

    Full-corpus value oracle: DuckDB reconstructs the surviving rows
    straight from the documents table (url convention + the StubJudge
    score formula), so a record lost by a split, a strip rule that
    bites prose, a judge-gate drift or a merge that drops/duplicates
    keys all surface as a hash mismatch. Every stage is the same
    operator the registry verifies in isolation — this row proves the
    COMPOSITION on real on-disk .warc/.warc.gz files."""
    from crawler_spark.functions.judge import judge_udf, parse_judgment
    from crawler_spark.operators.upsert import key_bucket, merge_into_bucketed
    from crawler_spark.sources.warc import read_warc_files_ranged
    from crawler_spark.streaming.ingest_stream import read_pages_table

    # plain_exact=False: the e2e must prove the COMPOSITION over real
    # range splits on both framings, not the whole-file fallback
    recs = read_warc_files_ranged(
        spark, _warc_fixture_dir(spark, sf_dir), split_bytes=64 * 1024,
        plain_exact=False)
    pages = recs.filter(
        F.col("parse_error").isNull() & (F.col("warc_type") == "response")
    ).select("url", F.decode(F.col("body"), "UTF-8").alias("content"))

    page = F.concat_ws(
        "\n",
        F.lit("HOME | ABOUT | CONTACT | PRODUCTS | BLOG"),
        F.lit("SUBSCRIBE TO OUR NEWSLETTER TODAY AND SAVE BIG"),
        F.col("content"),
        F.lit("Accept cookies?"),
        F.lit("© 2026 corpus Media Group — all rights reserved."),
    )
    cleaned = pages.select(
        "url", X.strip_boilerplate(page).alias("main_content")
    ).filter(F.length("main_content") > 0)

    judged = (
        cleaned.withColumn("raw", judge_udf()(F.col("main_content")))
        .withColumn("j", parse_judgment("raw"))
        .filter(F.col("j.verdict") == "keep")
        .select("url", "main_content", F.col("j.score").alias("score"))
    )

    # exact dedup: one keeper per identical cleaned text (score is a
    # pure function of the text, so grouping on both adds no groups)
    keeper = judged.groupBy("main_content", "score").agg(
        F.min("url").alias("url"))

    # MERGE into a bucketed pages table (per-process, per-SF dir —
    # idempotent by key, so re-runs converge) and read the table back:
    # the LANDED table is the result
    d = scratch_dir("warc_corpus_pages_", key=sf_dir)
    batch = keeper.select(
        "url", "main_content", "score", key_bucket("url", 4).alias("bucket"))
    merge_into_bucketed(spark, d, batch, key="url")
    landed = read_pages_table(spark, d)
    return landed.select("url", "main_content", "score")


# --- streaming WARC ingest (continuous-crawl shape) -------------------------

# per-(process, sf) stream state: the pages table and the stream
# checkpoint live together — re-running the query resumes the SAME
# stream (no new files → no batches) and the idempotent merge keeps
# the landed table converged, which is the exactly-once story
@register(
    "streaming_warc_ingest_e2e",
    oracle=f"""
        SELECT {_URL_SQL} AS url, text,
               CAST(strlen(text) AS INTEGER) AS n_bytes
        FROM documents
    """,
)
def streaming_warc_ingest_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous WARC ingest end-to-end — segments LANDING OVER TIME
    instead of a batch backfill: the on-disk fixture segments replay
    as a ``binaryFile`` file stream (two segments per micro-batch —
    round 13 applied guide §2.2's fewer-larger-batches rule after
    profiling put ~95% of each trigger in the fixed commit-protocol
    cost (materialize-merge + clustered write + manifest swap,
    ~1.0-1.5 s/trigger) rather than in per-row work; four incremental
    merges still prove the across-batch idempotent-merge contract the
    query exists for, and a production tail sizes this knob to its
    arrival rate), each batch parses with the generic WARC+HTTP
    parser and MERGES idempotently into a bucketed pages table
    (foreachBatch → operators/upsert.py — checkpoint + idempotent
    merge = the exactly-once recipe every streaming tier here uses),
    and the LANDED TABLE is the result. Unlike the session/window streaming
    queries, the endpoint is deterministic, so this one is fully
    ORACLE-BACKED: a batch lost by the stream, a record lost by the
    parse, or a merge that drops/duplicates keys is a hash mismatch
    against the whole-corpus reconstruction. At 100 TB this is the
    exact shape of tailing a Common Crawl drop as it publishes:
    O(batch) work per trigger, never a rebuild."""
    from crawler_spark.operators.upsert import key_bucket, merge_into_bucketed
    from crawler_spark.session import stream_conf
    from crawler_spark.sources.warc import read_warc_blobs
    from crawler_spark.streaming.ingest_stream import read_pages_table

    src = _warc_fixture_dir(spark, sf_dir)
    tbl = scratch_dir("warc_stream_tbl_", key=sf_dir)
    ckpt = scratch_dir("warc_stream_ckpt_", key=sf_dir)

    def sink(batch: DataFrame, _id: int) -> None:
        recs = read_warc_blobs(batch.select("content"), "content")
        rows = recs.filter(
            F.col("parse_error").isNull() & (F.col("warc_type") == "response")
        ).select(
            "url",
            F.decode(F.col("body"), "UTF-8").alias("text"),
            F.length(F.col("body")).cast("int").alias("n_bytes"),
            key_bucket("url", 4).alias("bucket"),
        )
        merge_into_bucketed(spark, tbl, rows, key="url")

    # per-batch merge jobs are tiny — size the shuffle to the stream
    with stream_conf(spark):
        stream = (
            spark.readStream.format("binaryFile")
            # binaryFile's schema is FIXED by the format, but the file
            # stream source still demands it spelled out
            .schema("path string, modificationTime timestamp, "
                    "length long, content binary")
            .option("pathGlobFilter", "*.warc*")
            .option("maxFilesPerTrigger", 2)
            .load(src)
            # the glob is prefix-loose — same exact-suffix rule as the
            # batch readers (a .warcx decoy must not reach the table)
            .filter(
                F.col("path").endswith(".warc")
                | F.col("path").endswith(".warc.gz")
            )
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
    return landed.select("url", "text", "n_bytes")


# --- WARC export sink (interchange OUT) ------------------------------------


@register(
    "sink_warc_roundtrip",
    oracle=f"""
        SELECT {_URL_SQL} AS url,
               CAST(200 AS INTEGER) AS http_status,
               'text/plain; charset=utf-8' AS content_type,
               text,
               CAST(strlen(text) AS INTEGER) AS n_bytes
        FROM documents
    """,
)
def sink_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXPORT seam proven by its own consumer: documents →
    distributed WARC sink (sources/warc.py write_warc_files — each
    task writes its partition as a segment of per-record gzip
    members) → byte-range read-back through splits small enough that
    most start mid-member → the same full-corpus oracle as
    ``source_warc_roundtrip``. A record the sink drops, duplicates,
    or mis-frames — or that the ranged reader then loses — is a
    row-count/hash mismatch. The manifest collect that runs the
    export is bounded by partition count (8 here)."""
    from crawler_spark.sources.warc import (
        read_warc_files_ranged, write_warc_files,
    )

    docs = _with_url(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "text")
    ).select("url", F.encode("text", "utf-8").alias("body"))

    # a fresh directory per run: no stale segment from an earlier
    # layout can survive into the read-back
    d = scratch_dir("warc_sink_")

    manifest = write_warc_files(docs.repartition(8), d)
    manifest.count()  # run the export (one manifest row per partition)

    recs = read_warc_files_ranged(spark, d, split_bytes=64 * 1024)
    return recs.filter(
        F.col("parse_error").isNull() & (F.col("warc_type") == "response")
    ).select(
        "url",
        "http_status",
        "content_type",
        F.decode(F.col("body"), "UTF-8").alias("text"),
        F.length(F.col("body")).cast("int").alias("n_bytes"),
    )


# --- distributed sitemap discovery sweep -----------------------------------


@register(
    "crawl_sitemap_discovery",
    oracle=f"""
        WITH hosts AS (
            SELECT DISTINCT source || '-' || CAST(doc_id % 50 AS VARCHAR)
                   AS host
            FROM documents
        )
        SELECT 'https://' || host || '.example.com' AS origin,
               'https://' || host || '.example.com/sitemap-'
                   || CAST(n AS VARCHAR) || '.xml' AS sitemap_url
        FROM hosts, (VALUES (1), (2)) t(n)
        WHERE strlen(host) % 3 = 1
    """,
)
def crawl_sitemap_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The at-scale robots.txt ``Sitemap:`` discovery sweep
    (sources/sitemap.py discover_sitemaps_distributed): origins
    split one slice per core, robots fetched ON THE EXECUTORS via a
    per-task fetcher factory, one (origin, sitemap_url) row per
    directive. The fixture derives one origin per (source, doc_id%50)
    from the documents table and serves three deterministic robots
    behaviors by host-length class — missing robots.txt (len%3==0:
    fetch error, contributes nothing), two Sitemap directives
    (len%3==1), robots without directives (len%3==2) — so the oracle
    reconstructs the expected sweep output in pure SQL. The origin
    list is collected ONLY to build the in-memory stub site (bounded:
    <=50 hosts per source); the sweep itself runs distributed over the
    origins DataFrame, the exact shape of a 100k-origin production
    run."""
    from crawler_spark.sources.fetch import StubFetcher
    from crawler_spark.sources.sitemap import discover_sitemaps_distributed

    origins = (
        load_table(spark, sf_dir, "documents")
        .select(
            F.concat(
                F.lit("https://"), F.col("source"), F.lit("-"),
                (F.col("doc_id") % 50).cast("string"),
                F.lit(".example.com"),
            ).alias("origin")
        )
        .distinct()
    )
    # bounded fixture synthesis: the stub site needs the host list
    # driver-side (<=50 per source); a real sweep has no such step
    hosts = [r.origin for r in origins.collect()]
    site: dict[str, tuple[str, bytes]] = {}
    for origin in hosts:
        host = origin[len("https://"):-len(".example.com")]
        mod = len(host) % 3
        if mod == 0:
            continue  # no robots.txt at all
        if mod == 1:
            body = (
                "User-agent: *\nAllow: /\n"
                f"Sitemap: {origin}/sitemap-1.xml\n"
                f"Sitemap: {origin}/sitemap-2.xml\n"
            )
        else:
            body = "User-agent: *\nAllow: /\n"
        site[origin + "/robots.txt"] = ("text/plain", body.encode())

    return discover_sitemaps_distributed(
        spark, None, origins,
        fetcher_factory=lambda: StubFetcher(site),
    ).select("origin", "sitemap_url")
