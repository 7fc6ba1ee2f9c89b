"""Batch ingest pipeline: frontier → fetch → parse → validate → embed →
pages (SURVEY.md §3.2, re-expressed as one Spark job).

The reference runs this as 6 process/network boundaries (FastAPI →
Redis → Celery worker → Scrapy subprocess → Redis fan-out → per-page
worker → Postgres). Here each boundary is a DataFrame stage inside a
single lazily-planned job; the only Python-side stages are fetch/parse
(mapInPandas — network + HTML parsing) and embedding (pandas UDF —
model call). Everything else is JVM-side expressions.

Per-row errors never fail a stage: they land in the ``error`` column
and are split into a dead-letter DataFrame at the end (the reference's
dead-letter queue, celery_app.py:25-34 → SURVEY.md §2.10 D5).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawler_spark import schemas
from crawler_spark.functions.embedding import StubEmbedder
from crawler_spark.sources.fetch import Fetcher, core_split_frame
from crawler_spark.sources.file_handlers import classify_content_type, extract_pdf_text


def _host(url: str) -> str:
    """ONE host key for politeness grouping and delay tracking alike:
    lowercased hostname, no port/userinfo, so same-host url variants
    share a task and a delay; malformed urls ("http://[") key under ""
    — they dead-letter at fetch instead of crashing the stage."""
    from urllib.parse import urlsplit

    try:
        return (urlsplit(url).hostname or "").lower()
    except ValueError:
        return ""


def _by_host(urls: list[str]) -> list[list[str]]:
    """``urls`` grouped by ``_host``, in first-seen order."""
    groups: dict[str, list[str]] = {}
    for u in urls:
        groups.setdefault(_host(u), []).append(u)
    return list(groups.values())


def fetch_frontier(
    spark: SparkSession,
    fetcher: Fetcher,
    urls: list[str],
    per_host_delay: float = 0.0,
) -> DataFrame:
    """S5: fetch a frontier of urls on the executors.

    The fetcher is pickled into the closure (stub: in-memory dict;
    http: config only) — each partition fetches its slice, so crawl
    concurrency is partition parallelism, the Spark analogue of the
    reference's CONCURRENT_REQUESTS (crawlers/README.md:298-321): the
    frontier splits into one slice per core (``core_split_frame``).

    ``per_host_delay`` > 0 is the DOWNLOAD_DELAY politeness analogue
    (crawlers/README.md:298-321): one host's urls travel as ONE row, so
    they land in one partition (no cross-partition races on the same
    origin), and consecutive fetches to the same host inside the
    partition wait out the delay. Default 0 splits url by url (maximum
    parallelism, the existing behavior).
    """
    import time as _time

    groups = _by_host(urls) if per_host_delay > 0 else [[u] for u in urls]
    frontier = core_split_frame(spark, [(g,) for g in groups], "urls array<string>")

    def do_fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        last_hit: dict[str, float] = {}
        for pdf in batches:
            rows = []
            for url in (u for g in pdf["urls"] for u in g):
                if per_host_delay > 0:
                    host = _host(url)
                    wait = last_hit.get(host, -1e18) + per_host_delay - _time.monotonic()
                    if wait > 0:
                        _time.sleep(wait)
                    last_hit[host] = _time.monotonic()
                ctype, body, err = fetcher.fetch(url)
                rows.append(
                    {"url": url, "content_type": ctype, "body": body, "fetch_error": err}
                )
            yield pd.DataFrame(rows, columns=["url", "content_type", "body", "fetch_error"])

    return frontier.mapInPandas(do_fetch, schema=schemas.FETCHED)


def robots_allowed_map(
    fetcher: Fetcher, urls, user_agent: str = "*", parsers: dict | None = None
) -> dict[str, bool]:
    """url → allowed under its origin's robots.txt, one robots fetch
    per origin (memoized in ``parsers``, which callers may share across
    calls); a missing/unfetchable robots.txt allows everything, like
    Scrapy's default. Plain Python — runs driver-side for small batches
    and inside the distributed stage's partitions."""
    from urllib import robotparser
    from urllib.parse import urlsplit, urlunsplit

    if parsers is None:
        parsers = {}
    out: dict[str, bool] = {}
    for url in urls:
        try:
            parts = urlsplit(url)
        except ValueError:
            # malformed url ("http://["): let it through — the fetch
            # dead-letters it with a real error instead of this check
            # crashing the crawl driver or the whole robots stage
            out[url] = True
            continue
        origin = (parts.scheme, parts.netloc)
        if origin not in parsers:
            robots_url = urlunsplit((parts.scheme, parts.netloc, "/robots.txt", "", ""))
            _, body, err = fetcher.fetch(robots_url)
            if err is not None or body is None:
                parsers[origin] = None
            else:
                rp = robotparser.RobotFileParser()
                rp.parse(body.decode("utf-8", errors="replace").splitlines())
                parsers[origin] = rp
        rp = parsers[origin]
        out[url] = rp is None or rp.can_fetch(user_agent, url)
    return out


def robots_filter(
    spark: SparkSession, fetcher: Fetcher, urls: list[str], user_agent: str = "*"
) -> DataFrame:
    """P8 at scale: (url, allowed) computed ON THE EXECUTORS. Urls
    travel grouped by host, one row per host split one slice per core
    (``core_split_frame``), so each partition resolves each origin's
    robots.txt once (memoized per partition). The r1 implementation fetched
    robots serially on the driver — O(#domains) HTTP round-trips
    through one machine, a real bottleneck on a 100k-url wave over many
    domains. (For small waves the crawl loop calls robots_allowed_map
    directly — a Spark stage per wave isn't worth it under ~1k urls.)"""
    df = core_split_frame(spark, [(g,) for g in _by_host(urls)], "urls array<string>")

    def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict = {}  # per-partition: origins survive across batches
        for pdf in batches:
            batch = [u for g in pdf["urls"] for u in g]
            allowed = robots_allowed_map(fetcher, batch, user_agent, cache)
            yield pd.DataFrame(
                {"url": batch, "allowed": [allowed[u] for u in batch]}
            )

    return df.mapInPandas(check, schema="url string, allowed boolean")


def parse_stage(fetched: DataFrame) -> DataFrame:
    """P5 dispatch + F4-F7 extraction → PAGE_ITEM rows.

    html → stdlib parse (title/meta/content/links); pdf → text extract,
    empty ⇒ error-row (reference drops empty PDFs, file_handler.py:29-32);
    image → metadata row with content=None, embedding_type='vision';
    other/missing content types ⇒ error rows (dead-letter).
    """
    from crawler_spark.functions.html import parse_html

    def _decode_body(body, content_type) -> str:
        """bytes → text honoring the charset the Content-Type header
        declares (review-found: always decoding utf-8 turned e.g. a
        windows-1251 Cyrillic page into replacement-character runs —
        the declared charset was in hand and discarded); unknown or
        missing charsets fall back to utf-8, errors replaced."""
        import codecs

        enc = "utf-8"
        if content_type and "charset=" in content_type:
            cand = (content_type.split("charset=", 1)[1]
                    .split(";")[0].strip().strip("\"'"))
            try:
                codecs.lookup(cand)
                enc = cand
            except LookupError:
                pass
        return bytes(body).decode(enc, errors="replace")

    def do_parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                base = {
                    "url": r.url, "title": None, "meta_description": None,
                    "meta_tags": None, "content": None, "file_type": None,
                    "embedding_type": "text", "links": None, "error": None,
                }
                if r.fetch_error is not None:
                    rows.append({**base, "error": f"fetch: {r.fetch_error}"})
                    continue
                kind = classify_content_type(r.content_type)
                if kind == "html":
                    # None guard like the pdf/text branches: a NULL
                    # body with an html content type (an external fetch
                    # tier violating the body-xor-error convention)
                    # must dead-letter, not TypeError the whole batch
                    if r.body is None:
                        rows.append({**base, "file_type": "html",
                                     "error": "html: empty body"})
                        continue
                    page = parse_html(
                        _decode_body(r.body, r.content_type), base_url=r.url
                    )
                    rows.append({
                        **base, "file_type": "html", "title": page.title,
                        "meta_description": page.meta_description,
                        "meta_tags": page.meta_tags or None,
                        "content": page.content, "links": page.links,
                    })
                elif kind == "pdf":
                    text = extract_pdf_text(bytes(r.body) if r.body is not None else None)
                    if text is None:
                        rows.append({**base, "file_type": "pdf",
                                     "error": "pdf: empty or undecodable text"})
                    else:
                        rows.append({**base, "file_type": "pdf", "content": text})
                elif kind == "image":
                    rows.append({**base, "file_type": "image",
                                 "embedding_type": "vision"})
                elif kind == "text":
                    # plain text: the body IS the content, newlines
                    # preserved (the line-based boilerplate classifier
                    # consumes this tier); no links to extract
                    body = (_decode_body(r.body, r.content_type)
                            if r.body is not None else None)
                    body = body.strip() if body else None
                    if not body:
                        rows.append({**base, "file_type": "text",
                                     "error": "text: empty body"})
                    else:
                        rows.append({**base, "file_type": "text",
                                     "content": body})
                else:
                    rows.append({**base, "error": f"unsupported content type: {r.content_type}"})
            yield pd.DataFrame(rows, columns=[f.name for f in schemas.PAGE_ITEM.fields])

    return fetched.mapInPandas(do_parse, schema=schemas.PAGE_ITEM)


def split_dead_letter(items: DataFrame) -> tuple[DataFrame, DataFrame]:
    """D5: split the error branch off; also apply the reference's
    validity drops (no url; non-image without content —
    tasks.py:66-74) into the dead-letter side."""
    invalid = (
        F.col("error").isNotNull()
        | F.col("url").isNull()
        # null-safe file_type test (review-found): a producer emitting
        # file_type=NULL with content=NULL made the predicate NULL,
        # which BOTH filters drop — the row vanished from ok AND dead
        | (~F.col("file_type").eqNullSafe("image")
           & F.col("content").isNull())
    )
    ok = items.filter(~invalid)
    dead = items.filter(invalid).withColumn(
        "error",
        F.coalesce(
            F.col("error"),
            F.when(F.col("url").isNull(), F.lit("validation: missing url"))
            .otherwise(F.lit("validation: missing content")),
        ),
    )
    return ok, dead


def embed_stage(
    items: DataFrame,
    embedder: StubEmbedder | None = None,
    dims: int = schemas.EMBEDDING_DIMS,
    fetcher: Fetcher | None = None,
    materialized: bool = False,
) -> DataFrame:
    """V8 dispatch: text items embed content, image items embed through
    the vision chain. With a ``fetcher`` the vision chain is the full
    reference path — GET image bytes → base64 (F8, reference
    embeddings.py:29-31) → vision model; without one the stub embeds
    the url directly. The ingest invariant V2∘V3 (normalize +
    truncate/pad — reference tasks.py:79-88) is applied inside the
    Arrow-batched UDFs."""
    from crawler_spark.functions.embedding import text_embed_udf, vision_embed_udf

    text_udf = text_embed_udf(embedder, dims)
    vision_udf = vision_embed_udf(embedder, dims, fetcher)
    # split-apply-union, NOT when/otherwise (review-found): Spark
    # extracts pandas UDFs out of a CASE WHEN and evaluates BOTH
    # branches on EVERY row, so the vision UDF — which with a fetcher
    # HTTP-GETs its url — would re-download the entire text corpus per
    # embed pass (and the text UDF would run on every image row), with
    # the unused results discarded. Splitting scopes each Arrow batch
    # to exactly its rows; NULL embedding_type keeps its old
    # otherwise-branch (text) semantics.
    #
    # Materialize BEFORE splitting (review-found round 11): the two
    # filters each re-execute ``items``' full lineage — for ingest
    # callers that lineage is the live-HTTP fetch mapInPandas, so an
    # unmaterialized input meant every url was FETCHED TWICE, and a
    # refetch that changed content_type between the two executions
    # landed the row in both branches (duplicate) or neither (lost).
    # EAGER localCheckpoint, not cache() (second review pass): a
    # cache() pin lives in the session's CacheManager until an explicit
    # unpersist that no lazy-return API can ever issue, so repeated
    # batch ingests accreted pinned relations for the session's
    # lifetime; a checkpointed RDD is released by the ContextCleaner as
    # soon as the result frame is dropped. Eagerness also closes the
    # same-job double-compute race a lazy pin leaves open. At 100 TB
    # the equivalent is the stage-boundary table write the production
    # notes in finalize_pages/SCALING.md already prescribe. Callers
    # whose input is ALREADY materialized and side-effect-free pass
    # ``materialized=True`` and skip the extra copy.
    if not materialized:
        items = items.localCheckpoint(eager=True)
    is_vision = F.coalesce(
        F.col("embedding_type") == F.lit("vision"), F.lit(False))
    vis = items.filter(is_vision).withColumn(
        "embedding", vision_udf(F.col("url")))
    txt = items.filter(~is_vision).withColumn(
        "embedding", text_udf(F.col("content")))
    return txt.unionByName(vis)


def finalize_pages(
    items: DataFrame,
    flags: DataFrame | None = None,
    extraction_schema: str = "ecommerce",
    extractor=None,
) -> DataFrame:
    """Shape embedded items into the web_pages schema: derive domain
    (F1), stamp last_crawled (F12), serialize meta_tags to JSON (F9),
    and — when the ``structured_data_extraction`` flag is on — run
    structured extraction over the content (F11), exactly where the
    reference does it in its ingest worker (tasks.py:92). Flag off (the
    reference's seeded default) ⇒ structured_data stays NULL.

    F9 note: the reference's ``json.dumps(list(meta_tags))``
    (db.py:35-40) serializes only the KEYS — a reference bug we don't
    replicate; we serialize the full map, '{}' when absent.
    """
    if flags is not None:
        from crawler_spark.plans.jobs import is_feature_enabled

        extraction_on = is_feature_enabled(flags, "structured_data_extraction")
    else:
        extraction_on = False
    if extraction_on:
        from crawler_spark.functions.extraction import extract_udf

        structured = extract_udf(extraction_schema, extractor)(F.col("content"))
    else:
        structured = F.lit(None).cast("string")
    return items.select(
        "url",
        F.parse_url("url", F.lit("HOST")).alias("domain"),
        "title",
        "meta_description",
        "meta_tags",
        F.coalesce(F.to_json("meta_tags"), F.lit("{}")).alias("meta_tags_json"),
        "content",
        "embedding",
        "file_type",
        "embedding_type",
        structured.alias("structured_data"),
        F.current_timestamp().alias("last_crawled"),
    )


def ingest_batch(
    spark: SparkSession,
    fetcher: Fetcher,
    urls: list[str],
    existing_pages: DataFrame | None = None,
    embedder: StubEmbedder | None = None,
    dims: int = schemas.EMBEDDING_DIMS,
    flags: DataFrame | None = None,
    extraction_schema: str = "ecommerce",
    extractor=None,
    fetch_retries: int = 3,
    per_host_delay: float = 0.0,
) -> tuple[DataFrame, DataFrame]:
    """Full batch ingest of a url list.

    Returns (pages, dead_letter): pages = existing merged with the new
    wave keyed by url (S9 upsert semantics), dead_letter = error rows.
    ``flags`` gates structured extraction (D7 + F11, reference
    tasks.py:92) and is consulted once, driver-side, like the
    reference's lru_cached flag read.

    The fetcher gets the reference's D4 retry policy BY DEFAULT
    (Celery autoretry max_retries=3, tasks.py:20-25): transient
    failures re-attempt ``fetch_retries`` times before the row
    dead-letters. ``fetch_retries=0`` opts out.
    """
    from crawler_spark.operators.upsert import merge_by_key
    from crawler_spark.sources.fetch import with_default_retries

    fetcher = with_default_retries(fetcher, fetch_retries)
    fetched = fetch_frontier(spark, fetcher, urls, per_host_delay=per_host_delay)
    items = parse_stage(fetched)
    ok, dead = split_dead_letter(items)
    # the batch fetcher also serves the vision chain's image GET (F8:
    # fetch → base64 → vision model). Safe now that embed_stage scopes
    # the vision UDF to image rows — the former when/otherwise plan
    # evaluated it on EVERY row, which is why this used to hardcode
    # fetcher=None and silently stub-embed image urls instead of
    # running the documented reference path (review-found).
    pages = finalize_pages(
        embed_stage(ok, embedder, dims, fetcher=fetcher),
        flags=flags, extraction_schema=extraction_schema, extractor=extractor,
    )
    if existing_pages is not None:
        pages = merge_by_key(existing_pages, pages, key="url", recency_col="last_crawled")
    return pages, dead.select("url", "error")
