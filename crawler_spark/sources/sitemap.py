"""Sitemap (sitemaps.org XML) source: seed a crawl frontier from the
urlset/sitemapindex documents sites publish. The reference's Scrapy
tier gets this from SitemapSpider (scrapy/spiders/sitemap.py is the
public behavior being matched: follow <sitemap> indirection, yield
<url><loc> entries); here it is a batch operator — parse sitemap XML
blobs into (url, lastmod) rows, anti-join the already-crawled set,
and the remainder IS the frontier delta (plans/crawl.py consumes it
exactly like any other seed list).

Stdlib ElementTree only, namespace-tolerant (real sitemaps come with
and without the xmlns, and with stray whitespace in <loc>). Malformed
XML dead-letters the whole blob as one error row — a sitemap is a
single logical document, unlike WARC where records fail singly.

Scale: parsing is mapInPandas over blobs (no shuffle; parallel in the
blob count — a big site publishes a sitemapindex of ≤50k-url files,
which is exactly the blob unit). The anti-join against the crawled
set is the frontier dedup from plans/crawl.py: broadcast when the
crawled side is small, shuffle-hash on url otherwise — Spark/AQE
picks per stats, and url is high-cardinality/uniform so there is no
skew to salt.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from collections.abc import Iterator
from xml.sax.saxutils import escape

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SITEMAP_NS = "http://www.sitemaps.org/schemas/sitemap/0.9"

SITEMAP_ROWS_SCHEMA = "url string, lastmod string, parse_error string"


def build_sitemap_xml(entries: list[tuple[str, str | None]]) -> str:
    """Serialize a urlset sitemap (url, lastmod-or-None per entry) —
    fixture builder and the emit side of a recrawl scheduler."""
    parts = [f'<?xml version="1.0" encoding="UTF-8"?>\n'
             f'<urlset xmlns="{SITEMAP_NS}">']
    for url, lastmod in entries:
        # XML-escape values: any query-string URL carries '&', which
        # unescaped would corrupt the document and (since parse_sitemap
        # dead-letters per-blob) silently lose every entry in it.
        parts.append("<url>")
        parts.append(f"<loc>{escape(url)}</loc>")
        if lastmod is not None:
            parts.append(f"<lastmod>{escape(lastmod)}</lastmod>")
        parts.append("</url>")
    parts.append("</urlset>")
    return "".join(parts)


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def parse_sitemap(xml_text: str) -> list[dict]:
    """(url, lastmod, parse_error) rows from one sitemap document.
    Handles urlset and sitemapindex (index entries come back with
    lastmod=None — the caller fetches and re-parses them, the same
    two-level walk SitemapSpider does). Unparseable XML → one
    dead-letter row."""
    try:
        root = ET.fromstring(xml_text)
    except ET.ParseError as exc:
        return [{"url": None, "lastmod": None,
                 "parse_error": f"sitemap XML parse error: {exc}"}]
    return _rows_from_root(root)


def _rows_from_root(root: ET.Element) -> list[dict]:
    rows: list[dict] = []
    for entry in root:
        if _local(entry.tag) not in ("url", "sitemap"):
            continue
        loc, lastmod = None, None
        for child in entry:
            name = _local(child.tag)
            text = (child.text or "").strip() or None
            if name == "loc":
                loc = text
            elif name == "lastmod":
                lastmod = text
        if loc is None:
            rows.append({"url": None, "lastmod": None,
                         "parse_error": "entry without <loc>"})
        else:
            rows.append({"url": loc, "lastmod": lastmod,
                         "parse_error": None})
    return rows


def read_sitemap_blobs(blobs: DataFrame, xml_col: str = "xml") -> DataFrame:
    """One row per sitemap entry from a DataFrame of XML strings —
    mapInPandas, no shuffle, parallel in the blob count."""
    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["url", "lastmod", "parse_error"]
        for pdf in batches:
            rows = [
                r
                for xml_text in pdf[xml_col]
                if xml_text is not None
                for r in parse_sitemap(xml_text)
            ]
            yield pd.DataFrame(rows, columns=cols) if rows else (
                pd.DataFrame({c: [] for c in cols})
            )

    return blobs.mapInPandas(parse, SITEMAP_ROWS_SCHEMA)


def _classify_sitemap(xml_text: str) -> tuple[bool, "ET.Element | None"]:
    """(root is <sitemapindex>, parsed root-or-None) in ONE parse —
    parse_sitemap flattens both document kinds to (url, lastmod) rows,
    so indirection-following needs the root tag itself. Row extraction
    stays LAZY: leaf urlsets (the common case, up to 50k entries) are
    re-parsed distributed by ``read_sitemap_blobs`` anyway, so building
    their row dicts here would be pure waste; only index documents'
    entries are extracted (by the caller, from the returned root).
    Unparseable XML → (False, None): the caller keeps the blob so the
    distributed parse dead-letters it."""
    try:
        root = ET.fromstring(xml_text)
    except ET.ParseError:
        return False, None
    return _local(root.tag) == "sitemapindex", root


def discover_sitemaps(fetcher, origins: list[str]) -> list[str]:
    """Sitemap URLs advertised by each origin's robots.txt — the
    standard discovery channel (sitemaps.org protocol / RFC 9309
    ``Sitemap:`` directives: any position in the file, case-
    insensitive key, trailing ``# comment`` stripped). Parsing is the
    stdlib ``robotparser`` the crawl's robots gate already uses
    (plans/ingest.py) — one grammar, not two. One robots fetch per
    origin; a missing/unfetchable robots.txt or one without directives
    contributes nothing. Order preserved, duplicates dropped.
    Driver-side by design: the origin list is the crawl's seed set
    (bounded); ``discover_sitemaps_distributed`` below is the
    100k-origin sweep (mapInPandas partitioned by host, the
    ``robots_filter`` pattern)."""
    from urllib import robotparser

    out: list[str] = []
    seen: set[str] = set()
    for origin in origins:
        _, body, err = fetcher.fetch(origin.rstrip("/") + "/robots.txt")
        if err is not None or body is None:
            continue
        rp = robotparser.RobotFileParser()
        rp.parse(body.decode("utf-8", errors="replace").splitlines())
        for u in rp.site_maps() or []:
            if u and u not in seen:
                seen.add(u)
                out.append(u)
    return out


def discover_sitemaps_distributed(
    spark, fetcher, origins: DataFrame, origin_col: str = "origin",
    fetcher_factory=None,
) -> DataFrame:
    """The at-scale form of ``discover_sitemaps``: one (origin,
    sitemap_url) row per directive, robots fetched ON THE EXECUTORS
    with the distinct origins collected to the driver (one job, as the
    crawl collects each wave's urls) and split one slice per core, so
    each origin's robots.txt is fetched once — the shape of
    ``plans/ingest.robots_filter``. Origins without a fetchable
    robots.txt or without directives simply contribute no rows (route
    fetch errors through the crawl's dead-letter tier if they must be
    audited).

    Fetcher contract: ``fetcher`` is closure-captured into the task,
    so it must be PICKLABLE AND STATELESS (StubFetcher qualifies; a
    session object holding sockets does not). For real transports
    pass ``fetcher_factory`` instead — a zero-arg callable constructed
    ONCE PER TASK, so connections/pools are created executor-side and
    never pickled."""
    from collections.abc import Iterator as _Iterator
    from urllib import robotparser

    from pyspark.sql import functions as F2

    if (fetcher is None) == (fetcher_factory is None):
        raise ValueError("pass exactly one of fetcher / fetcher_factory")

    def sweep(batches: "_Iterator[pd.DataFrame]") -> "_Iterator[pd.DataFrame]":
        f = fetcher_factory() if fetcher_factory is not None else fetcher
        for pdf in batches:
            rows = []
            for origin in pdf[origin_col]:
                if origin is None:
                    continue
                _, body, err = f.fetch(
                    origin.rstrip("/") + "/robots.txt")
                if err is not None or body is None:
                    continue
                rp = robotparser.RobotFileParser()
                rp.parse(body.decode("utf-8", errors="replace").splitlines())
                rows.extend({"origin": origin, "sitemap_url": u}
                            for u in dict.fromkeys(rp.site_maps() or [])
                            if u)
            yield pd.DataFrame(rows, columns=["origin", "sitemap_url"]) \
                if rows else pd.DataFrame({"origin": [], "sitemap_url": []})

    from crawler_spark.sources.fetch import core_split_frame

    # the work list, like a crawl wave's urls: collected once, then
    # split one slice per core
    work = origins.select(F2.col(origin_col).alias(origin_col)).distinct().collect()
    df = core_split_frame(spark, [tuple(r) for r in work], f"`{origin_col}` string")
    return df.mapInPandas(sweep, "origin string, sitemap_url string")


def fetch_sitemap_blobs(
    fetcher, sitemap_urls: list[str], max_index_depth: int = 1
) -> list[str]:
    """Fetch sitemap documents, following <sitemapindex> indirection
    up to ``max_index_depth`` levels (the two-level walk SitemapSpider
    does — an index's entries are themselves sitemap URLs). Returns
    the leaf urlset XML strings for ``read_sitemap_blobs``/
    ``frontier_from_sitemaps``; fetch failures skip (the crawl's
    retry/dead-letter tier owns transport errors). An index found AT
    the depth cap is SKIPPED, not returned — flattened, its entries
    are sitemap URLs that would leak into the frontier as crawlable
    page URLs (review-found). Bounded: a sitemapindex holds ≤50k
    entries by spec and depth is capped."""
    blobs: list[str] = []
    frontier = list(dict.fromkeys(sitemap_urls))
    for depth in range(max_index_depth + 1):
        next_urls: list[str] = []
        for u in frontier:
            _, body, err = fetcher.fetch(u)
            if err is not None or body is None:
                continue
            xml = body.decode("utf-8", errors="replace")
            is_index, root = _classify_sitemap(xml)
            if is_index and depth < max_index_depth:
                next_urls.extend(
                    r["url"] for r in _rows_from_root(root) if r["url"])
            elif not is_index:
                blobs.append(xml)
            # index at the depth cap: dropped (never a leaf blob)
        frontier = next_urls
        if not frontier:
            break
    return blobs


def frontier_from_sitemaps(
    blobs: DataFrame,
    crawled: DataFrame,
    xml_col: str = "xml",
    url_col: str = "url",
) -> DataFrame:
    """Parsed sitemap entries minus the already-crawled set: the
    frontier delta. Dead-letter rows are excluded here (route
    ``read_sitemap_blobs`` output through the ingest dead-letter
    branch to keep them); duplicates across sitemaps collapse to the
    max lastmod — deterministic regardless of partitioning, and the
    newest modification time is the right recrawl-priority signal."""
    entries = (
        read_sitemap_blobs(blobs, xml_col)
        .filter("parse_error IS NULL AND url IS NOT NULL")
        .groupBy("url")
        .agg(F.max("lastmod").alias("lastmod"))
    )
    return entries.join(
        crawled.select(url_col).withColumnRenamed(url_col, "url"),
        on="url",
        how="left_anti",
    )
