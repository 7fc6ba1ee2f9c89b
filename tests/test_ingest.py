"""Ingest-pipeline tests mirroring the reference's unit suites
(backend/tests/test_tasks.py, test_file_handler.py, test_pipelines.py):
HTML extraction rules, content-type dispatch, PDF drop rules, image
metadata rows, embed dispatch + 64-pad invariant, upsert idempotence,
job state machine, feature flags."""

from __future__ import annotations

import math

import pytest

from crawler_spark.functions.html import parse_html, url_domain
from crawler_spark.sources.fetch import FlakyFetcher, StubFetcher
from crawler_spark.sources.file_handlers import (
    STUB_PDF_MAGIC,
    classify_content_type,
    extract_pdf_text,
)

FIXTURE_HTML = b"""<!doctype html>
<html><head>
  <title> Fixture Page </title>
  <meta name="description" content="a test page">
  <meta property="og:type" content="article">
  <meta name="keywords" content="spark,crawler">
  <style>body { color: red }</style>
  <script>var hidden = "SCRIPT_TEXT";</script>
</head><body>
  <p>Visible   text one.</p>
  <noscript>NOSCRIPT_TEXT</noscript>
  <template>TEMPLATE_TEXT</template>
  <svg><text>SVG_TEXT</text></svg>
  <div>Visible <b>two</b></div>
  <a href="/page2">next</a>
  <a href="https://other.org/x">offsite</a>
  <img src="/logo.png">
</body></html>"""


class TestHtmlParse:
    def test_extraction_rules(self):
        page = parse_html(FIXTURE_HTML.decode(), base_url="https://site.test/start")
        assert page.title == "Fixture Page"
        assert page.meta_description == "a test page"
        assert page.meta_tags["og:type"] == "article"
        assert page.meta_tags["keywords"] == "spark,crawler"
        # script/style/noscript/template/svg subtrees excluded
        for banned in ["SCRIPT_TEXT", "NOSCRIPT_TEXT", "TEMPLATE_TEXT", "SVG_TEXT", "color: red"]:
            assert banned not in (page.content or "")
        assert "Visible text one." in page.content
        assert "Visible two" in page.content
        # links absolutized, both <a href> and <img src>
        assert "https://site.test/page2" in page.links
        assert "https://other.org/x" in page.links
        assert "https://site.test/logo.png" in page.links

    def test_broken_html_salvages(self):
        page = parse_html("<title>ok</title><p>text<unclosed", base_url=None)
        assert page.title == "ok"
        assert "text" in page.content

    def test_domain_helpers(self, spark):
        from crawler_spark.plans.crawl import domain_allowed_col

        assert url_domain("https://a.b.c/path") == "a.b.c"
        urls = spark.createDataFrame(
            [("https://sub.site.test/x",), ("https://evil.test/x",),
             ("https://anything/x",)], "url string")

        def allowed(domains):
            return [r.ok for r in urls.select(
                domain_allowed_col("url", domains).alias("ok")).collect()]

        assert allowed(["site.test"])[:2] == [True, False]
        assert allowed(None)[2]


class TestFileHandlers:
    def test_content_type_dispatch(self):
        assert classify_content_type("text/html; charset=utf-8") == "html"
        assert classify_content_type("application/pdf") == "pdf"
        assert classify_content_type("image/png") == "image"
        assert classify_content_type("application/json") is None
        assert classify_content_type(None) is None

    def test_pdf_stub_roundtrip(self):
        assert extract_pdf_text(STUB_PDF_MAGIC + b"hello pdf text") == "hello pdf text"
        # empty-text PDFs are dropped (reference file_handler.py:29-32)
        assert extract_pdf_text(STUB_PDF_MAGIC + b"   ") is None
        assert extract_pdf_text(None) is None
        assert extract_pdf_text(b"\x00notpdf") is None

    def test_pdf_real_branch_via_fake_fitz(self, monkeypatch):
        """Drive the real PyMuPDF branch's control flow with a fake
        ``fitz`` module (the lib isn't in this image): page-text
        concat + strip, empty-text drop, and decode-error drop —
        mirroring reference file_handler.py:11-49."""
        import sys
        import types

        class _FakePage:
            def __init__(self, text):
                self._text = text

            def get_text(self):
                return self._text

        class _FakeDoc:
            def __init__(self, pages):
                self._pages = pages

            def __enter__(self):
                return self._pages

            def __exit__(self, *exc):
                return False

        fake = types.ModuleType("fitz")

        def _open(stream=None, filetype=None):
            assert filetype == "pdf"
            if stream == b"%PDF-boom":
                raise RuntimeError("corrupt pdf")
            if stream == b"%PDF-empty":
                return _FakeDoc([_FakePage("  "), _FakePage("")])
            return _FakeDoc([_FakePage("page one "), _FakePage("page two")])

        fake.open = _open
        monkeypatch.setitem(sys.modules, "fitz", fake)
        assert extract_pdf_text(b"%PDF-1.7 realish") == "page one page two"
        assert extract_pdf_text(b"%PDF-empty") is None     # empty → dropped
        assert extract_pdf_text(b"%PDF-boom") is None      # error → dropped
        # stub magic still short-circuits before the import
        assert extract_pdf_text(STUB_PDF_MAGIC + b"x") == "x"


SITE = {
    "https://site.test/start": ("text/html", FIXTURE_HTML),
    "https://site.test/doc.pdf": ("application/pdf", STUB_PDF_MAGIC + b"pdf body text"),
    "https://site.test/empty.pdf": ("application/pdf", STUB_PDF_MAGIC + b""),
    "https://site.test/logo.png": ("image/png", b"\x89PNG fake bytes"),
    "https://site.test/data.json": ("application/json", b"{}"),
}


@pytest.fixture(scope="module")
def ingested(spark):
    from crawler_spark.plans.ingest import ingest_batch

    fetcher = StubFetcher(SITE)
    urls = list(SITE) + ["https://site.test/missing"]
    pages, dead = ingest_batch(spark, fetcher, urls)
    return pages.cache(), dead.cache()


class TestRetryDefault:
    def test_transient_failures_recover_by_default(self, spark):
        """D4 is the DEFAULT path (reference autoretry max_retries=3):
        a url failing twice then succeeding lands in pages, not dead."""
        from crawler_spark.plans.ingest import ingest_batch

        url = "https://site.test/start"
        pages, dead = ingest_batch(spark, FlakyFetcher(SITE, 2), [url])
        assert [r.url for r in pages.collect()] == [url]
        assert dead.count() == 0

    def test_permanent_failure_dead_letters_after_retries(self, spark):
        from crawler_spark.plans.ingest import ingest_batch

        url = "https://site.test/start"
        pages, dead = ingest_batch(spark, FlakyFetcher(SITE, 99), [url])
        assert pages.count() == 0
        errs = {r.url: r.error for r in dead.collect()}
        assert "transient" in errs[url]

    def test_opt_out_disables_retries(self, spark):
        from crawler_spark.plans.ingest import ingest_batch

        url = "https://site.test/start"
        _, dead = ingest_batch(spark, FlakyFetcher(SITE, 1), [url],
                               fetch_retries=0)
        assert dead.count() == 1  # one transient failure, no second try

    def test_crawl_retries_by_default(self, spark):
        from crawler_spark.plans.crawl import crawl

        items, dead = crawl(
            spark, FlakyFetcher(SITE, 2), ["https://site.test/start"],
            allowed_domains=["site.test"], depth_limit=0, obey_robots=False,
        )
        assert items.filter("url = 'https://site.test/start'").count() == 1
        assert dead.count() == 0


class TestIngestBatch:
    def test_pages_and_dead_letter_split(self, ingested):
        pages, dead = ingested
        by_url = {r.url: r for r in pages.collect()}
        assert set(by_url) == {
            "https://site.test/start",
            "https://site.test/doc.pdf",
            "https://site.test/logo.png",
        }
        errs = {r.url: r.error for r in dead.collect()}
        assert "fetch" in errs["https://site.test/missing"]
        assert "unsupported" in errs["https://site.test/data.json"]
        assert "pdf" in errs["https://site.test/empty.pdf"]

    def test_html_row_shape(self, ingested):
        pages, _ = ingested
        row = pages.filter("url = 'https://site.test/start'").collect()[0]
        assert row.file_type == "html" and row.embedding_type == "text"
        assert row.domain == "site.test"
        assert row.title == "Fixture Page"
        assert row.meta_tags["description"] == "a test page"
        assert row.last_crawled is not None

    def test_image_row_is_vision_with_null_content(self, ingested):
        pages, _ = ingested
        row = pages.filter("url = 'https://site.test/logo.png'").collect()[0]
        assert row.file_type == "image" and row.embedding_type == "vision"
        assert row.content is None
        assert row.embedding is not None  # vision embeds the url

    def test_embedding_invariant_unit_norm_padded(self, ingested):
        pages, _ = ingested
        for row in pages.collect():
            assert len(row.embedding) == 64
            norm = math.sqrt(sum(x * x for x in row.embedding))
            assert norm == pytest.approx(1.0)

    def test_upsert_incoming_wins(self, spark, ingested):
        from crawler_spark.plans.ingest import ingest_batch

        pages, _ = ingested
        updated_site = dict(SITE)
        updated_site["https://site.test/start"] = (
            "text/html",
            FIXTURE_HTML.replace(b"Fixture Page", b"Updated Title"),
        )
        pages2, _ = ingest_batch(
            spark, StubFetcher(updated_site), ["https://site.test/start"],
            existing_pages=pages,
        )
        rows = pages2.filter("url = 'https://site.test/start'").collect()
        assert len(rows) == 1
        assert rows[0].title == "Updated Title"
        assert pages2.count() == pages.count()  # no dup keys introduced


class TestExtractionFlagWiring:
    """F11 inside ingest behind structured_data_extraction (reference
    tasks.py:92) — flag off ⇒ NULL passthrough, flag on ⇒ stored JSON."""

    def test_flag_off_null_passthrough(self, spark, ingested):
        pages, _ = ingested  # module fixture ran with no flags (off default)
        assert all(r.structured_data is None for r in pages.collect())

    def test_flag_on_stores_extraction_json(self, spark):
        import json

        from crawler_spark import schemas
        from crawler_spark.functions.extraction import StubExtractor
        from crawler_spark.plans.ingest import ingest_batch

        flags = spark.createDataFrame(
            [(1, "structured_data_extraction", True, "")], schemas.FEATURE_FLAGS
        )
        pages, _ = ingest_batch(
            spark, StubFetcher(SITE), ["https://site.test/start"], flags=flags
        )
        row = pages.collect()[0]
        got = json.loads(row.structured_data)
        expected = json.loads(StubExtractor().extract("ecommerce", row.content))
        assert got == expected
        assert got["product_name"].startswith("product-")

    def test_meta_tags_json_serialized(self, ingested):
        import json

        pages, _ = ingested
        row = pages.filter("url = 'https://site.test/start'").collect()[0]
        parsed = json.loads(row.meta_tags_json)
        assert parsed["description"] == "a test page"  # F9 storage contract
        pdf = pages.filter("url = 'https://site.test/doc.pdf'").collect()[0]
        assert pdf.meta_tags_json == "{}"  # absent map degrades to empty JSON


class TestVisionBase64Chain:
    def test_vision_embeds_base64_of_fetched_bytes(self, spark):
        """F8: with a fetcher the vision path is url → bytes → base64 →
        model (reference embeddings.py:18-43), not url-keyed."""
        import base64

        from crawler_spark.functions.embedding import StubEmbedder, normalize_pad
        from crawler_spark.plans.ingest import embed_stage

        items = spark.createDataFrame(
            [("https://site.test/logo.png", None, None, None, None,
              "image", "vision", None, None)],
            "url string, title string, meta_description string, "
            "meta_tags map<string,string>, content string, file_type string, "
            "embedding_type string, links array<string>, error string",
        )
        emb = StubEmbedder(64)
        row = embed_stage(items, emb, 64, fetcher=StubFetcher(SITE)).collect()[0]
        b64 = base64.b64encode(SITE["https://site.test/logo.png"][1]).decode()
        assert row.embedding == normalize_pad(emb.embed_vision(b64), 64)

    def test_vision_fetch_failure_yields_null_embedding(self, spark):
        from crawler_spark.plans.ingest import embed_stage

        items = spark.createDataFrame(
            [("https://site.test/missing.png", None, None, None, None,
              "image", "vision", None, None)],
            "url string, title string, meta_description string, "
            "meta_tags map<string,string>, content string, file_type string, "
            "embedding_type string, links array<string>, error string",
        )
        row = embed_stage(items, None, 64, fetcher=StubFetcher(SITE)).collect()[0]
        assert row.embedding is None  # reference None-propagation


def _make_flaky(inner, fail_n: int):
    """Fetcher failing the first ``fail_n`` attempts per url. Defined as
    a LOCAL class so cloudpickle ships it by value into executor tasks
    (the tests package isn't importable on Spark workers)."""

    class Flaky:
        def __init__(self):
            self.inner = inner
            self.fail_n = fail_n
            self.calls: dict[str, int] = {}

        def fetch(self, url):
            n = self.calls.get(url, 0)
            self.calls[url] = n + 1
            if n < self.fail_n:
                return None, None, f"transient failure #{n + 1}"
            return self.inner.fetch(url)

    return Flaky()


class TestRetry:
    def test_retrying_fetcher_recovers_transient_failures(self):
        from crawler_spark.sources.fetch import RetryingFetcher

        flaky = _make_flaky(StubFetcher(SITE), fail_n=2)
        ctype, body, err = RetryingFetcher(flaky, max_retries=3).fetch(
            "https://site.test/start"
        )
        assert err is None and body == FIXTURE_HTML and ctype == "text/html"
        assert flaky.calls["https://site.test/start"] == 3  # 2 failures + 1 ok

    def test_retries_exhausted_dead_letters(self, spark):
        from crawler_spark.plans.ingest import ingest_batch
        from crawler_spark.sources.fetch import RetryingFetcher

        flaky = _make_flaky(StubFetcher(SITE), fail_n=10)
        pages, dead = ingest_batch(
            spark, RetryingFetcher(flaky, max_retries=2), ["https://site.test/start"]
        )
        assert pages.count() == 0
        errs = [r.error for r in dead.collect()]
        assert len(errs) == 1 and "transient failure #3" in errs[0]

    def test_retrying_embedder(self):
        from crawler_spark.functions.embedding import RetryingEmbedder, StubEmbedder

        class Flaky:
            def __init__(self):
                self.n = 0

            def embed_text(self, t):
                self.n += 1
                if self.n < 3:
                    raise RuntimeError("transient")
                return StubEmbedder(8).embed_text(t)

            def embed_vision(self, u):
                return StubEmbedder(8).embed_vision(u)

        assert RetryingEmbedder(Flaky(), max_retries=3).embed_text("x") == \
            StubEmbedder(8).embed_text("x")
        with pytest.raises(RuntimeError):
            RetryingEmbedder(Flaky(), max_retries=1).embed_text("x")


class TestPagesSchemaContract:
    def test_finalize_output_matches_web_pages_schema(self, ingested):
        """finalize_pages must produce exactly the canonical WEB_PAGES
        columns, in order, with matching types — drift here silently
        breaks the storage contract every downstream query assumes."""
        from crawler_spark import schemas

        pages, _ = ingested
        got = [(f.name, f.dataType.simpleString()) for f in pages.schema.fields]
        want = [(f.name, f.dataType.simpleString()) for f in schemas.WEB_PAGES.fields]
        assert got == want


class TestJobsAndFlags:
    def test_job_lifecycle(self, spark):
        from crawler_spark.plans.jobs import (
            create_job,
            delete_job,
            empty_jobs,
            jobs_page,
            transition_job,
        )

        jobs = empty_jobs(spark)
        jobs, jid = create_job(spark, jobs, {"domain": "site.test", "depth": 1})
        assert jobs.filter(f"id = '{jid}'").collect()[0].status == "pending"
        jobs = transition_job(jobs, jid, "running")
        jobs = transition_job(jobs, jid, "completed", result={"pages": 3})
        row = jobs.filter(f"id = '{jid}'").collect()[0]
        assert row.status == "completed" and '"pages": 3' in row.result
        assert jobs_page(jobs).count() == 1
        assert delete_job(jobs, jid).count() == 0

    def test_invalid_status_rejected(self, spark):
        from crawler_spark.plans.jobs import empty_jobs, transition_job

        with pytest.raises(ValueError):
            transition_job(empty_jobs(spark), "x", "exploded")

    def test_flags(self, spark):
        from crawler_spark.plans.jobs import default_flags, is_feature_enabled

        flags = default_flags(spark)
        assert is_feature_enabled(flags, "chat_ui")
        assert not is_feature_enabled(flags, "structured_data_extraction")
        assert not is_feature_enabled(flags, "nonexistent")


class TestParserAndStageHardening:
    """Round-10 review findings: one hostile page must never fail a
    stage, and declared charsets are honored."""

    def test_self_closing_excluded_tag_does_not_eat_document(self):
        page = parse_html(
            "<html><head><svg/><title>T</title></head>"
            "<body>Hello world</body></html>")
        assert page.title == "T"
        assert page.content == "Hello world"

    def test_malformed_href_drops_link_not_parse(self):
        page = parse_html(
            '<a href="http://[">bad</a><a href="/ok">good</a>'
            "<body>text here</body>",
            base_url="https://site.test/a")
        assert page.links == ["https://site.test/ok"]
        assert "text" in (page.content or "")

    def test_null_html_body_dead_letters_not_crashes(self, spark):
        from crawler_spark.plans.ingest import parse_stage, split_dead_letter

        fetched = spark.createDataFrame(
            [("https://x.test/", "text/html", None, None)],
            "url string, content_type string, body binary, "
            "fetch_error string",
        )
        ok, dead = split_dead_letter(parse_stage(fetched))
        assert ok.count() == 0
        d = dead.collect()
        assert len(d) == 1 and "empty body" in d[0].error

    def test_declared_charset_is_honored(self, spark):
        from crawler_spark.plans.ingest import parse_stage

        body = "<title>Привет</title><body>мир</body>".encode("cp1251")
        fetched = spark.createDataFrame(
            [("https://x.test/", "text/html; charset=windows-1251",
              body, None)],
            "url string, content_type string, body binary, "
            "fetch_error string",
        )
        row = parse_stage(fetched).collect()[0]
        assert row.title == "Привет" and row.content == "мир"

    def test_malformed_url_dead_letters_under_politeness_and_robots(
            self, spark):
        """'http://[' raises ValueError in urlsplit/urlparse — it must
        dead-letter at fetch (SchemeNotAllowed/URLError), never crash
        the politeness key, the robots check, or the stage."""
        from crawler_spark.plans.ingest import (
            fetch_frontier,
            robots_allowed_map,
        )

        bad = "http://["
        assert robots_allowed_map(StubFetcher({}), [bad]) == {bad: True}
        rows = fetch_frontier(
            spark, StubFetcher({}), [bad], per_host_delay=0.01).collect()
        assert len(rows) == 1 and rows[0].fetch_error is not None

    def test_embed_stage_scopes_udfs_to_their_rows(self, spark):
        """The vision UDF must run ONLY on vision rows (a fetcher-backed
        vision chain would otherwise HTTP-GET every text row's url and
        discard the result — the CASE WHEN pandas-UDF extraction trap)."""
        from crawler_spark.plans.ingest import embed_stage
        from crawler_spark.sources.fetch import Fetcher

        class ImageOnly(Fetcher):
            """Raises on any non-image fetch: if the vision UDF still
            ran on every row (the old when/otherwise plan), the text
            row's url would hit this and fail the task."""

            def fetch(self, url):
                if not url.endswith(".png"):
                    raise AssertionError(f"vision UDF fetched {url}")
                return "image/png", b"img-bytes", None

        items = spark.createDataFrame(
            [("https://t.test/a", "text body", "text"),
             ("https://t.test/img.png", None, "vision")],
            "url string, content string, embedding_type string",
        )
        with_fetch = {r.url: list(r.embedding) for r in
                      embed_stage(items, fetcher=ImageOnly()).collect()}
        assert len(with_fetch) == 2
        assert all(v is not None for v in with_fetch.values())
        # and the fetcher really served the vision row: the fetched
        # bytes→base64 chain embeds differently than the url-string stub
        no_fetch = {r.url: list(r.embedding) for r in
                    embed_stage(items, fetcher=None).collect()}
        assert with_fetch["https://t.test/img.png"] \
            != no_fetch["https://t.test/img.png"]
        assert with_fetch["https://t.test/a"] == no_fetch["https://t.test/a"]
