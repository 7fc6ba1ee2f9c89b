"""Pluggable page fetcher (SURVEY.md §2.1 S5-S7).

The engine never talks to the network in tests — exactly as the
reference's unit tests mock requests (backend/tests/test_file_handler.py).
``StubFetcher`` serves an in-memory site; an HTTP fetcher can be slotted
in for real crawls (it would run inside mapInPandas on executors, with
per-row error capture feeding the dead-letter branch instead of failing
the task — reference retry/dead-letter semantics, celery_app.py:25-34).
"""

from __future__ import annotations

from typing import Protocol


def core_split_frame(spark, rows: list, schema: str):
    """``rows`` as a DataFrame in min(len(rows), defaultParallelism)
    partitions, for the stages whose tasks wait on the network (fetch,
    robots, sitemap discovery): as many of them run at once as the
    cluster has cores. The count lives in the parallelized RDD, which
    the analyzed plan shows as a count-free ``LogicalRDD``, so the plan
    is the same on every core count."""
    sc = spark.sparkContext
    n = max(1, min(len(rows), sc.defaultParallelism))
    return spark.createDataFrame(sc.parallelize(rows, n), schema)


class Fetcher(Protocol):
    def fetch(self, url: str) -> tuple[str | None, bytes | None, str | None]:
        """Return (content_type, body, error). Exactly one of body/error
        is non-None."""


class StubFetcher:
    """Deterministic in-memory fetcher over {url: (content_type, body)}."""

    def __init__(self, site: dict[str, tuple[str, bytes]]):
        self.site = dict(site)

    def fetch(self, url: str) -> tuple[str | None, bytes | None, str | None]:
        hit = self.site.get(url)
        if hit is None:
            return None, None, "404: not in stub site"
        ctype, body = hit
        return ctype, body, None


class FlakyFetcher:
    """Deterministic transient-failure double (like ``StubFetcher``, it
    must live in an importable module so executors can unpickle it):
    fails the first ``failures_per_url`` fetches of each url, then
    delegates to the stub site. Attempt counting happens inside ONE
    executor-side retry loop, so instance state survives pickling into
    the task closure."""

    def __init__(self, site: dict[str, tuple[str, bytes]], failures_per_url: int = 2):
        self.inner = StubFetcher(site)
        self.failures_per_url = failures_per_url
        self.attempts: dict[str, int] = {}

    def fetch(self, url: str) -> tuple[str | None, bytes | None, str | None]:
        n = self.attempts.get(url, 0)
        self.attempts[url] = n + 1
        if n < self.failures_per_url:
            return None, None, f"transient: attempt {n + 1}"
        return self.inner.fetch(url)


class RetryingFetcher:
    """D4 app-level retry (reference tasks.py:20-25: Celery
    autoretry_for=(Exception,), max_retries=3) around any Fetcher:
    bounded re-attempts before a row dead-letters. Spark's
    task.maxFailures re-runs crashed TASKS, not rows that *returned*
    an error row — this wrapper is the row-level analogue. No sleep by
    default (an executor thread shouldn't block 60 s like the
    reference's queue countdown); ``backoff_sec`` opts in."""

    def __init__(self, inner: Fetcher, max_retries: int = 3, backoff_sec: float = 0.0):
        self.inner = inner
        self.max_retries = max_retries
        self.backoff_sec = backoff_sec

    def fetch(self, url: str) -> tuple[str | None, bytes | None, str | None]:
        import time

        last: tuple[str | None, bytes | None, str | None] = (None, None, "no attempt")
        for attempt in range(self.max_retries + 1):
            last = self.inner.fetch(url)
            if last[2] is None:
                return last
            if self.backoff_sec and attempt < self.max_retries:
                time.sleep(self.backoff_sec * (attempt + 1))
        return last


def with_default_retries(fetcher: Fetcher, max_retries: int = 3) -> Fetcher:
    """Apply the reference's D4 retry default (3 bounded re-attempts,
    tasks.py:20-25) unless retries are disabled or already configured —
    wrapping a RetryingFetcher again would square the attempt count."""
    if max_retries <= 0 or isinstance(fetcher, RetryingFetcher):
        return fetcher
    return RetryingFetcher(fetcher, max_retries=max_retries)


class HttpFetcher:
    """Real HTTP fetcher (urllib, 30 s timeout like the reference's PDF
    path — file_handler.py:17). Not used by tests; provided for
    completeness of the S5 source.

    Security posture (review-found, both urllib defaults):
      * ONLY http/https URLs are fetched — urllib also ships file://,
        ftp:// and data: handlers, so a hostile page linking
        ``file:///etc/passwd`` would otherwise read executor-local
        files into the corpus (SSRF/file disclosure); such links
        dead-letter with a scheme error instead.
      * Cross-host redirects are REFUSED by default: the crawl's
        offsite (allowed_domains) and robots checks run against the
        PRE-redirect URL only, so a permitted page 30x-ing to another
        host would smuggle that host's body (and its links) past both
        filters. Scrapy re-runs its middleware on redirected requests;
        this fetcher's cheaper equivalent dead-letters the hop —
        opt back in with ``allow_cross_host_redirects=True`` when the
        frontier filter is doing the vetting some other way.
      * The refusal happens BEFORE the follow-up request is sent
        (review-found round 11): a post-hoc geturl() comparison only
        discarded the body AFTER urllib had already issued the GET to
        the redirect target — a blind-SSRF side channel (the request
        to the internal/unvetted host still fired). A
        ``HTTPRedirectHandler`` subclass now vets the target's scheme
        and host inside ``redirect_request`` and aborts the hop
        without contacting the target. Redirects to non-http(s)
        schemes are refused in ALL modes (urllib's default handler
        would happily follow an ftp:// Location)."""

    def __init__(self, timeout_sec: float = 30.0,
                 user_agent: str = "crawler-spark/0.1",
                 allow_cross_host_redirects: bool = False):
        self.timeout = timeout_sec
        self.user_agent = user_agent
        self.allow_cross_host_redirects = allow_cross_host_redirects

    def fetch(self, url: str) -> tuple[str | None, bytes | None, str | None]:
        import urllib.error
        import urllib.parse
        import urllib.request

        scheme = urllib.parse.urlsplit(url).scheme.lower()
        if scheme not in ("http", "https"):
            return None, None, f"SchemeNotAllowed: {scheme or '(none)'}"

        origin_host = urllib.parse.urlsplit(url).netloc.lower()
        allow_cross = self.allow_cross_host_redirects

        class _VettingRedirect(urllib.request.HTTPRedirectHandler):
            """Refuse a bad hop BEFORE the follow-up GET is issued."""

            def redirect_request(self, req, fp, code, msg, headers, newurl):
                parts = urllib.parse.urlsplit(newurl)
                new_scheme = parts.scheme.lower()
                # urllib's default handler follows ftp:// Locations;
                # only ever follow into http(s), regardless of mode
                if new_scheme not in ("http", "https"):
                    raise _RedirectRefused(
                        "RedirectSchemeNotAllowed: "
                        f"{new_scheme or '(none)'} ({newurl!r})")
                if not allow_cross and parts.netloc.lower() != origin_host:
                    raise _RedirectRefused(
                        f"CrossHostRedirect: {origin_host} -> "
                        f"{parts.netloc.lower()} (offsite/robots checks "
                        "ran against the original host only)")
                return super().redirect_request(
                    req, fp, code, msg, headers, newurl)

        opener = urllib.request.build_opener(_VettingRedirect())
        try:
            req = urllib.request.Request(url, headers={"User-Agent": self.user_agent})
            with opener.open(req, timeout=self.timeout) as resp:
                ctype = resp.headers.get("Content-Type", "")
                return ctype, resp.read(), None
        except _RedirectRefused as exc:
            return None, None, str(exc)
        except urllib.error.URLError as exc:
            # a refusal raised inside redirect_request surfaces wrapped
            # in URLError on some paths — unwrap to the refusal message
            if isinstance(exc.reason, _RedirectRefused):
                return None, None, str(exc.reason)
            return None, None, f"{type(exc).__name__}: {exc}"
        except Exception as exc:
            return None, None, f"{type(exc).__name__}: {exc}"


class _RedirectRefused(Exception):
    """A redirect hop vetoed by HttpFetcher before it was followed."""
