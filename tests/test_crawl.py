"""BFS crawl tests (SURVEY.md §2.10 D1-D3, P6, P8): depth limiting,
domain filtering, frontier dedup, robots.txt, and crawl→ingest
integration."""

from __future__ import annotations

import pytest

from crawler_spark.plans.crawl import crawl
from crawler_spark.sources.fetch import StubFetcher


def page(title: str, links: list[str]) -> tuple[str, bytes]:
    anchors = "".join(f'<a href="{l}">x</a>' for l in links)
    return ("text/html", f"<title>{title}</title><body>{title} text {anchors}</body>".encode())


SITE = {
    "https://site.test/": page("root", ["/a", "/b", "https://other.org/x"]),
    "https://site.test/a": page("a", ["/b", "/c"]),          # /b linked twice
    "https://site.test/b": page("b", ["/"]),                  # cycle back to root
    "https://site.test/c": page("c", []),
    "https://site.test/private/secret": page("secret", []),
    "https://other.org/x": page("offsite", []),
}

ROBOTS = {
    "https://site.test/robots.txt": (
        "text/plain",
        b"User-agent: *\nDisallow: /private/\n",
    ),
}


@pytest.fixture(scope="module")
def fetcher():
    return StubFetcher({**SITE, **ROBOTS})


class TestCrawl:
    def test_depth_zero_fetches_only_seeds(self, spark, fetcher):
        items, dead = crawl(spark, fetcher, ["https://site.test/"],
                            allowed_domains=["site.test"], depth_limit=0)
        assert {r.url for r in items.collect()} == {"https://site.test/"}
        assert dead.count() == 0

    def test_depth_one_follows_links_within_domain(self, spark, fetcher):
        items, _ = crawl(spark, fetcher, ["https://site.test/"],
                         allowed_domains=["site.test"], depth_limit=1)
        urls = {r.url for r in items.collect()}
        assert urls == {"https://site.test/", "https://site.test/a", "https://site.test/b"}
        assert "https://other.org/x" not in urls  # P6 offsite filter

    def test_depth_two_reaches_c_and_dedups_cycle(self, spark, fetcher):
        items, _ = crawl(spark, fetcher, ["https://site.test/"],
                         allowed_domains=["site.test"], depth_limit=2)
        urls = sorted(r.url for r in items.collect())
        # root is NOT refetched despite the /b -> / cycle (D3 dedup)
        assert urls == [
            "https://site.test/", "https://site.test/a",
            "https://site.test/b", "https://site.test/c",
        ]

    def test_robots_disallow(self, spark, fetcher):
        items, _ = crawl(
            spark, fetcher,
            ["https://site.test/", "https://site.test/private/secret"],
            allowed_domains=["site.test"], depth_limit=0, obey_robots=True,
        )
        urls = {r.url for r in items.collect()}
        assert "https://site.test/private/secret" not in urls
        assert "https://site.test/" in urls

    def test_robots_filter_runs_distributed(self, spark, fetcher):
        """P8 as an executor-side stage: per-origin robots memoized in
        the partition; origins without robots.txt allow everything."""
        from crawler_spark.plans.ingest import robots_filter

        urls = ["https://site.test/", "https://site.test/private/secret",
                "https://other.org/x"]
        got = {r.url: r.allowed for r in robots_filter(spark, fetcher, urls).collect()}
        assert got == {"https://site.test/": True,
                       "https://site.test/private/secret": False,
                       "https://other.org/x": True}

    def test_robots_ignored_when_disabled(self, spark, fetcher):
        items, _ = crawl(
            spark, fetcher, ["https://site.test/private/secret"],
            allowed_domains=["site.test"], depth_limit=0, obey_robots=False,
        )
        assert {r.url for r in items.collect()} == {"https://site.test/private/secret"}

    def test_wave_cap_surfaces_truncation_and_keeps_overflow(self, spark):
        """A wave larger than max_urls_per_wave is truncated loudly and
        the overflow is fetched by LATER waves — never silently lost,
        never marked visited before being fetched (ADVICE crawl.py:88)."""
        wide = {
            "https://wide.test/": page("root", ["/a", "/b", "/c", "/d"]),
            "https://wide.test/a": page("a", []),
            "https://wide.test/b": page("b", []),
            "https://wide.test/c": page("c", []),
            "https://wide.test/d": page("d", []),
        }
        truncations: list[tuple[int, int]] = []
        items, _ = crawl(
            spark, StubFetcher(wide), ["https://wide.test/"],
            allowed_domains=["wide.test"], depth_limit=3, obey_robots=False,
            max_urls_per_wave=2,
            on_truncate=lambda n, cap: truncations.append((n, cap)),
        )
        urls = sorted(r.url for r in items.collect())
        assert urls == [
            "https://wide.test/", "https://wide.test/a", "https://wide.test/b",
            "https://wide.test/c", "https://wide.test/d",
        ]
        assert len(truncations) == 1
        assert truncations[0][0] > 2 and truncations[0][1] == 2

    def test_durable_state_resume_never_refetches(self, spark, tmp_path):
        """A crawl with state_dir persists visited/frontier per wave; a
        resumed crawl continues from the frontier and never refetches an
        attempted url (dupefilter semantics across restarts)."""

        class CountingFetcher(StubFetcher):
            def __init__(self, site):
                super().__init__(site)
                self.fetched: list[str] = []

            def fetch(self, url):
                self.fetched.append(url)
                return super().fetch(url)

        state = str(tmp_path / "crawl_state")
        f1 = CountingFetcher(SITE)
        # first run: seeds only (depth 0), durable state written
        items1, _ = crawl(spark, f1, ["https://site.test/"],
                          allowed_domains=["site.test"], depth_limit=0,
                          obey_robots=False, state_dir=state)
        assert {r.url for r in items1.collect()} == {"https://site.test/"}

        # resumed run: picks up the saved frontier (root's links), and
        # the root itself is never refetched
        f2 = CountingFetcher(SITE)
        items2, _ = crawl(spark, f2, ["https://site.test/ignored-on-resume"],
                          allowed_domains=["site.test"], depth_limit=0,
                          obey_robots=False, state_dir=state, resume=True)
        got = {r.url for r in items2.collect()}
        assert got == {"https://site.test/a", "https://site.test/b"}
        assert "https://site.test/" not in f2.fetched

    def test_crawl_feeds_ingest(self, spark, fetcher):
        from crawler_spark.plans.ingest import embed_stage, finalize_pages

        items, _ = crawl(spark, fetcher, ["https://site.test/"],
                         allowed_domains=["site.test"], depth_limit=1)
        pages = finalize_pages(embed_stage(items))
        rows = pages.collect()
        assert len(rows) == 3
        assert all(r.embedding is not None and len(r.embedding) == 64 for r in rows)
        assert all(r.domain == "site.test" for r in rows)


class TestPoliteness:
    def test_fetch_stage_runs_one_slice_per_core(self, spark):
        """The fetch stage runs min(work items, cores) tasks; with a
        per-host delay each host's urls share one task."""
        from pyspark.sql import functions as F

        from crawler_spark.plans.ingest import fetch_frontier

        urls = [f"https://h{i % 3}.test/p{i}" for i in range(12)]
        cores = spark.sparkContext.defaultParallelism
        df = fetch_frontier(spark, StubFetcher({}), urls)
        assert df.rdd.getNumPartitions() == min(12, cores)
        polite = fetch_frontier(spark, StubFetcher({}), urls, per_host_delay=1e-3)
        assert polite.rdd.getNumPartitions() == min(3, cores)
        parts = polite.select("url", F.spark_partition_id().alias("p")).collect()
        by_host: dict[str, set[int]] = {}
        for r in parts:
            by_host.setdefault(r.url.split("/")[2], set()).add(r.p)
        assert len(by_host) == 3 and all(len(p) == 1 for p in by_host.values())

    def test_per_host_delay_spaces_same_host_fetches(self, spark):
        """per_host_delay: consecutive fetches against ONE host must be
        spaced by >= the delay (host-hash partitioning makes same-host
        fetches sequential), while a 6-url two-host frontier still
        finishes in well under 6x the delay (hosts don't gate each
        other)."""
        import time

        from crawler_spark.plans.ingest import fetch_frontier
        from crawler_spark.sources.fetch import Fetcher

        class ClockFetcher(Fetcher):
            def fetch(self, url):
                return ("text/html", repr(time.monotonic()).encode(), None)

        # delay must dwarf Spark's task-launch stagger (~1s observed on a
        # loaded machine) or the cross-host span check below can't separate
        # the parallel and serialized regimes.
        urls = [f"https://{h}.test/p{i}" for h in ("aaa", "bbb") for i in range(3)]
        delay = 1.0
        rows = fetch_frontier(spark, ClockFetcher(), urls,
                              per_host_delay=delay).collect()

        by_host: dict[str, list[float]] = {}
        for r in rows:
            host = r.url.split("/")[2]
            by_host.setdefault(host, []).append(float(bytes(r.body).decode()))
        assert set(len(v) for v in by_host.values()) == {3}
        for host, stamps in by_host.items():
            stamps.sort()
            gaps = [b - a for a, b in zip(stamps, stamps[1:])]
            assert all(g >= delay * 0.95 for g in gaps), (host, gaps)
        # Cross-host gating check on the fetch timestamps themselves
        # (wall clock would include seconds of Spark job-launch overhead):
        # per host the 3 fetches span ~2*delay; if hosts gated each other
        # the 6 fetches would serialize into >= 5*delay of span. 4*delay
        # cleanly separates the two regimes.
        all_stamps = [s for v in by_host.values() for s in v]
        span = max(all_stamps) - min(all_stamps)
        assert span < 4 * delay, span

    def test_zero_delay_keeps_round_robin_behavior(self, spark):
        from crawler_spark.plans.ingest import fetch_frontier
        from crawler_spark.sources.fetch import StubFetcher

        site = {f"https://one.test/p{i}": ("text/html", b"x") for i in range(4)}
        rows = fetch_frontier(spark, StubFetcher(site), list(site)).collect()
        assert {r.url for r in rows} == set(site)
        assert all(r.fetch_error is None for r in rows)


class TestCanonicalUrls:
    def test_link_variants_fetch_once(self, spark):
        """canonical_urls=True: messy link variants of one page (case,
        tracking params, fragments, trailing slash) collapse to ONE
        canonical fetch; off, each variant is its own frontier entry."""
        site = {
            "https://c.test/": (
                "text/html",
                b'<title>root</title><body>'
                b'<a href="https://c.test/a?utm_source=m">1</a>'
                b'<a href="https://c.test/a#frag">2</a>'
                b'<a href="https://c.test/a/">3</a>'
                b'<a href="HTTPS://C.test/a">4</a></body>',
            ),
            "https://c.test/a": ("text/html", b"<title>a</title><body>x</body>"),
        }

        # the stub only knows exact canonical keys, so any variant that
        # reaches the fetcher un-canonicalized dead-letters — the
        # fetch-count proof expressed in data (executor-side fetchers
        # can't mutate driver-side counters)
        f = StubFetcher(site)
        items, dead = crawl(spark, f, ["HTTPS://C.test/"],
                            allowed_domains=["c.test"], depth_limit=1,
                            obey_robots=False, canonical_urls=True)
        urls = sorted(r.url for r in items.collect())
        assert urls == ["https://c.test/", "https://c.test/a"]
        assert dead.count() == 0  # every variant resolved canonically

        items2, dead2 = crawl(spark, f, ["https://c.test/"],
                              allowed_domains=["c.test"], depth_limit=1,
                              obey_robots=False)
        # without canonicalization every variant is its own frontier
        # entry, none matches the canonical key, and all dead-letter —
        # /a is never successfully fetched at all
        assert dead2.count() >= 3
        assert {r.url for r in items2.collect()} == {"https://c.test/"}

    def test_seed_variants_collapse_to_one_fetch(self, spark):
        """ADVICE crawl.py:149: distinct raw SEEDS that canonicalize to
        the same URL must produce one wave-0 frontier row, not one fetch
        (and one item/dead-letter row) per variant."""
        site = {
            "https://c.test/": ("text/html", b"<title>r</title><body>x</body>"),
        }
        items, dead = crawl(
            spark, StubFetcher(site),
            ["https://c.test/?utm_source=a", "HTTPS://C.test/#frag",
             "https://c.test/"],
            allowed_domains=["c.test"], depth_limit=0,
            obey_robots=False, canonical_urls=True,
        )
        rows = items.collect()
        assert [r.url for r in rows] == ["https://c.test/"]  # exactly one
        assert dead.count() == 0


class TestCrashResume:
    def test_crash_mid_wave_with_overflow_resumes_unattempted_set(
            self, spark, tmp_path):
        """Chaos: a crawl dies DURING a truncated wave's fetch with
        overflow outstanding. Durable ordering contract (review-hardened
        round 10): wave results materialize BEFORE the wave persists as
        visited, so the crashed wave's urls are NOT yet visited on disk
        — the resumed crawl refetches the interrupted wave (at-least-
        once) and completes the rest; nothing is silently lost. (The
        former order — visited persisted first — made a crash during a
        NON-truncated wave's fetch leave resume with an empty frontier:
        the whole remaining crawl silently vanished.)"""
        import pytest as _pytest

        wide = {
            "https://wide.test/": page("root", ["/a", "/b", "/c", "/d"]),
            "https://wide.test/a": page("a", []),
            "https://wide.test/b": page("b", []),
            "https://wide.test/c": page("c", []),
            "https://wide.test/d": page("d", []),
        }
        leaves = {f"https://wide.test/{p}" for p in "abcd"}

        class CrashOn(StubFetcher):
            """Raises (→ task failure → job failure) on any leaf fetch:
            the crash lands inside wave 1, after visited was persisted."""

            def __init__(self, site, crash_urls):
                super().__init__(site)
                self.crash_urls = set(crash_urls)

            def fetch(self, url):
                if url in self.crash_urls:
                    raise RuntimeError("injected mid-wave crash")
                return super().fetch(url)

        state = str(tmp_path / "chaos_state")
        with _pytest.raises(Exception):
            crawl(spark, CrashOn(wide, leaves), ["https://wide.test/"],
                  allowed_domains=["wide.test"], depth_limit=2,
                  obey_robots=False, max_urls_per_wave=2,
                  on_truncate=lambda n, cap: None, state_dir=state)

        from crawler_spark.plans.crawl import _latest_epoch

        _, epoch_dir = _latest_epoch(state)
        visited = {r.url for r in
                   spark.read.parquet(epoch_dir + "/visited").collect()}
        frontier = {r.url for r in
                    spark.read.parquet(epoch_dir + "/frontier").collect()}
        # crash landed mid-wave-1's FETCH, which runs before the wave
        # persists as visited: only wave 0 (root) is durably visited,
        # and the on-disk frontier is still the full wave-1 set
        assert "https://wide.test/" in visited
        assert visited & leaves == set(), (
            "a wave persisted as visited before its results materialized"
        )
        assert frontier == leaves

        items2, dead2 = crawl(
            spark, StubFetcher(wide), ["https://wide.test/ignored"],
            allowed_domains=["wide.test"], depth_limit=2,
            obey_robots=False, max_urls_per_wave=2,
            on_truncate=lambda n, cap: None,
            state_dir=state, resume=True,
        )
        got = {r.url for r in items2.collect()}
        # at-least-once: the interrupted wave refetches IN FULL — every
        # leaf is crawled exactly by the resumed run, none lost
        assert got == leaves
        assert dead2.count() == 0


class TestDurableOrderingAndFetcherGuards:
    def test_crash_mid_nontruncated_wave_resume_completes(
            self, spark, tmp_path):
        """THE review-found silent-loss case: a crash during an
        ordinary (non-truncated) wave's fetch. Under the old
        visited-first ordering the wave's urls were already durably
        visited, so resume anti-joined them away, found an empty
        frontier, and returned zero items — waves 1..N silently never
        crawled. With results-first ordering the resumed crawl
        refetches the interrupted wave and finishes."""
        import pytest as _pytest

        site = {
            "https://w.test/": page("root", ["/a", "/b"]),
            "https://w.test/a": page("a", []),
            "https://w.test/b": page("b", []),
        }

        class CrashOn(StubFetcher):
            def __init__(self, s, crash_urls):
                super().__init__(s)
                self.crash_urls = set(crash_urls)

            def fetch(self, url):
                if url in self.crash_urls:
                    raise RuntimeError("injected crash")
                return super().fetch(url)

        state = str(tmp_path / "st")
        with _pytest.raises(Exception):
            crawl(spark, CrashOn(site, {"https://w.test/a"}),
                  ["https://w.test/"], allowed_domains=["w.test"],
                  depth_limit=1, obey_robots=False, state_dir=state)
        items, dead = crawl(
            spark, StubFetcher(site), ["https://w.test/ignored"],
            allowed_domains=["w.test"], depth_limit=1,
            obey_robots=False, state_dir=state, resume=True,
        )
        got = {r.url for r in items.collect()}
        assert got == {"https://w.test/a", "https://w.test/b"}, (
            "resume lost the interrupted wave"
        )
        assert dead.count() == 0

    def test_http_fetcher_rejects_non_http_schemes(self):
        """SSRF guard: urllib ships file://, ftp:// and data: handlers,
        so a hostile page linking file:///etc/passwd would read
        executor-local files into the corpus — such urls dead-letter
        with a scheme error, no fetch attempted."""
        from crawler_spark.sources.fetch import HttpFetcher

        f = HttpFetcher()
        for url in ("file:///etc/passwd", "ftp://x.test/f",
                    "data:text/html,hi", "javascript:alert(1)", "no-scheme"):
            ctype, body, err = f.fetch(url)
            assert ctype is None and body is None
            assert err and err.startswith("SchemeNotAllowed"), (url, err)

    def test_cross_host_redirect_refused_before_the_follow_up_get(self):
        """Blind-SSRF closure (review-found round 11): the old guard
        compared geturl() AFTER urllib had already followed the 302 —
        the body was discarded but the GET to the unvetted host had
        fired. The vetting now happens inside redirect_request, before
        any request to the target: the target server must see ZERO
        requests."""
        import http.server
        import threading

        from crawler_spark.sources.fetch import HttpFetcher

        target_hits: list[str] = []

        class Target(http.server.BaseHTTPRequestHandler):
            def do_GET(self):
                target_hits.append(self.path)
                self.send_response(200)
                self.end_headers()
                self.wfile.write(b"internal secret")

            def log_message(self, *a):
                pass

        target = http.server.HTTPServer(("127.0.0.1", 0), Target)
        t_port = target.server_address[1]

        class Origin(http.server.BaseHTTPRequestHandler):
            def do_GET(self):
                if self.path == "/same":
                    self.send_response(302)
                    self.send_header(
                        "Location", f"http://127.0.0.1:{self.server.server_address[1]}/landed")
                    self.end_headers()
                elif self.path == "/landed":
                    self.send_response(200)
                    self.send_header("Content-Type", "text/plain")
                    self.end_headers()
                    self.wfile.write(b"landed ok")
                elif self.path == "/cross":
                    self.send_response(302)
                    self.send_header("Location", f"http://127.0.0.1:{t_port}/steal")
                    self.end_headers()
                elif self.path == "/scheme":
                    # ftp:// passes urllib's own http_error_302 scheme
                    # check (it allows ftp!) — OUR handler must refuse it
                    self.send_response(302)
                    self.send_header("Location", "ftp://x.test/f")
                    self.end_headers()
                elif self.path == "/file":
                    self.send_response(302)
                    self.send_header("Location", "file:///etc/passwd")
                    self.end_headers()

            def log_message(self, *a):
                pass

        origin = http.server.HTTPServer(("127.0.0.1", 0), Origin)
        o_port = origin.server_address[1]
        threads = [threading.Thread(target=s.serve_forever, daemon=True)
                   for s in (target, origin)]
        for th in threads:
            th.start()
        try:
            f = HttpFetcher(timeout_sec=10.0)
            # same-host redirect: followed, body returned
            ctype, body, err = f.fetch(f"http://127.0.0.1:{o_port}/same")
            assert err is None and body == b"landed ok"
            # cross-host redirect: refused, and the target NEVER saw a GET
            ctype, body, err = f.fetch(f"http://127.0.0.1:{o_port}/cross")
            assert ctype is None and body is None
            assert err and err.startswith("CrossHostRedirect"), err
            assert target_hits == [], (
                "the follow-up GET fired before the vetting — blind SSRF")
            # scheme-downgrade redirects: refused in all modes — ftp by
            # our vetting handler, file by urllib's own 302 scheme check
            ctype, body, err = f.fetch(f"http://127.0.0.1:{o_port}/scheme")
            assert body is None
            assert err and err.startswith("RedirectSchemeNotAllowed"), err
            ctype, body, err = f.fetch(f"http://127.0.0.1:{o_port}/file")
            assert body is None and err and "file" in err, err
            # allow_cross_host_redirects=True opts back in
            f2 = HttpFetcher(timeout_sec=10.0, allow_cross_host_redirects=True)
            ctype, body, err = f2.fetch(f"http://127.0.0.1:{o_port}/cross")
            assert err is None and body == b"internal secret"
            assert target_hits == ["/steal"]
        finally:
            for s in (target, origin):
                s.shutdown()
                s.server_close()


class TestAtomicEpochState:
    def test_published_epoch_is_a_consistent_pair_and_old_epochs_sweep(
            self, spark, tmp_path):
        """The round-11 invariant that closes the ADVICE window: state
        publishes as ONE renamed epoch, so at every instant the on-disk
        (visited, frontier) pair is the pair ONE wave committed —
        frontier already anti-joined against visited, never a stale
        frontier next to a newer visited set."""
        import os

        from crawler_spark.plans.crawl import _latest_epoch

        state = str(tmp_path / "st")
        crawl(spark, StubFetcher(SITE), ["https://site.test/"],
              allowed_domains=["site.test"], depth_limit=1,
              obey_robots=False, state_dir=state)
        epochs = [n for n in os.listdir(state) if n.startswith("epoch_")]
        assert len(epochs) == 1, "older epochs must sweep after publish"
        _, epoch_dir = _latest_epoch(state)
        visited = {r.url for r in
                   spark.read.parquet(epoch_dir + "/visited").collect()}
        frontier = {r.url for r in
                    spark.read.parquet(epoch_dir + "/frontier").collect()}
        assert visited == {"https://site.test/", "https://site.test/a",
                           "https://site.test/b"}
        assert frontier & visited == set()

    def test_crashed_inflight_epoch_tmp_is_ignored_and_cleaned(
            self, spark, tmp_path):
        """A crash DURING the epoch write leaves only ``_epoch.tmp`` —
        never a published epoch. _latest_epoch must not resume from it,
        and the next commit must clear the leftover."""
        import os

        from crawler_spark.plans.crawl import _latest_epoch

        state = str(tmp_path / "st")
        crawl(spark, StubFetcher(SITE), ["https://site.test/"],
              allowed_domains=["site.test"], depth_limit=0,
              obey_robots=False, state_dir=state)
        good = _latest_epoch(state)
        assert good is not None
        # plant a half-written in-flight epoch (post-crash junk)
        junk = os.path.join(state, "_epoch.tmp", "visited")
        os.makedirs(junk)
        with open(os.path.join(junk, "part-junk.parquet"), "wb") as fh:
            fh.write(b"not parquet")
        assert _latest_epoch(state) == good
        items, dead = crawl(
            spark, StubFetcher(SITE), ["https://site.test/ignored"],
            allowed_domains=["site.test"], depth_limit=0,
            obey_robots=False, state_dir=state, resume=True,
        )
        assert {r.url for r in items.collect()} == {
            "https://site.test/a", "https://site.test/b"}
        assert not os.path.isdir(os.path.join(state, "_epoch.tmp"))
        assert _latest_epoch(state)[0] > good[0]

    def test_fresh_run_clears_stale_epochs_from_a_reused_state_dir(
            self, spark, tmp_path):
        """Review-found round 11: epoch numbering restarts per run, so a
        NON-resume crawl into a reused state dir must clear leftover
        epochs — otherwise a previous run's higher-numbered epoch
        outranks everything the new run commits and a later resume
        silently restores the ABANDONED crawl's state."""
        import os

        from crawler_spark.plans.crawl import _latest_epoch

        state = str(tmp_path / "st")
        # run A: depth-1 crawl leaves its epochs behind
        crawl(spark, StubFetcher(SITE), ["https://site.test/"],
              allowed_domains=["site.test"], depth_limit=1,
              obey_robots=False, state_dir=state)
        a_epoch = _latest_epoch(state)[0]
        assert a_epoch >= 2
        # run B: FRESH crawl (resume=False) of different seeds reuses S
        other = {"https://o.test/": page("o-root", ["/x"]),
                 "https://o.test/x": page("o-x", [])}
        crawl(spark, StubFetcher(other), ["https://o.test/"],
              allowed_domains=["o.test"], depth_limit=0,
              obey_robots=False, state_dir=state)
        # only run B's epoch survives; resume restores B's state, not A's
        epochs = sorted(n for n in os.listdir(state) if n.startswith("epoch_"))
        assert len(epochs) == 1, epochs
        _, epoch_dir = _latest_epoch(state)
        visited = {r.url for r in
                   spark.read.parquet(epoch_dir + "/visited").collect()}
        assert visited == {"https://o.test/"}
        items, _ = crawl(spark, StubFetcher(other), ["https://o.test/ignored"],
                         allowed_domains=["o.test"], depth_limit=0,
                         obey_robots=False, state_dir=state, resume=True)
        assert {r.url for r in items.collect()} == {"https://o.test/x"}

    def test_resume_migrates_legacy_two_file_state_layout(
            self, spark, tmp_path):
        """Upgrade path: a crawl checkpointed under the pre-epoch layout
        (visited/ + frontier/ parquet dirs) must RESUME, not silently
        restart from the seeds; the first epoch commit retires the
        legacy dirs."""
        import os

        state = str(tmp_path / "st")
        os.makedirs(state)
        spark.createDataFrame(
            [("https://site.test/",)], "url string"
        ).write.parquet(state + "/visited")
        spark.createDataFrame(
            [("https://site.test/a",), ("https://site.test/b",),
             ("https://site.test/",)],  # attempted url present: filtered
            "url string",
        ).write.parquet(state + "/frontier")

        class Counting(StubFetcher):
            def __init__(self, s):
                super().__init__(s)
                self.fetched = []

            def fetch(self, url):
                self.fetched.append(url)
                return super().fetch(url)

        f = Counting(SITE)
        items, dead = crawl(
            spark, f, ["https://site.test/ignored"],
            allowed_domains=["site.test"], depth_limit=0,
            obey_robots=False, state_dir=state, resume=True,
        )
        got = {r.url for r in items.collect()}
        assert got == {"https://site.test/a", "https://site.test/b"}
        assert "https://site.test/" not in f.fetched, (
            "legacy visited set was ignored — attempted url refetched")
        # epoch published, legacy layout retired
        assert any(n.startswith("epoch_") for n in os.listdir(state))
        assert not os.path.isdir(state + "/visited")
        assert not os.path.isdir(state + "/frontier")
