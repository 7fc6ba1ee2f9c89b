"""Structured Streaming tests: event-time windows validated against
the oracle-checked batch twins, and the streaming ingest pipeline's
idempotent merge (SURVEY.md §2.11)."""

from __future__ import annotations

import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from crawler_spark import schemas
from crawler_spark.sources import load_table
from crawler_spark.sources.file_handlers import STUB_PDF_MAGIC

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def event_dir(spark, tmp_path_factory):
    """sf0.001 events re-written as two parquet slices (two triggers)."""
    d = str(tmp_path_factory.mktemp("events_stream"))
    ev = load_table(spark, SF, "events")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(d)
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(d)
    return d


class TestEventStreams:
    def test_tumbling_matches_batch(self, spark, event_dir):
        from crawler_spark.streaming.event_stream import (
            read_event_stream,
            run_to_memory_sink,
            tumbling_hourly,
        )

        stream = tumbling_hourly(read_event_stream(spark, event_dir))
        q = run_to_memory_sink(stream, "tumbling_out", output_mode="complete")
        try:
            got = {
                (r.bucket_start, r.event_type): (r.n, r.total_value)
                for r in spark.sql("SELECT * FROM tumbling_out").collect()
            }
        finally:
            q.stop()

        batch = (
            spark.read.parquet(event_dir)
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("v"))
            .select(F.col("window.start").alias("b"), "event_type", "n", "v")
        )
        want = {(r.b, r.event_type): (r.n, r.v) for r in batch.collect()}
        assert got == want

    def test_streaming_sessionize_e2e_matches_batch(self, spark):
        """The registered streaming sessionize query must equal the
        oracle-backed batch lag-gap sessionizer value-for-value:
        identical (user_id, session_start, n_events) sets, and the
        stream's session end = batch last-event + the 30-minute gap
        (session_window's documented end semantics)."""
        from datetime import timedelta

        from crawler_spark.plans import registry

        registry.load_all()
        stream_rows = registry.QUERIES["streaming_sessionize_e2e"](
            spark, SF).collect()
        batch_rows = registry.QUERIES["ev_sessionize"](spark, SF).collect()
        got = {(r.user_id, r.session_start, r.n_events)
               for r in stream_rows}
        want = {(r.user_id, r.session_start, r.n_events)
                for r in batch_rows}
        assert got == want
        ends_got = {(r.user_id, r.session_start): r.session_end
                    for r in stream_rows}
        for r in batch_rows:
            assert ends_got[(r.user_id, r.session_start)] == (
                r.session_end + timedelta(minutes=30))

    def test_session_windows_respect_gap(self, spark, event_dir):
        from crawler_spark.streaming.event_stream import (
            read_event_stream,
            run_to_memory_sink,
            session_windows,
        )

        stream = session_windows(read_event_stream(spark, event_dir))
        q = run_to_memory_sink(stream, "sessions_out", output_mode="complete")
        try:
            rows = spark.sql("SELECT * FROM sessions_out").collect()
        finally:
            q.stop()
        assert len(rows) > 0
        assert all(r.session_start <= r.session_end and r.n_events >= 1 for r in rows)


class TestIngestStream:
    def test_stream_merges_idempotently(self, spark, tmp_path):
        from crawler_spark.streaming.ingest_stream import (
            read_fetched_stream,
            start_ingest_stream,
        )

        src = str(tmp_path / "fetched")
        pages_dir = str(tmp_path / "pages")
        dead_dir = str(tmp_path / "dead")
        ckpt = str(tmp_path / "ckpt")
        os.makedirs(src)

        def fetched_batch(rows):
            spark.createDataFrame(rows, schemas.FETCHED).coalesce(1).write.mode(
                "append"
            ).parquet(src)

        # batch 1: two pages
        fetched_batch([
            ("https://s.test/a", "text/html", b"<title>A v1</title><body>alpha</body>", None),
            ("https://s.test/p", "application/pdf", STUB_PDF_MAGIC + b"pdf text", None),
        ])
        # batch 2: /a updated + one bad row (dead letter)
        fetched_batch([
            ("https://s.test/a", "text/html", b"<title>A v2</title><body>alpha two</body>", None),
            ("https://s.test/broken", None, None, "boom"),
        ])

        q = start_ingest_stream(
            read_fetched_stream(spark, src), pages_dir, dead_dir, ckpt
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        from crawler_spark.streaming.ingest_stream import read_pages_table

        pages = read_pages_table(spark, pages_dir)
        by_url = {r.url: r for r in pages.collect()}
        assert set(by_url) == {"https://s.test/a", "https://s.test/p"}
        assert by_url["https://s.test/a"].title == "A v2"  # later batch won
        assert len(by_url["https://s.test/a"].embedding) == 64

        dead = spark.read.parquet(dead_dir)
        assert {r.url for r in dead.collect()} == {"https://s.test/broken"}

    def test_untouched_partition_not_rewritten(self, spark, tmp_path):
        """A batch touching only domain A's bucket must leave domain B's
        partition files byte-identical — the partition-pruned merge."""
        import hashlib

        from crawler_spark.streaming.ingest_stream import (
            domain_bucket,
            make_batch_processor,
            read_manifest,
            read_pages_table,
        )

        pages_dir = str(tmp_path / "pages")
        dead_dir = str(tmp_path / "dead")

        # two domains that land in different buckets
        buckets = {
            r.d: r.b
            for r in spark.createDataFrame(
                [("a.test",), ("b.test",)], "d string"
            ).select("d", domain_bucket("d").alias("b")).collect()
        }
        assert buckets["a.test"] != buckets["b.test"]

        def snapshot(bucket: int) -> dict[str, str]:
            # resolve the bucket's LIVE version dir through the manifest
            ver = read_manifest(pages_dir)[bucket]
            part = os.path.join(pages_dir, f"v={ver}", f"bucket={bucket}")
            return {
                f: hashlib.md5(open(os.path.join(part, f), "rb").read()).hexdigest()
                for f in sorted(os.listdir(part))
                if not f.startswith((".", "_"))
            }

        process = make_batch_processor(pages_dir, dead_dir)
        process(
            spark.createDataFrame(
                [
                    ("https://a.test/1", "text/html", b"<title>a1</title><body>x</body>", None),
                    ("https://b.test/1", "text/html", b"<title>b1</title><body>y</body>", None),
                ],
                schemas.FETCHED,
            ),
            0,
        )
        before = snapshot(buckets["b.test"])
        process(
            spark.createDataFrame(
                [("https://a.test/2", "text/html", b"<title>a2</title><body>z</body>", None)],
                schemas.FETCHED,
            ),
            1,
        )
        assert snapshot(buckets["b.test"]) == before  # byte-identical
        urls = {r.url for r in read_pages_table(spark, pages_dir).collect()}
        assert urls == {"https://a.test/1", "https://a.test/2", "https://b.test/1"}

    def test_stateful_streaming_dedup_first_seen_wins(self, spark, tmp_path):
        """applyInPandasWithState exact dedup: a fingerprint repeated
        within and ACROSS micro-batches emits exactly once; distinct
        content still flows through."""
        from crawler_spark.streaming.stateful import streaming_exact_dedup

        src = str(tmp_path / "pages_src")
        os.makedirs(src)
        schema = "url string, content string"

        def slice_(rows):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)

        slice_([("u1", "alpha beta"), ("u2", "alpha  beta"),  # same normalized fp
                ("u3", "gamma delta")])
        slice_([("u4", "alpha beta"),  # cross-batch duplicate
                ("u5", "epsilon zeta")])

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            streaming_exact_dedup(stream)
            .writeStream.format("memory")
            .queryName("dedup_out")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            rows = spark.sql("SELECT * FROM dedup_out").collect()
        finally:
            q.stop()
        by_content = {r.content for r in rows}
        assert len(rows) == 3  # one per distinct fingerprint
        assert "gamma delta" in by_content and "epsilon zeta" in by_content
        # the alpha-beta family emitted exactly once, from its first batch
        assert sum(1 for r in rows if "alpha" in r.content) == 1
        assert {r.url for r in rows if "alpha" in r.content} <= {"u1", "u2"}

    def test_dedup_within_horizon_evicts_aged_state(self, spark, tmp_path):
        """streaming_dedup_within_horizon bounds state: duplicates
        INSIDE the horizon dedup first-seen-wins, fingerprints whose
        event time falls behind the watermark by more than the horizon
        are evicted (state size plateaus instead of growing with
        history), and a duplicate arriving after eviction re-emits —
        the documented bounded-horizon contract. Event-time based, so
        the test is fully deterministic (no sleeps)."""
        from crawler_spark.streaming.stateful import (
            streaming_dedup_within_horizon,
        )

        horizon = 60  # seconds of event time
        src = str(tmp_path / "pages_src")
        os.makedirs(src)
        schema = "url string, content string, fetched_at timestamp"

        def slice_(rows):
            spark.createDataFrame(
                [(u, c, datetime.fromisoformat(t)) for u, c, t in rows],
                schema,
            ).coalesce(1).write.mode("append").parquet(src)

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            streaming_dedup_within_horizon(stream, horizon_sec=horizon)
            .writeStream.format("memory")
            .queryName("dedup_horizon_out")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )

        def state_rows():
            return q.lastProgress["stateOperators"][0]["numRowsTotal"]

        try:
            slice_([("u1", "alpha beta", "2026-01-01T10:00:00"),
                    ("u2", "gamma delta", "2026-01-01T10:00:00")])
            q.processAllAvailable()
            # within-horizon duplicate (30 s after first sight): dropped
            slice_([("u3", "alpha beta", "2026-01-01T10:00:30")])
            q.processAllAvailable()
            rows1 = spark.sql("SELECT * FROM dedup_horizon_out").collect()
            assert sum(1 for r in rows1 if "alpha" in r.content) == 1
            assert state_rows() == 2  # alpha + gamma, no growth on dups

            # advance event time far past the horizon: the next batch's
            # watermark (10:05 - 60s = 10:04) passes alpha/gamma expiry
            slice_([("u4", "epsilon zeta", "2026-01-01T10:05:00")])
            q.processAllAvailable()
            # ...and one more batch so eviction at the NEW watermark runs
            slice_([("u5", "alpha beta", "2026-01-01T10:06:00")])
            q.processAllAvailable()
            rows2 = spark.sql("SELECT * FROM dedup_horizon_out").collect()
            # post-eviction duplicate re-emitted
            assert sum(1 for r in rows2 if "alpha" in r.content) == 2
            # plateau: aged-out entries left state; only recent ones remain
            assert state_rows() <= 2
        finally:
            q.stop()

    def test_first_batch_duplicate_url_stored_once(self, spark, tmp_path):
        """A micro-batch that holds a url twice, into buckets with no
        live rows yet, stores it once: merge_by_key's rule runs against
        an empty table instead of being skipped. Both copies carry the
        batch's one last_crawled stamp, so either may win the tie."""
        from crawler_spark.streaming.ingest_stream import (
            make_batch_processor,
            read_pages_table,
        )

        pages_dir = str(tmp_path / "pages")
        process = make_batch_processor(pages_dir, str(tmp_path / "dead"))
        url = "https://dup.test/p"
        process(
            spark.createDataFrame(
                [
                    (url, "text/html", b"<title>one</title><body>x</body>", None),
                    (url, "text/html", b"<title>two</title><body>y</body>", None),
                ],
                schemas.FETCHED,
            ),
            0,
        )
        rows = read_pages_table(spark, pages_dir).collect()
        assert [r.url for r in rows] == [url]
        assert rows[0].title in {"one", "two"}

    def test_dead_letter_replay_idempotent(self, spark, tmp_path):
        """Re-running a micro-batch with the SAME epoch_id (at-least-once
        replay) must not duplicate dead-letter rows."""
        from crawler_spark.streaming.ingest_stream import make_batch_processor

        pages_dir = str(tmp_path / "pages")
        dead_dir = str(tmp_path / "dead")
        process = make_batch_processor(pages_dir, dead_dir)
        batch = spark.createDataFrame(
            [
                ("https://s.test/ok", "text/html", b"<title>t</title><body>x</body>", None),
                ("https://s.test/bad", None, None, "boom"),
            ],
            schemas.FETCHED,
        )
        process(batch, 7)
        process(batch, 7)  # replay
        from crawler_spark.streaming.ingest_stream import read_pages_table

        dead = spark.read.parquet(dead_dir).collect()
        assert [r.url for r in dead] == ["https://s.test/bad"]
        assert read_pages_table(spark, pages_dir).count() == 1

    def test_crash_between_data_write_and_commit_recovers(
        self, spark, tmp_path, monkeypatch
    ):
        """Crash injection: kill the batch AFTER its v=<epoch> data is
        written but BEFORE the manifest swap. Readers must still see
        the previous consistent state; the replayed epoch then lands
        the update exactly once."""
        from crawler_spark.streaming import ingest_stream as mod

        pages_dir = str(tmp_path / "pages")
        dead_dir = str(tmp_path / "dead")
        process = mod.make_batch_processor(pages_dir, dead_dir)

        def batch(title):
            return spark.createDataFrame(
                [("https://s.test/a", "text/html",
                  f"<title>{title}</title><body>x</body>".encode(), None)],
                schemas.FETCHED,
            )

        process(batch("v1"), 0)
        assert {r.title for r in mod.read_pages_table(spark, pages_dir).collect()} == {"v1"}

        real_commit = mod.commit_manifest

        def crash(*a, **kw):
            raise RuntimeError("injected crash before manifest commit")

        monkeypatch.setattr(mod, "commit_manifest", crash)
        with pytest.raises(RuntimeError, match="injected crash"):
            process(batch("v2"), 1)
        # data for epoch 1 exists on disk, but the table is untouched
        assert os.path.isdir(os.path.join(pages_dir, "v=1"))
        assert {r.title for r in mod.read_pages_table(spark, pages_dir).collect()} == {"v1"}

        monkeypatch.setattr(mod, "commit_manifest", real_commit)
        process(batch("v2"), 1)  # the at-least-once replay
        rows = mod.read_pages_table(spark, pages_dir).collect()
        assert [r.title for r in rows] == ["v2"]

    def test_compaction_preserves_content_and_coalesces_files(
        self, spark, tmp_path
    ):
        """OPTIMIZE: after compaction every live bucket dir holds ONE
        data file, table contents are row-identical, and the old
        versions vacuum away."""
        from crawler_spark.streaming import ingest_stream as mod

        pages_dir = str(tmp_path / "pages")
        process = mod.make_batch_processor(pages_dir, str(tmp_path / "dead"))
        for i, (dom, t) in enumerate([("a.test", "a1"), ("b.test", "b1"),
                                      ("a.test", "a2")]):
            process(spark.createDataFrame(
                [(f"https://{dom}/{t}", "text/html",
                  f"<title>{t}</title><body>x</body>".encode(), None)],
                schemas.FETCHED,
            ), i)
        before = {(r.url, r.title)
                  for r in mod.read_pages_table(spark, pages_dir).collect()}

        rewritten = mod.compact_pages_table(spark, pages_dir, min_files=1)
        assert rewritten >= 1
        after_df = mod.read_pages_table(spark, pages_dir)
        assert {(r.url, r.title) for r in after_df.collect()} == before

        manifest = mod.read_manifest(pages_dir)
        for b, e in manifest.items():
            d = os.path.join(pages_dir, f"v={e}", f"bucket={b}")
            files = [f for f in os.listdir(d) if not f.startswith((".", "_"))]
            assert len(files) == 1, f"bucket {b} not coalesced: {files}"
        assert mod.vacuum_pages_table(pages_dir) >= 1

    def test_vacuum_reclaims_superseded_versions(self, spark, tmp_path):
        from crawler_spark.streaming import ingest_stream as mod

        pages_dir = str(tmp_path / "pages")
        process = mod.make_batch_processor(pages_dir, str(tmp_path / "dead"))
        mk = lambda t: spark.createDataFrame(
            [("https://s.test/a", "text/html",
              f"<title>{t}</title><body>x</body>".encode(), None)],
            schemas.FETCHED,
        )
        process(mk("v1"), 0)
        process(mk("v2"), 1)  # supersedes the bucket's v=0 directory
        assert mod.vacuum_pages_table(pages_dir) == 1
        assert not os.path.isdir(os.path.join(pages_dir, "v=0"))
        assert {r.title for r in mod.read_pages_table(spark, pages_dir).collect()} == {"v2"}


class TestStreamingNearDup:
    def test_neardup_verdicts_match_batch_simhash(self, spark, tmp_path):
        """Streaming near-dup must agree with the batch operator: docs
        whose duplicate arrived earlier (previous batch OR earlier in
        the same batch) are flagged with the original's id; uniques
        flow through. Lockstep-checked against batch simhash_pairs on
        the union of both slices."""
        import os

        from crawler_spark.operators.dedup import simhash_pairs
        from crawler_spark.streaming.neardup_stream import (
            reduce_verdicts,
            streaming_neardup_verdicts,
        )

        texts = {
            1: "distributed hash join engines shuffle data across the cluster",
            2: "sort merge join needs both sides clustered by the join key",
            3: "vectorized execution batches rows into columnar chunks",
            4: "cost based optimizers pick plans from cardinality estimates",
            5: "watermark tracking bounds state in streaming aggregations",
        }
        src = str(tmp_path / "docs_src")
        os.makedirs(src)
        schema = "doc_id long, text string"

        def slice_(rows):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)

        slice_([(i, t) for i, t in texts.items()])
        slice_([(6, texts[1]),       # cross-batch duplicate of 1
                (7, "adaptive query execution replans stages at runtime"),
                (8, "adaptive query execution replans stages at runtime")])

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(src)
        )
        q = (
            streaming_neardup_verdicts(stream)
            .writeStream.format("memory").queryName("neardup_out")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_nd"))
            .start()
        )
        try:
            q.processAllAvailable()
            got = {
                r.doc_id: (r.is_duplicate, r.dup_of)
                for r in reduce_verdicts(spark.table("neardup_out")).collect()
            }
        finally:
            q.stop()

        assert set(got) == set(range(1, 9))
        assert got[6] == (True, 1) and got[8] == (True, 7)
        assert all(not got[i][0] for i in [1, 2, 3, 4, 5, 7])

        # lockstep with the batch operator on the full corpus
        all_docs = spark.createDataFrame(
            [(i, t) for i, t in texts.items()]
            + [(6, texts[1]),
               (7, "adaptive query execution replans stages at runtime"),
               (8, "adaptive query execution replans stages at runtime")],
            schema,
        )
        batch_pairs = {(r.id_a, r.id_b)
                       for r in simhash_pairs(all_docs).collect()}
        stream_pairs = {(min(d, int(o)), max(d, int(o)))
                        for d, (dup, o) in got.items() if dup}
        assert stream_pairs <= batch_pairs
        assert {(1, 6), (7, 8)} <= stream_pairs


class TestStreamStreamJoin:
    def test_attribution_pairs_match_batch_interval_join(self, spark, event_dir):
        """The watermarked stream-stream interval join must emit exactly
        the (purchase, click) pairs the batch inequality join produces —
        same predicate, incremental execution."""
        from crawler_spark.streaming.event_stream import (
            attribution_pairs,
            read_event_stream,
            run_to_memory_sink,
        )

        clicks = read_event_stream(spark, event_dir).filter(
            F.col("event_type") == "click"
        )
        purchases = read_event_stream(spark, event_dir).filter(
            F.col("event_type") == "purchase"
        )
        q = run_to_memory_sink(
            attribution_pairs(clicks, purchases), "attr_pairs_out"
        )
        try:
            got = {
                (r.p_id, r.c_ts)
                for r in spark.sql("SELECT * FROM attr_pairs_out").collect()
            }
        finally:
            q.stop()

        ev = spark.read.parquet(event_dir)
        p = ev.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("p_id"), "user_id", F.col("ts").alias("p_ts")
        )
        c = ev.filter(F.col("event_type") == "click").select(
            F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
        )
        want = {
            (r.p_id, r.c_ts)
            for r in p.join(
                c,
                (p["user_id"] == c["c_user"])
                & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
                & (F.col("c_ts") <= F.col("p_ts")),
            ).collect()
        }
        assert len(want) > 0
        assert got == want


class TestTrendingTokens:
    def test_trending_counts_match_batch_and_rank(self, spark, tmp_path):
        import datetime as dt

        from crawler_spark.streaming.event_stream import (
            read_doc_stream,
            run_to_memory_sink,
            top_tokens_per_window,
            trending_token_counts,
        )

        base = dt.datetime(2026, 1, 1, 10, 0, 0)
        rows = []
        # hour 10: "spark" trends (3 docs), hour 11: "join" trends (4)
        for i, text in enumerate(
            ["spark fast", "spark shuffle", "spark the of", "other stuff"]
        ):
            rows.append((i, base + dt.timedelta(minutes=5 * i), text))
        for i, text in enumerate(
            ["join hash", "join merge", "join sort", "join range", "misc talk"]
        ):
            rows.append((10 + i, base + dt.timedelta(hours=1, minutes=7 * i), text))
        d = str(tmp_path / "docs")
        df = spark.createDataFrame(rows, "doc_id long, ts timestamp, text string")
        df.where("doc_id < 4").coalesce(1).write.mode("append").parquet(d)
        df.where("doc_id >= 4").coalesce(1).write.mode("append").parquet(d)

        stream = trending_token_counts(
            read_doc_stream(spark, d), window="1 hour", slide="1 hour")
        q = run_to_memory_sink(stream, "trending_out", output_mode="complete")
        try:
            got = spark.sql("SELECT * FROM trending_out")
            counts = {(r.window_start, r.token): r.n_docs for r in got.collect()}
            top = top_tokens_per_window(got, k=1).collect()
        finally:
            q.stop()

        # stopwords never entered the count
        assert not [k for k in counts if k[1] in ("the", "of")]
        assert counts[(base, "spark")] == 3
        assert counts[(base + dt.timedelta(hours=1), "join")] == 4
        winners = {r.window_start: r.token for r in top}
        assert winners[base] == "spark"
        assert winners[base + dt.timedelta(hours=1)] == "join"

        # streaming counts == the same expressions run in batch
        from crawler_spark.functions import text as X

        batch = (
            spark.read.parquet(d)
            .select("ts", F.explode(F.array_distinct(X.tokenize("text"))).alias("token"))
            .where(~F.col("token").isin("the", "of", "and", "to", "in", "a", "is", "that"))
            .groupBy(F.window("ts", "1 hour"), "token")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .select(F.col("window.start").alias("ws"), "token", "n_docs")
        )
        assert counts == {(r.ws, r.token): r.n_docs for r in batch.collect()}


class TestWatermarkLateData:
    def test_late_row_behind_watermark_is_dropped(self, spark, tmp_path):
        """Append-mode windowed count: a row arriving AFTER the
        watermark passed its window must not change the emitted count —
        the bounded-state guarantee the 100 TB stream relies on."""
        import datetime as dt

        from crawler_spark.streaming.event_stream import (
            read_event_stream,
            run_to_memory_sink,
            tumbling_hourly,
        )

        h = dt.datetime(2026, 2, 1, 9, 0, 0)
        mk = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
        d = str(tmp_path / "ev")
        # phase 1: two on-time rows in hour H, plus one far-future row
        # that advances the watermark STRICTLY past H's window end
        # (wm = H+4h - 2h = H+2 > H+1, so the H window closes and the
        # next trigger's input filter drops anything landing in it).
        # Phases are driven with explicit processAllAvailable barriers —
        # dropping both files up-front leaves the trigger order to file
        # listing and the "late" file can be consumed first.
        spark.createDataFrame(
            [(1, h, 1, "view", 1.0, "{}"),
             (2, h + dt.timedelta(minutes=10), 1, "view", 1.0, "{}"),
             (3, h + dt.timedelta(hours=4), 1, "view", 1.0, "{}")],
            mk).coalesce(1).write.mode("append").parquet(d)

        stream = tumbling_hourly(read_event_stream(spark, d), watermark="2 hours")
        q = run_to_memory_sink(stream, "late_drop_out", output_mode="append")
        try:
            # phase 2: a LATE row back in hour H, now behind the watermark
            spark.createDataFrame(
                [(4, h + dt.timedelta(minutes=30), 1, "view", 9.0, "{}")],
                mk).coalesce(1).write.mode("append").parquet(d)
            q.processAllAvailable()
            rows = {(r.bucket_start, r.event_type): r.n
                    for r in spark.sql("SELECT * FROM late_drop_out").collect()}
        finally:
            q.stop()
        # hour H emitted once, with only the 2 on-time rows; the late
        # row neither re-emitted nor revised the window
        assert rows.get((h, "view")) == 2, rows


class TestStreamStaticEnrichment:
    def test_stream_rows_enriched_from_dimension(self, spark, event_dir):
        from crawler_spark.streaming.event_stream import (
            enrich_with_dimension,
            read_event_stream,
            run_to_memory_sink,
        )

        dim = spark.createDataFrame(
            [(u, f"tier{u % 3}") for u in range(1000)],
            "user_id long, tier string")
        stream = enrich_with_dimension(
            read_event_stream(spark, event_dir), dim).select(
            "event_id", "user_id", "tier")
        q = run_to_memory_sink(stream, "enrich_out", output_mode="append")
        try:
            rows = spark.sql("SELECT * FROM enrich_out").collect()
        finally:
            q.stop()
        batch = spark.read.parquet(event_dir)
        assert len(rows) == batch.count()
        for r in rows[:200]:
            if r.user_id < 1000:
                assert r.tier == f"tier{r.user_id % 3}"


class TestStreamingIndexAppend:
    def test_stream_built_index_equals_batch_built(self, spark, tmp_path):
        """Appending per micro-batch into the fixed (band, bucket)
        layout must yield an index whose probe results are IDENTICAL
        to a one-shot batch build over the same rows."""
        from crawler_spark.operators.similarity import (
            append_banded_index,
            build_banded_index,
            knn_topk_precomputed,
        )
        from crawler_spark.plans.queries_vector import QUERY_VEC
        from crawler_spark.sources import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
            "vec_id", "embedding")
        src = str(tmp_path / "src")
        emb.repartition(3).write.parquet(src)

        idx_stream = str(tmp_path / "streamed")
        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda batch, _id: append_banded_index(batch, idx_stream))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        idx_batch = str(tmp_path / "batch")
        build_banded_index(emb, idx_batch)

        got = knn_topk_precomputed(spark, idx_stream, QUERY_VEC, k=10).collect()
        want = knn_topk_precomputed(spark, idx_batch, QUERY_VEC, k=10).collect()
        assert [(r.vec_id, r.distance) for r in got] == [
            (r.vec_id, r.distance) for r in want]
        # every row landed exactly once across the micro-batch appends
        n = spark.read.parquet(idx_stream).select("id").distinct().count()
        assert n == emb.count()


class TestTimeTravel:
    """Snapshot log + version-aware reads over the manifest table —
    the Delta VERSION AS OF / VACUUM retention contract in miniature."""

    def _mk(self, spark, title):
        return spark.createDataFrame(
            [("https://s.test/a", "text/html",
              f"<title>{title}</title><body>x</body>".encode(), None)],
            schemas.FETCHED,
        )

    def test_read_at_version_sees_past_state(self, spark, tmp_path):
        from crawler_spark.streaming import ingest_stream as mod

        pages_dir = str(tmp_path / "pages")
        process = mod.make_batch_processor(pages_dir, str(tmp_path / "dead"))
        process(self._mk(spark, "v1"), 0)
        process(self._mk(spark, "v2"), 1)
        v1, v2 = mod.manifest_history(pages_dir)
        assert {r.title for r in
                mod.read_pages_table_at(spark, pages_dir, v1).collect()} == {"v1"}
        assert {r.title for r in
                mod.read_pages_table_at(spark, pages_dir, v2).collect()} == {"v2"}
        # latest snapshot == live table
        assert {r.title for r in
                mod.read_pages_table(spark, pages_dir).collect()} == {"v2"}

    def test_vacuum_retention_window(self, spark, tmp_path):
        from crawler_spark.streaming import ingest_stream as mod

        pages_dir = str(tmp_path / "pages")
        process = mod.make_batch_processor(pages_dir, str(tmp_path / "dead"))
        process(self._mk(spark, "v1"), 0)
        process(self._mk(spark, "v2"), 1)
        v1, v2 = mod.manifest_history(pages_dir)
        # retain both snapshots: nothing reclaimable, v1 still readable
        assert mod.vacuum_pages_table(pages_dir, retain_last=2) == 0
        assert {r.title for r in
                mod.read_pages_table_at(spark, pages_dir, v1).collect()} == {"v1"}
        # shrink retention to the live state: v1's directory goes away
        # AND its log entry is pruned so time travel fails loudly
        assert mod.vacuum_pages_table(pages_dir, retain_last=1) == 1
        assert mod.manifest_history(pages_dir) == [v2]
        import pytest as _pytest
        with _pytest.raises(KeyError):
            mod.read_pages_table_at(spark, pages_dir, v1)
        assert {r.title for r in
                mod.read_pages_table(spark, pages_dir).collect()} == {"v2"}

    def test_replay_recommit_restores_log(self, spark, tmp_path):
        """Crash between the live swap and the snapshot write: the live
        table is committed but the log lags. The epoch replay (same
        deterministic batch) recommits and the log catches up."""
        from crawler_spark.streaming import ingest_stream as mod

        pages_dir = str(tmp_path / "pages")
        process = mod.make_batch_processor(pages_dir, str(tmp_path / "dead"))
        process(self._mk(spark, "v1"), 0)
        # simulate the torn commit: drop the newest snapshot file
        import os as _os
        v = mod.manifest_history(pages_dir)[-1]
        _os.remove(_os.path.join(pages_dir, mod.MLOG_NAME, f"{v:08d}.json"))
        assert mod.manifest_history(pages_dir) == []
        # live table unaffected
        assert {r.title for r in
                mod.read_pages_table(spark, pages_dir).collect()} == {"v1"}
        process(self._mk(spark, "v1"), 0)  # at-least-once replay
        assert len(mod.manifest_history(pages_dir)) == 1
        assert {r.title for r in
                mod.read_pages_table(spark, pages_dir).collect()} == {"v1"}


class TestWriterLockAndSchemaEvolution:
    def test_concurrent_writer_is_refused_until_release(self, tmp_path):
        from crawler_spark.streaming.ingest_stream import (
            ConcurrentWriteError, table_write_lock,
        )

        d = str(tmp_path / "pages")
        with table_write_lock(d):
            import pytest as _pytest
            with _pytest.raises(ConcurrentWriteError):
                with table_write_lock(d):
                    pass
        with table_write_lock(d):  # released -> acquirable again
            pass

    def test_crashed_writer_releases_lock(self, tmp_path):
        """flock is kernel-held: a crashed writer's lock releases the
        moment its fd closes — no stale-mtime break needed (mtime
        breaks have an unavoidable stat-then-steal TOCTOU). Simulate
        the crash by closing the fd without the context manager."""
        import fcntl
        import os as _os

        from crawler_spark.streaming.ingest_stream import table_write_lock

        d = str(tmp_path / "pages")
        _os.makedirs(d)
        lock = _os.path.join(d, "_COMMIT.lock")
        fd = _os.open(lock, _os.O_CREAT | _os.O_WRONLY)
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        _os.close(fd)  # "crash": kernel releases the lock
        with table_write_lock(d):
            pass

    def test_added_column_reads_as_null_for_old_buckets(self, spark, tmp_path):
        """Additive schema evolution: a column introduced by a later
        commit must not require rewriting earlier buckets — old rows
        surface NULL for it through the mergeSchema union."""
        from crawler_spark.streaming import ingest_stream as mod

        pages_dir = str(tmp_path / "pages")

        def commit(df, epoch):
            df.write.mode("overwrite").partitionBy("bucket") \
                .parquet(os.path.join(pages_dir, f"v={epoch}"))
            touched = [r.bucket for r in df.select("bucket").distinct().collect()]
            mod.commit_manifest(
                pages_dir, {**mod.read_manifest(pages_dir),
                            **{b: epoch for b in touched}})

        commit(spark.createDataFrame(
            [(1, 0, "a")], "doc_id long, bucket int, text string"), 0)
        commit(spark.createDataFrame(
            [(2, 1, "b", "en")],
            "doc_id long, bucket int, text string, lang string"), 1)
        live = mod.read_pages_table(spark, pages_dir)
        rows = {r.doc_id: r for r in live.collect()}
        assert rows[2].lang == "en"
        assert rows[1].lang is None  # old bucket never rewritten


class TestChangeDataFeed:
    def test_changes_between_snapshots(self, spark, tmp_path):
        from crawler_spark.streaming import ingest_stream as mod

        pages_dir = str(tmp_path / "pages")

        def commit(rows, epoch, schema="k string, bucket int, val string"):
            df = spark.createDataFrame(rows, schema)
            df.write.mode("overwrite").partitionBy("bucket") \
                .parquet(os.path.join(pages_dir, f"v={epoch}"))
            touched = [r.bucket for r in df.select("bucket").distinct().collect()]
            mod.commit_manifest(
                pages_dir, {**mod.read_manifest(pages_dir),
                            **{b: epoch for b in touched}})

        commit([("a", 0, "1"), ("b", 0, "1"), ("c", 1, "1")], 0)
        # bucket 0 rewritten: a updated, b deleted, d inserted; bucket 1 untouched
        commit([("a", 0, "2"), ("d", 0, "1")], 1)
        v1, v2 = mod.manifest_history(pages_dir)
        feed = {r.k: r._change_type for r in
                mod.pages_changes(spark, pages_dir, v1, v2, key="k").collect()}
        assert feed == {"a": "update", "b": "delete", "d": "insert"}
        # 'c' lives in an untouched bucket — must not even be scanned;
        # assert via the plan's input paths
        df = mod.pages_changes(spark, pages_dir, v1, v2, key="k")
        scanned = df._jdf.queryExecution().optimizedPlan().toString()
        assert "bucket=1" not in scanned

    def test_identical_snapshots_empty_feed(self, spark, tmp_path):
        from crawler_spark.streaming import ingest_stream as mod

        pages_dir = str(tmp_path / "pages")
        df = spark.createDataFrame([("a", 0, "1")], "k string, bucket int, val string")
        df.write.mode("overwrite").partitionBy("bucket") \
            .parquet(os.path.join(pages_dir, "v=0"))
        mod.commit_manifest(pages_dir, {0: 0})
        mod.commit_manifest(pages_dir, {0: 0})  # no-op commit
        v1, v2 = mod.manifest_history(pages_dir)
        assert mod.pages_changes(spark, pages_dir, v1, v2, key="k").count() == 0


class TestManifestReaderPruning:
    def test_bucket_filter_prunes_partitions(self, spark, tmp_path):
        """Filtering the manifest table on its bucket column must prune
        at the partition level (bucket= path dirs), not scan-and-drop —
        the property the O(touched partitions) merge depends on."""
        from crawler_spark.streaming import ingest_stream as mod

        pages_dir = str(tmp_path / "pages")
        df = spark.createDataFrame(
            [(i, i % 4, f"t{i}") for i in range(40)],
            "doc_id long, bucket int, val string")
        df.repartition(1, "bucket").write.mode("overwrite") \
            .partitionBy("bucket").parquet(os.path.join(pages_dir, "v=0"))
        mod.commit_manifest(pages_dir, {b: 0 for b in range(4)})
        live = mod.read_pages_table(spark, pages_dir).filter("bucket = 2")
        assert live.count() == 10
        plan = live._jdf.queryExecution().executedPlan().toString()
        import re as _re
        m = _re.search(r"PartitionFilters: \[[^\]]*bucket[^\]]*=\s*2", plan)
        assert m, f"no bucket=2 partition filter in plan:\n{plan[:2000]}"


class TestRebucket:
    def test_rebucket_preserves_rows_and_history(self, spark, tmp_path):
        from crawler_spark import schemas
        from crawler_spark.streaming import ingest_stream as mod

        pages_dir = str(tmp_path / "pages")
        process = mod.make_batch_processor(
            pages_dir, str(tmp_path / "dead"), num_buckets=2)
        rows = [(f"https://d{i}.test/p", "text/html",
                 f"<title>t{i}</title><body>x</body>".encode(), None)
                for i in range(12)]
        process(spark.createDataFrame(rows, schemas.FETCHED), 0)
        before = {(r.url, r.title)
                  for r in mod.read_pages_table(spark, pages_dir).collect()}
        pre_ver = mod.manifest_history(pages_dir)[-1]

        n = mod.rebucket_pages_table(spark, pages_dir, new_num_buckets=8)
        assert n > 2  # actually spread over more buckets
        after_df = mod.read_pages_table(spark, pages_dir)
        assert {(r.url, r.title) for r in after_df.collect()} == before
        # new layout agrees with the bucket function at the new count
        mismatch = after_df.filter(
            mod.domain_bucket("domain", 8) != F.col("bucket")).count()
        assert mismatch == 0
        # pre-migration snapshot still time-travels
        old = mod.read_pages_table_at(spark, pages_dir, pre_ver)
        assert {(r.url, r.title) for r in old.collect()} == before
        # a post-migration batch merges correctly at the new count
        process8 = mod.make_batch_processor(
            pages_dir, str(tmp_path / "dead"), num_buckets=8)
        process8(spark.createDataFrame(
            [("https://d0.test/p", "text/html",
              b"<title>t0v2</title><body>y</body>", None)],
            schemas.FETCHED), 1)
        final = {r.url: r.title
                 for r in mod.read_pages_table(spark, pages_dir).collect()}
        assert final["https://d0.test/p"] == "t0v2"
        assert len(final) == 12


class TestLakehouseModelCheck:
    """Model-based check of the manifest-table lakehouse: a random
    sequence of upsert/delete commits is applied both to the real
    table (commit protocol, bucketed directories) and to a plain dict
    model; every snapshot must time-travel to its model state and
    every (i, j) change feed must equal the model diff."""

    def _apply(self, spark, pages_dir, df_rows, touched, epoch):
        from crawler_spark.streaming import ingest_stream as mod

        df = spark.createDataFrame(
            df_rows or [], "k long, bucket int, val string")
        mod.apply_bucket_commit(pages_dir, df, epoch, touched=touched)

    def test_random_commit_sequences_match_model(self, spark, tmp_path):
        import itertools
        import random

        from crawler_spark.streaming import ingest_stream as mod

        rng = random.Random(42)
        for case in range(3):
            pages_dir = str(tmp_path / f"t{case}")
            model: dict[int, str] = {}
            snapshots = []
            live = {}
            for epoch in range(4):
                op = rng.choice(["upsert", "delete"]) if epoch else "upsert"
                if op == "upsert":
                    batch = {rng.randrange(12): f"v{epoch}.{i}"
                             for i in range(rng.randrange(1, 5))}
                    live = {**live, **batch}
                    touched = {k % 3 for k in batch}
                else:
                    doomed = [k for k in live if rng.random() < 0.5]
                    touched = {k % 3 for k in doomed}
                    live = {k: v for k, v in live.items() if k not in doomed}
                # rewrite full contents of touched buckets (merge shape)
                rows = [(k, k % 3, v) for k, v in live.items()
                        if k % 3 in touched]
                self._apply(spark, pages_dir, rows, touched, epoch)
                model = dict(live)
                snapshots.append(dict(model))
            hist = mod.manifest_history(pages_dir)
            assert len(hist) == len(snapshots)
            for ver, want in zip(hist, snapshots):
                snap = mod.read_pages_table_at(spark, pages_dir, ver)
                got = {} if snap is None else {
                    r.k: r.val for r in snap.collect()}
                assert got == want, (case, ver)
            # change feeds between every snapshot pair
            for i, j in itertools.combinations(range(len(hist)), 2):
                a, b = snapshots[i], snapshots[j]
                want_feed = {}
                for k in set(a) | set(b):
                    if k not in a:
                        want_feed[k] = "insert"
                    elif k not in b:
                        want_feed[k] = "delete"
                    elif a[k] != b[k]:
                        want_feed[k] = "update"
                got_feed = {r.k: r._change_type for r in mod.pages_changes(
                    spark, pages_dir, hist[i], hist[j], key="k").collect()}
                assert got_feed == want_feed, (case, i, j)


class TestApplyBucketCommitHardening:
    def test_epoch_reuse_does_not_destroy_sibling_buckets(self, spark, tmp_path):
        """Re-committing under an existing epoch must replace only the
        buckets in the new frame — static overwrite would truncate the
        whole v=<epoch> directory and strand the manifest."""
        from crawler_spark.streaming import ingest_stream as mod

        pages_dir = str(tmp_path / "pages")
        mod.apply_bucket_commit(pages_dir, spark.createDataFrame(
            [(1, 0, "a"), (2, 1, "b")], "k long, bucket int, val string"), 5)
        mod.apply_bucket_commit(pages_dir, spark.createDataFrame(
            [(3, 2, "c")], "k long, bucket int, val string"), 5)
        live = {r.k: r.val for r in
                mod.read_pages_table(spark, pages_dir).collect()}
        assert live == {1: "a", 2: "b", 3: "c"}

    def test_commit_under_held_lock_via_flag(self, spark, tmp_path):
        from crawler_spark.streaming import ingest_stream as mod

        pages_dir = str(tmp_path / "pages")
        df = spark.createDataFrame([(1, 0, "a")], "k long, bucket int, val string")
        with mod.table_write_lock(pages_dir):
            # flock is not reentrant: the helper must skip the lock
            mod.apply_bucket_commit(pages_dir, df, 0, use_lock=False)
        assert mod.read_pages_table(spark, pages_dir).count() == 1

    def test_commit_while_lock_held_elsewhere_is_refused(self, spark, tmp_path):
        import pytest as _pytest

        from crawler_spark.streaming import ingest_stream as mod

        pages_dir = str(tmp_path / "pages")
        df = spark.createDataFrame([(1, 0, "a")], "k long, bucket int, val string")
        with mod.table_write_lock(pages_dir):
            with _pytest.raises(mod.ConcurrentWriteError):
                mod.apply_bucket_commit(pages_dir, df, 0)


class TestStreamBatchEpochCoexistence:
    def test_stream_epochs_offset_past_batch_commits(self, spark, tmp_path):
        """A stream attached to a bulk-loaded table (epochs 0..k already
        committed by merge_into_bucketed) must not reuse epoch 0: its
        wholesale v=<epoch> overwrite would truncate the bulk load. The
        checkpoint-persisted base offsets stream epochs above everything
        committed, and a REPLAY (same checkpoint, same epoch_id)
        resolves the same directory."""
        import os

        from crawler_spark.operators.upsert import key_bucket, merge_into_bucketed
        from crawler_spark.streaming.ingest_stream import (
            make_batch_processor,
            read_pages_table,
        )

        pages_dir = str(tmp_path / "pages")
        dead_dir = str(tmp_path / "dead")
        ckpt = str(tmp_path / "ckpt")
        bulk = spark.createDataFrame(
            [(f"https://bulk{i}.com/", f"body {i}") for i in range(8)],
            "url string, content string",
        ).withColumn("bucket", key_bucket("url"))
        merge_into_bucketed(spark, pages_dir, bulk, key="url")
        assert os.path.isdir(os.path.join(pages_dir, "v=0"))
        n_bulk = read_pages_table(spark, pages_dir).count()

        process = make_batch_processor(pages_dir, dead_dir,
                                       checkpoint_dir=ckpt)
        batch = spark.createDataFrame(
            [("https://s1.com/", "text/html",
              b"<title>s1</title><body>stream one</body>", None)],
            schemas.FETCHED,
        )
        process(batch, 0)
        # bulk data intact, stream row merged in
        got = read_pages_table(spark, pages_dir)
        assert got.filter("url like 'https://bulk%'").count() == n_bulk
        assert got.filter("url = 'https://s1.com/'").count() == 1
        # the stream's epoch 0 landed ABOVE the batch epochs
        vdirs = sorted(int(d[2:]) for d in os.listdir(pages_dir)
                       if d.startswith("v="))
        assert vdirs[0] == 0 and vdirs[-1] >= 1
        n_before = got.count()  # materialize before replay rewrites v dirs
        # replay resolves the same base → same state, no duplicates
        process(batch, 0)
        assert read_pages_table(spark, pages_dir).count() == n_before


class TestStreamingDistilledFilter:
    def test_score_at_ingest_lockstep_with_batch_deployment(self, spark):
        """The streamed distill->deploy loop must produce BIT-IDENTICAL
        results to the batch deployment (curation_distilled_filter):
        the model is trained once, every doc's features stay inside its
        micro-batch, and the idempotent doc_id merge neither drops nor
        duplicates — so streaming vs batch is a pure execution-shape
        choice, not a semantics one. Also re-runs the stream in-process:
        the resumed checkpoint sees no new files, runs no batches, and
        the landed table stays converged (exactly-once)."""
        import __spark_entry__ as E

        qs = E.queries()
        sf = "/root/testdata/sf0.001"
        streamed = qs["streaming_distilled_filter_e2e"](spark, sf).collect()
        batch = qs["curation_distilled_filter"](spark, sf).collect()
        assert len(streamed) > 0
        assert sorted(map(tuple, streamed)) == sorted(map(tuple, batch))
        again = qs["streaming_distilled_filter_e2e"](spark, sf).collect()
        assert sorted(map(tuple, again)) == sorted(map(tuple, streamed))


class TestStreamingSemanticDedup:
    def test_verdicts_match_numpy_reference(self, spark):
        """The streamed incremental SemDeDup verdicts must equal an
        INDEPENDENT single-node reference: numpy recomputes the whole
        contract (l2-normalize, corpus top-1 list assignment, arriving
        top-2 probes, exact max cosine over the probed lists, 0.35
        threshold) straight from the parquet — so a bug anywhere in the
        distributed path (stream replay, probe pruning, broadcast join,
        idempotent merge) is a value mismatch, not just a drift. Also
        re-runs the stream in-process: the resumed checkpoint sees no
        new files and the landed table stays converged (exactly-once)."""
        import numpy as np
        import pandas as pd

        import __spark_entry__ as E
        from crawler_spark.plans.queries_vector import _ensure_ivf_centroids

        sf = SF
        qs = E.queries()
        streamed = qs["streaming_semantic_dedup_e2e"](spark, sf).collect()
        assert len(streamed) > 0

        pdf = pd.read_parquet(os.path.join(sf, "embeddings.parquet"),
                              columns=["vec_id", "embedding"])
        mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        mat = np.where(norms > 0, mat / np.where(norms == 0, 1, norms), mat)
        ids = pdf["vec_id"].to_numpy()
        arriving = ids % 10 == 0
        cmat = np.asarray(_ensure_ivf_centroids(spark, sf), dtype=np.float64)
        corpus_list = np.argmax(mat[~arriving] @ cmat.T, axis=1)
        probe = np.argsort(-(mat[arriving] @ cmat.T), axis=1)[:, :2]
        sims = mat[arriving] @ mat[~arriving].T
        expected = {}
        for i, vid in enumerate(ids[arriving]):
            in_probed = np.isin(corpus_list, probe[i])
            mx = float(sims[i][in_probed].max()) if in_probed.any() else -1.0
            expected[int(vid)] = (round(mx, 6),
                                  bool(in_probed.any() and mx >= 0.35))
        got = {r.vec_id: (r.max_cos, r.is_semantic_dup) for r in streamed}
        assert got == expected

        again = qs["streaming_semantic_dedup_e2e"](spark, sf).collect()
        assert sorted(map(tuple, again)) == sorted(map(tuple, streamed))
