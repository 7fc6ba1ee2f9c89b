"""Dedup / ANN / multimodal operator tests (SURVEY.md §7 M5).

The LSH operators are approximations, so their tests measure recall
against the exact oracle-checked baselines on data with planted
duplicates, plus invariants (pair ordering, thresholds, determinism).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    """documents plus planted near-duplicates: for every doc_id % 25 == 0,
    a copy with doc_id+10000 and one word changed → very high Jaccard."""
    from crawler_spark.sources import load_table

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    dups = (
        docs.filter(F.col("doc_id") % 25 == 0)
        .select(
            (F.col("doc_id") + 10000).alias("doc_id"),
            F.concat(F.lit("zzz "), F.substring("text", 5, 10_000)).alias("text"),
        )
    )
    return docs.unionByName(dups).cache()


class TestMinHashLSH:
    def test_signatures_shape_and_determinism(self, spark, near_dup_docs):
        from crawler_spark.operators.dedup import minhash_signatures

        sig = minhash_signatures(near_dup_docs, num_hashes=32)
        rows = sig.collect()
        assert all(len(r.signature) == 32 for r in rows)
        again = {r.id: r.signature for r in minhash_signatures(
            near_dup_docs, num_hashes=32).collect()}
        assert all(again[r.id] == r.signature for r in rows)

    def test_planted_dups_recalled(self, spark, near_dup_docs):
        from crawler_spark.operators.dedup import minhash_lsh_pairs

        pairs = minhash_lsh_pairs(near_dup_docs, est_threshold=0.5)
        got = {(r.id_a, r.id_b) for r in pairs.collect()}
        planted = {
            (r.doc_id, r.doc_id + 10000)
            for r in near_dup_docs.filter(
                (F.col("doc_id") % 25 == 0) & (F.col("doc_id") < 10000)).collect()
        }
        recall = len(got & planted) / len(planted)
        assert recall >= 0.9, f"LSH recall {recall} on planted near-dups"

    def test_pair_ordering_invariant(self, spark, near_dup_docs):
        from crawler_spark.operators.dedup import minhash_lsh_pairs

        pairs = minhash_lsh_pairs(near_dup_docs, est_threshold=0.4).collect()
        assert all(r.id_a < r.id_b for r in pairs)
        assert all(0.0 <= r.est_jaccard <= 1.0 for r in pairs)


class TestSimHash:
    def test_identical_docs_equal_simhash(self, spark):
        from crawler_spark.operators.dedup import simhash

        df = spark.createDataFrame(
            [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"),
             (3, "completely different words entirely")],
            "doc_id long, text string",
        )
        sigs = {r.id: r.simhash for r in simhash(df).collect()}
        assert sigs[1] == sigs[2]
        assert sigs[1] != sigs[3]

    def test_planted_dups_low_hamming(self, spark, near_dup_docs):
        from crawler_spark.operators.dedup import simhash_pairs

        pairs = simhash_pairs(near_dup_docs, max_hamming=8)
        got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
        planted = {
            (r.doc_id, r.doc_id + 10000)
            for r in near_dup_docs.filter(
                (F.col("doc_id") % 25 == 0) & (F.col("doc_id") < 10000)).collect()
        }
        recall = len(set(got) & planted) / len(planted)
        # two loss sources on short word-salad docs: a 1-word edit can
        # land at hamming 9-11 (> max_hamming), and 4×16-bit banding
        # only GUARANTEES candidates at hamming ≤ 3 — measured recall
        # on this corpus is 0.75 (15/20 planted pairs)
        assert recall >= 0.7, f"simhash recall {recall}"


class TestEmbeddingLSH:
    def test_high_recall_vs_exact(self, spark):
        from crawler_spark.operators.dedup import embedding_lsh_pairs
        from crawler_spark.operators.similarity import cosine_pairs_exact
        from crawler_spark.sources import load_table

        emb = load_table(spark, SF, "embeddings")
        exact = {
            (r.id_a, r.id_b)
            for r in cosine_pairs_exact(emb, threshold=0.35).collect()
        }
        approx = {
            (r.id_a, r.id_b)
            for r in embedding_lsh_pairs(emb, threshold=0.35).collect()
        }
        assert approx <= exact or not exact  # no false positives (exact re-rank)
        if exact:
            recall = len(approx & exact) / len(exact)
            assert recall >= 0.3, f"LSH ANN recall {recall} (tune planes/bands)"

    def test_murmur3_matches_spark_hash(self, spark):
        """The pure-Python murmur3 replica behind the Arrow projection
        kernel must equal F.hash's 3-int chain bit-for-bit — the plane
        matrix (and every bucket downstream) derives from it."""
        from pyspark.sql import functions as F

        from crawler_spark.operators.dedup import _murmur3_int32

        probes = [(s, p, j) for s in (42, 7) for p in (0, 3, 15)
                  for j in (0, 1, 63, 511)]
        row = spark.range(1).select(*[
            F.hash(F.lit(s), F.lit(p), F.lit(j)).alias(f"h{i}")
            for i, (s, p, j) in enumerate(probes)]).first()
        for i, (s, p, j) in enumerate(probes):
            got = _murmur3_int32(j, _murmur3_int32(p, _murmur3_int32(s, 42)))
            assert got == row[f"h{i}"], (s, p, j)

    def test_hyperplane_projection_kernel_bit_identical(self, spark):
        """Round-13 lock: the Arrow projection kernel must reproduce
        the old aggregate(transform(...)) expression fold BIT-FOR-BIT —
        projections, sign bits, and (band, bucket) assignments all
        flow from it, and the ANN pins downstream tolerate zero drift.
        Covers the real embeddings table plus NULL vector, NULL
        element, empty vector, and a ragged dimensionality."""
        from pyspark.sql import functions as F

        from crawler_spark.functions import vector as V
        from crawler_spark.operators.dedup import (
            hyperplane_projections,
            long_id,
        )
        from crawler_spark.sources import load_table

        def expression_form(df, vec_col, id_col, num_planes, seed):
            # the pre-round-13 in-expression fold, verbatim
            def plane_component(plane, j):
                h = F.hash(F.lit(seed), F.lit(plane), j)
                return h.cast("double") / F.lit(2147483648.0)

            def projection(plane):
                return F.aggregate(
                    F.transform("v", lambda x, j: x * plane_component(plane, j)),
                    F.lit(0.0).cast("double"),
                    lambda a, x: a + x,
                )

            norm = df.select(long_id(df, id_col).alias("id"),
                             V.l2_normalize(vec_col).alias("v"))
            return norm.select(
                "id", "v",
                F.array(*[projection(i) for i in range(num_planes)])
                .alias("proj"),
            )

        emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
        weird = spark.createDataFrame(
            [(9000001, None),
             (9000002, [1.0, None, 0.5]),
             (9000003, []),
             (9000004, [0.25, -0.75]),
             (9000005, [0.0, 0.0, 0.0]),  # zero norm: passthrough arm
             (9000006, [1e-18, -1e-18, 1e-18, 2.0])],
            "vec_id long, embedding array<double>")
        for df in (emb, weird):
            want = {r.id: (r.v, r.proj) for r in expression_form(
                df, "embedding", "vec_id", 16, 42).collect()}
            got = {r.id: (r.v, r.proj) for r in hyperplane_projections(
                df, "embedding", "vec_id", 16, 42).collect()}
            assert got == want  # exact float equality, no tolerance

    def test_canonical_closure_follows_chains(self, spark):
        """Multi-hop chains resolve to the component minimum, also where
        one hop stops short (9's neighbors are only 5)."""
        from crawler_spark.operators.dedup import canonical_closure

        pairs = spark.createDataFrame(
            [(5, 9), (1, 5), (9, 11), (2, 7)], "id_a long, id_b long"
        )
        ids = spark.createDataFrame([(i,) for i in [1, 2, 5, 7, 9, 11, 20]],
                                    "vec_id long")
        got = {r.id: r.canonical_id
               for r in canonical_closure(pairs, ids, "vec_id").collect()}
        assert got == {1: 1, 5: 1, 9: 1, 11: 1, 2: 2, 7: 2, 20: 20}


class TestStarClosure:
    def test_matches_min_label_closure_on_random_graph(self, spark):
        """large-star/small-star is a drop-in for canonical_closure:
        identical labels on a seeded random graph with chains, cycles,
        a clique, and singletons."""
        import random

        from crawler_spark.operators.dedup import (
            canonical_closure,
            connected_components_star,
        )

        rng = random.Random(7)
        nodes = list(range(1, 120))
        edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(80)]
        edges = [(a, b) for a, b in edges if a != b]
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        ids = spark.createDataFrame([(n,) for n in nodes], "vec_id long")
        want = {r.id: r.canonical_id
                for r in canonical_closure(pairs, ids, "vec_id").collect()}
        got = {r.id: r.canonical_id
               for r in connected_components_star(pairs, ids, "vec_id").collect()}
        assert got == want

    def test_long_chain_converges_in_log_rounds(self, spark):
        """A 64-link chain resolves with max_iterations=8 — min-label
        propagation would need ~64 rounds for the same graph. This is
        the whole point of the star upgrade."""
        from crawler_spark.operators.dedup import connected_components_star

        chain = [(i, i + 1) for i in range(1, 65)]
        pairs = spark.createDataFrame(chain, "id_a long, id_b long")
        ids = spark.createDataFrame([(i,) for i in range(1, 66)], "vec_id long")
        got = {r.id: r.canonical_id
               for r in connected_components_star(
                   pairs, ids, "vec_id", max_iterations=8).collect()}
        assert got == {i: 1 for i in range(1, 66)}

    def test_empty_pairs_all_singletons(self, spark):
        from crawler_spark.operators.dedup import connected_components_star

        pairs = spark.createDataFrame([], "id_a long, id_b long")
        ids = spark.createDataFrame([(i,) for i in (3, 8)], "vec_id long")
        got = {r.id: r.canonical_id
               for r in connected_components_star(pairs, ids, "vec_id").collect()}
        assert got == {3: 3, 8: 8}

    def test_small_graph_fast_path_matches_distributed(self, spark):
        """Round-13 lock for the driver-side union-find fast path: on a
        seeded random graph (chains, cycles, duplicate + symmetric edge
        rows, singletons) BOTH operators produce identical labels with
        the fast path engaged (default limit) and forced OFF
        (small_graph_limit=0 → the distributed loops of record)."""
        import random

        from crawler_spark.operators.dedup import (
            canonical_closure,
            connected_components_star,
        )

        rng = random.Random(13)
        nodes = list(range(1, 150))
        edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(110)]
        edges = [(a, b) for a, b in edges if a != b]
        edges += [(b, a) for a, b in edges[:20]] + edges[:10]  # dups/sym
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        ids = spark.createDataFrame([(n,) for n in nodes], "vec_id long")
        for op in (canonical_closure, connected_components_star):
            fast = {r.id: r.canonical_id
                    for r in op(pairs, ids, "vec_id").collect()}
            dist = {r.id: r.canonical_id
                    for r in op(pairs, ids, "vec_id",
                                small_graph_limit=0).collect()}
            assert fast == dist, op.__name__


class TestHotShingleCap:
    def test_cap_identity_when_no_hot_shingles(self, spark):
        """With a cap above the corpus's max shingle document-frequency
        the capped query returns EXACTLY the exact query's pairs."""
        from crawler_spark.plans.queries_text import ngram_jaccard_pairs
        from crawler_spark.sources import load_table

        docs = load_table(spark, SF, "documents")
        grams_max_df = (
            docs.select(F.explode(F.array_distinct(
                __import__("crawler_spark.functions.text", fromlist=["text"])
                .word_shingles("text", 3))).alias("g"))
            .groupBy("g").count().agg(F.max("count")).collect()[0][0]
        )
        exact = {(r.id_a, r.id_b, r.jaccard)
                 for r in ngram_jaccard_pairs(docs).collect()}
        capped = {(r.id_a, r.id_b, r.jaccard)
                  for r in ngram_jaccard_pairs(
                      docs, max_shingle_df=grams_max_df + 1).collect()}
        assert capped == exact and exact

    def test_capped_closure_matches_exact_closure(self, spark):
        """The 100 TB end-to-end shape: transitive closure over the
        CAPPED pair generator produces identical canonical components
        to the exact closure on the testdata (no shingle exceeds the
        cap there, so the pair sets coincide)."""
        from crawler_spark.plans.queries_text import (
            dedup_canonical,
            dedup_canonical_capped,
        )

        exact = {(r.doc_id, r.canonical_id)
                 for r in dedup_canonical(spark, SF).collect()}
        capped = {(r.doc_id, r.canonical_id)
                  for r in dedup_canonical_capped(spark, SF).collect()}
        assert capped == exact and exact

    def test_tiny_cap_only_loses_pairs_never_invents(self, spark):
        from crawler_spark.plans.queries_text import ngram_jaccard_pairs
        from crawler_spark.sources import load_table

        docs = load_table(spark, SF, "documents")
        exact = {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(docs).collect()}
        capped = {(r.id_a, r.id_b)
                  for r in ngram_jaccard_pairs(docs, max_shingle_df=1).collect()}
        assert capped <= exact


class TestLazyPlanBuild:
    def test_pair_plans_trigger_no_jobs_at_build(self, spark):
        """Constructing the exact-cosine and LSH pair plans must run ZERO
        Spark jobs — r1 did an eager collect()/first() at build time."""
        from crawler_spark.operators.dedup import embedding_lsh_pairs
        from crawler_spark.operators.similarity import cosine_pairs_exact
        from crawler_spark.sources import load_table

        emb = load_table(spark, SF, "embeddings")
        sc = spark.sparkContext
        sc.setJobGroup("plan-build-probe", "lazy-construction check")
        try:
            cosine_pairs_exact(emb, threshold=0.5)
            embedding_lsh_pairs(emb, threshold=0.5)
            jobs = sc.statusTracker().getJobIdsForGroup("plan-build-probe")
        finally:
            sc.setJobGroup(None, None)
        assert list(jobs) == [], f"plan construction ran jobs: {jobs}"


class TestMultimodal:
    def test_decode_and_error_branch(self, spark):
        from crawler_spark.operators.multimodal import (
            decode_metadata,
            synthesize_media_from_documents,
        )
        from crawler_spark.sources import load_table

        media = synthesize_media_from_documents(load_table(spark, SF, "documents"))
        decoded = decode_metadata(media).cache()
        ok = decoded.filter(F.col("decode_error").isNull())
        bad = decoded.filter(F.col("decode_error").isNotNull())
        assert ok.filter(F.col("format") == "fakeimg").count() > 0
        assert ok.filter(F.col("format") == "fakevid").count() > 0
        auds = ok.filter(F.col("format") == "fakeaud").collect()
        assert auds and all(r.sample_rate > 0 and r.n_samples > 0 for r in auds)
        # doc_id % 4 == 3 rows are junk payloads → NotImplementedError branch
        assert bad.count() > 0
        assert all("NotImplementedError" in r.decode_error for r in bad.collect())

    def test_real_image_branch_via_fake_pil(self, monkeypatch):
        """Drive the real-PIL decode branch's control flow with a fake
        ``PIL`` module (the lib isn't in this image): non-fake payloads
        route to Image.open and yield real metadata; decode errors
        still surface as exceptions for the dead-letter wrapper."""
        import sys
        import types

        import pytest as _pytest

        from crawler_spark.operators.multimodal import _decode_fake

        class _FakeImg:
            width, height, format = 640, 480, "JPEG"

            def __enter__(self):
                return self

            def __exit__(self, *exc):
                return False

        pil = types.ModuleType("PIL")
        image_mod = types.ModuleType("PIL.Image")

        def _open(fp):
            data = fp.read()
            if data == b"\xffcorrupt":
                raise OSError("cannot identify image file")
            return _FakeImg()

        image_mod.open = _open
        pil.Image = image_mod
        monkeypatch.setitem(sys.modules, "PIL", pil)
        monkeypatch.setitem(sys.modules, "PIL.Image", image_mod)
        got = _decode_fake(b"\xff\xd8\xff realish jpeg bytes")
        assert got == {"width": 640, "height": 480, "n_frames": 1,
                       "format": "jpeg"}
        with _pytest.raises(OSError):
            _decode_fake(b"\xffcorrupt")

    def test_audio_resample(self, spark):
        from crawler_spark.operators.multimodal import (
            decode_metadata,
            resample_audio,
            synthesize_media_from_documents,
        )
        from crawler_spark.sources import load_table

        media = synthesize_media_from_documents(load_table(spark, SF, "documents"))
        resampled = decode_metadata(resample_audio(media, 16000))
        auds = resampled.filter(F.col("format") == "fakeaud").collect()
        assert auds and all(r.sample_rate == 16000 for r in auds)
        # non-audio rows pass through untouched
        assert resampled.filter(F.col("format") == "fakeimg").count() > 0

    def test_resize_and_frame_sampling(self, spark):
        from crawler_spark.operators.multimodal import (
            decode_metadata,
            resize_images,
            sample_frames,
            synthesize_media_from_documents,
        )
        from crawler_spark.sources import load_table

        media = synthesize_media_from_documents(load_table(spark, SF, "documents"))
        resized = decode_metadata(resize_images(media, 32, 32))
        imgs = resized.filter(F.col("format") == "fakeimg").collect()
        assert imgs and all(r.width == 32 and r.height == 32 for r in imgs)

        frames = sample_frames(media, every_n=10)
        per_video = frames.groupBy("media_id").count().collect()
        assert per_video and all(r["count"] >= 3 for r in per_video)  # ≥30 frames / 10


class TestHotShingleCap:
    def test_cap_drops_hot_only_pairs_and_lower_bounds_scores(self, spark):
        """When the cap BINDS: docs related only through a hot shingle
        must not pair at all, and pairs that share hot + cold shingles
        must score <= their exact Jaccard (shared drops, sizes stay
        uncapped -> lower bound), never above."""
        from crawler_spark.plans.queries_text import ngram_jaccard_pairs

        # 6 identical docs: one shingle ("aa bb cc"), df=6 > cap=3
        hot_only = [(i, "aa bb cc") for i in range(6)]
        # 2 docs sharing that hot shingle AND three cold shingles
        mixed = [(10, "aa bb cc dd ee ff"), (11, "aa bb cc dd ee ff")]
        docs = spark.createDataFrame(hot_only + mixed, "doc_id long, text string")

        exact = {(r.id_a, r.id_b): r.jaccard
                 for r in ngram_jaccard_pairs(docs, threshold=0.1).collect()}
        capped = {(r.id_a, r.id_b): r.jaccard
                  for r in ngram_jaccard_pairs(docs, threshold=0.1,
                                               max_shingle_df=3).collect()}

        # exact pairs all 6 hot-only docs; capped pairs none of them
        assert all((a, b) in exact for a in range(6) for b in range(a + 1, 6))
        assert not any(a < 6 for (a, b) in capped)
        # the mixed pair survives via its cold shingles, score lower-bounded:
        # shared drops 4 -> 3, sizes stay 4 -> 3/(4+4-3) = 0.6 < exact 1.0
        assert exact[(10, 11)] == 1.0
        assert capped[(10, 11)] == pytest.approx(0.6)


class TestSemanticDedup:
    def test_pairs_subset_of_exact_with_measured_recall(self, spark):
        """Every semantic pair is a true >= threshold pair (precision 1
        by construction — exact cosine inside clusters); recall vs the
        exact all-pairs baseline is the boundary-miss rate, measured."""
        from crawler_spark.operators.similarity import (
            cosine_pairs_exact,
            semantic_dedup_pairs,
            train_ivf_centroids,
        )
        from crawler_spark.sources import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        cents = train_ivf_centroids(emb, n_centroids=16)
        sem = {(r.id_a, r.id_b)
               for r in semantic_dedup_pairs(emb, cents, 0.35).collect()}
        exact = {(r.id_a, r.id_b)
                 for r in cosine_pairs_exact(emb, 0.35).collect()}
        assert sem <= exact, "semantic pairs contain a false positive"
        recall = len(sem & exact) / len(exact)
        # embeddings that agree at cos >= 0.35 usually share a centroid;
        # boundary pairs are the honest loss — keep a measured floor
        assert recall >= 0.5, f"semantic dedup recall {recall}"

    def test_keep_list_consistent_with_components(self, spark):
        from crawler_spark.operators.similarity import (
            semantic_dedup_keep,
            semantic_dedup_pairs,
            train_ivf_centroids,
        )
        from crawler_spark.sources import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        cents = train_ivf_centroids(emb, n_centroids=16)
        keep = semantic_dedup_keep(emb, cents, 0.35).collect()
        label = {r.id: r.canonical_id for r in keep}
        # keepers are exactly the canonical ids; every label is a keeper
        for r in keep:
            assert r.keep == (r.id == r.canonical_id)
            assert label[r.canonical_id] == r.canonical_id
        # every near-dup pair ended up in one component
        for p in semantic_dedup_pairs(emb, cents, 0.35).collect():
            assert label[p.id_a] == label[p.id_b]


class TestCountMinSketch:
    def test_one_sided_error_under_forced_collisions(self, spark):
        """w=4 buckets guarantees collisions on a 30-word vocab: every
        estimate must still be >= the exact count (CMS never
        underestimates), and with the registered w=256 the top-30 have
        zero overestimate on this corpus (no collisions among them)."""
        from crawler_spark.plans.queries_text import cms_token_counts
        from crawler_spark.sources import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        rows = cms_token_counts(docs, d=4, w=4).collect()
        assert rows, "no tokens"
        assert all(r.overestimate >= 0 for r in rows)
        assert any(r.overestimate > 0 for r in rows), (
            "w=4 on a 30-token vocab must collide somewhere")
        # exact counts agree with the exact heavy-hitters query
        import __spark_entry__ as E

        exact = {r.token: r.cnt for r in
                 E.queries()["txt_heavy_hitters"](spark,
                     "/root/testdata/sf0.001").collect()}
        got = {r.tok: r.exact_count for r in rows}
        for t, n in exact.items():
            if t in got:
                assert got[t] == n


class TestPhashNearDup:
    def test_crafted_hamming_neighbors_caught_and_junk_dropped(self, spark):
        """Hand-built payloads: one exact dup (hamming 0), one 1-bit
        body flip (hamming 1 — caught by pigeonhole banding), one far
        body (dropped by the hamming<=3 verify), junk and audio rows
        ignored entirely."""
        from crawler_spark.operators.dedup import (
            hamming_pairs_from_signatures)
        from crawler_spark.operators.multimodal import (
            FAKE_IMAGE_MAGIC, fake_audio, phash_images)

        body = bytes(range(32))
        flip1 = bytes([body[0] ^ 0x01]) + body[1:]   # 1 bit differs
        far = bytes(b ^ 0xFF for b in body)          # 64 bits differ
        mk = lambda b: FAKE_IMAGE_MAGIC + b"8x8:" + b
        rows = [
            (1, "image", mk(body)),
            (2, "image", mk(body)),       # exact dup of 1
            (3, "image", mk(flip1)),      # hamming 1 from 1/2
            (4, "image", mk(far)),        # unrelated
            (5, "audio", fake_audio(8000, 100, "x")),
            (6, "unknown", b"not an image"),
        ]
        media = spark.createDataFrame(
            rows, "media_id long, media_type string, payload binary")
        sig = phash_images(media)
        got = {r.id: r.simhash for r in sig.collect()}
        assert set(got) == {1, 2, 3, 4}, "non-images must be dropped"
        assert got[1] == got[2]
        pairs = {(r.id_a, r.id_b): r.hamming for r in
                 hamming_pairs_from_signatures(sig, max_hamming=3).collect()}
        assert pairs[(1, 2)] == 0
        assert pairs[(1, 3)] == 1 and pairs[(2, 3)] == 1
        assert not any(4 in p for p in pairs), "far image paired"


class TestClipFilter:
    def test_deterministic_and_threshold_monotone(self, spark):
        import __spark_entry__ as E

        sf = "/root/testdata/sf0.001"
        a = E.queries()["multimodal_clip_filter"](spark, sf).collect()
        b = E.queries()["multimodal_clip_filter"](spark, sf).collect()
        assert [(r.doc_id, r.clip_score) for r in a] == [
            (r.doc_id, r.clip_score) for r in b]
        assert all(r.clip_score > -0.05 for r in a)
        # kept set is a strict, non-empty subset of the image universe
        from crawler_spark.sources import load_table
        n_images = load_table(spark, sf, "documents").filter(
            "doc_id % 4 = 0").count()
        assert 0 < len(a) < n_images


class TestFuzzyLevenshtein:
    def test_typo_variants_within_block_are_caught(self, spark):
        import crawler_spark.plans.queries_dedup as QD
        from crawler_spark.plans.queries_dedup import dedup_fuzzy_levenshtein

        rows = [
            (1, "the quick brown fox jumps high"),
            (2, "the quick brwon fox jumps high"),   # transposition: dist 2
            (3, "the quick brown fxo jumps high"),   # transposition: dist 2
            (4, "the quick brown fox leaps high"),   # word swap: dist > 2
            (5, "completely different text entirely now"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        orig = QD.load_table
        try:
            QD.load_table = lambda sp, sf, t: df
            got = {(r.doc_a, r.doc_b): r.dist for r in
                   dedup_fuzzy_levenshtein(spark, "unused").collect()}
        finally:
            QD.load_table = orig
        assert got[(1, 2)] == 2 and got[(1, 3)] == 2
        assert (1, 4) not in got          # 4 edits: outside the radius
        assert all(5 not in p for p in got)
        # blocking recall trade is real: a first-char edit escapes the
        # block even at dist 1 — documented, multi-pass blocking is the fix
        df2 = spark.createDataFrame(
            [(1, "alpha beta"), (2, "blpha beta")], "doc_id long, text string")
        try:
            QD.load_table = lambda sp, sf, t: df2
            got2 = dedup_fuzzy_levenshtein(spark, "unused").collect()
        finally:
            QD.load_table = orig
        assert got2 == []


# --- prefix-filtered exact Jaccard (SSJoin/PPJoin prefix principle) --------
def test_prefix_filtered_jaccard_equals_all_shingle_path(spark):
    from crawler_spark.plans.queries_text import (
        jaccard_pairs_prefix_filtered,
        ngram_jaccard_pairs,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog tonight"),
        (3, "a completely different sentence about spark joins here"),
        (4, "a completely different sentence about spark joins there"),
        (5, "short text"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.3, 0.5, 0.8):
        exact = sorted(
            map(tuple, ngram_jaccard_pairs(docs, 3, t).collect())
        )
        pref = sorted(
            map(tuple,
                jaccard_pairs_prefix_filtered(docs, 3, t).collect())
        )
        assert pref == exact, f"threshold {t}"


def test_prefix_filter_prunes_candidates(spark):
    """The prefix join must generate strictly fewer candidate pairs
    than documents sharing ANY shingle — the algorithm's reason to
    exist. Construct docs that share only COMMON shingles (present in
    every doc, so never in a rarest-first prefix at high threshold)."""
    from pyspark.sql import functions as F

    from crawler_spark.plans.queries_text import (
        jaccard_pairs_prefix_filtered,
    )

    base = "alpha beta gamma delta epsilon"
    rows = [(i, f"{base} unique{i} token{i} word{i} mark{i}")
            for i in range(12)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = jaccard_pairs_prefix_filtered(docs, 3, 0.9).collect()
    assert got == []  # shared boilerplate alone can't reach J >= 0.9


def test_hamming_bands_derive_from_max_hamming(spark):
    """max_hamming > 3 must still find every qualifying pair: with the
    old FIXED 4x16-bit banding, 4 differing bits placed one per band
    (bits 0, 16, 32, 48) share no band bucket and the pair silently
    vanishes. Band count now derives from max_hamming (pigeonhole)."""
    from crawler_spark.operators.dedup import hamming_pairs_from_signatures

    a = 0
    b = (1 << 0) | (1 << 16) | (1 << 32) | (1 << 48)  # hamming 4
    sig = spark.createDataFrame([(1, a), (2, b)], "id long, simhash long")
    got = hamming_pairs_from_signatures(sig, max_hamming=8).collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in got] == [(1, 2, 4)]
    # and the classic geometry still enforces its own bound
    assert hamming_pairs_from_signatures(sig, max_hamming=3).count() == 0


def test_hamming_zero_exact_duplicates(spark):
    """max_hamming=0 (exact 64-bit duplicate detection) is inside the
    guard's advertised [0, 31] range and must work: one 64-bit band
    needs NO mask — the former (1 << 64) - 1 literal overflowed
    LongType and crashed plan construction (review-found)."""
    from crawler_spark.operators.dedup import hamming_pairs_from_signatures

    sig = spark.createDataFrame(
        [(1, 42), (2, 42), (3, 43)], "id long, simhash long")
    got = hamming_pairs_from_signatures(sig, max_hamming=0).collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in got] == [(1, 2, 0)]


def test_repeated_spans_null_doc_id_never_deletes_class(spark):
    """A NULL doc id winning the first-occurrence struct-min used to
    make `kept` NULL for the WHOLE span class — F.filter treats NULL
    as false, silently deleting the class corpus-wide (first
    occurrence included) with n_removed = 0 (review-found, the
    destructive direction). eqNullSafe keeps exactly one occurrence."""
    from crawler_spark.operators.dedup import dedup_repeated_spans

    df = spark.createDataFrame(
        [(None, "a b c d"), (1, "a b c d")], "doc_id long, text string")
    got = {r.doc_id: r for r in
           dedup_repeated_spans(df, span_tokens=4).collect()}
    texts = {k: v.text_clean for k, v in got.items()}
    # exactly one of the two rows keeps the span; none lose it silently
    kept = [t for t in texts.values() if t == "a b c d"]
    removed = [v for v in got.values() if v.n_removed == 1]
    assert len(kept) == 1, texts
    assert len(removed) == 1


def test_embedding_lsh_pairs_null_and_ragged_vectors(spark):
    """≥2 NULL embeddings used to reach one bucket where np.stack on
    [None, None] degrades to a 1-D object array and the nonzero unpack
    raises mid-job; two vectors of different dimensionality in one
    bucket hit the same ragged-stack crash (review-found). NULLs are
    now excluded up front and pairs are emitted within equal-dim
    groups only."""
    from crawler_spark.operators.dedup import embedding_lsh_pairs

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, None), (4, None),
         (5, [1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    got = embedding_lsh_pairs(df, threshold=0.9).collect()
    ids = {(r.id_a, r.id_b) for r in got}
    assert (1, 2) in ids
    assert all(3 not in p and 4 not in p for p in ids), ids


def test_simhash_pairs_empty_docs_do_not_cluster(spark):
    """Token-less docs all hash to signature 0; they used to form one
    corpus-wide mutual 'near-dup' cluster (N·(N-1)/2 hamming-0 pairs
    and an N-element bucket buffer). They are excluded before signing,
    mirroring the MinHash path's shingle-less behavior."""
    from crawler_spark.operators.dedup import simhash_pairs

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, None),
         (4, "real duplicate text here"), (5, "real duplicate text here")],
        "doc_id long, text string",
    )
    got = simhash_pairs(df).collect()
    assert [(r.id_a, r.id_b) for r in got] == [(4, 5)]


def test_canonical_closure_raises_on_non_convergence(spark):
    """Exhausting max_iterations used to return silently SPLIT
    components — wrong canonical ids with no signal (review-found).
    It now fails loud; connected_components_star handles long chains
    in O(log d) rounds instead."""
    import pytest as _pytest

    from crawler_spark.operators.dedup import (
        canonical_closure,
        connected_components_star,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "id_a long, id_b long")
    ids = spark.createDataFrame([(i,) for i in range(1, 9)], "id long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        # small_graph_limit=0 forces the distributed loop — the fast
        # path would resolve this chain driver-side without iterating
        canonical_closure(chain, ids, "id", max_iterations=2,
                          small_graph_limit=0)
    # the star algorithm converges the same chain comfortably
    star = {r.id: r.canonical_id for r in
            connected_components_star(chain, ids, "id").collect()}
    assert set(star.values()) == {1}


class TestSemanticDedupIncremental:
    def test_waves_match_numpy_sequential_reference(self, spark):
        """The self-growing semantic dedup must equal an INDEPENDENT
        single-node reference: numpy replays the same 4 vec_id-mod
        waves sequentially — per wave, top-2 probe against the shared
        centroids, exact max cosine against the accepted-so-far set
        restricted to the probed lists, the same cluster-scoped
        intra-batch pair rule with min-id closure, then acceptance —
        straight from the parquet. A bug anywhere in the distributed
        loop (probe pruning, broadcast scoring, the closure, the index
        append that feeds the NEXT wave) is a value mismatch."""
        import os

        import numpy as np
        import pandas as pd

        import __spark_entry__ as E
        from crawler_spark.plans.queries_vector import _ensure_ivf_centroids

        got_rows = E.queries()["dedup_semantic_incremental"](
            spark, SF).collect()
        got = {r.vec_id: (r.max_cos, r.dup_of_corpus, r.intra_dup,
                          r.accepted) for r in got_rows}

        pdf = pd.read_parquet(os.path.join(SF, "embeddings.parquet"),
                              columns=["vec_id", "embedding"])
        mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        vn = np.where(norms > 0, mat / np.where(norms == 0, 1, norms), mat)
        ids = pdf["vec_id"].to_numpy()
        cmat = np.asarray(_ensure_ivf_centroids(spark, SF),
                          dtype=np.float64)
        THR = 0.35

        def components(pairs, nodes):
            lbl = {n: n for n in nodes}
            changed = True
            while changed:
                changed = False
                for a, b in pairs:
                    m = min(lbl[a], lbl[b])
                    for x in (a, b):
                        if lbl[x] > m:
                            lbl[x] = m
                            changed = True
            return lbl

        expected = {}
        acc_v: list[np.ndarray] = []   # accepted unit vectors so far
        acc_list: list[int] = []       # their top-1 list assignment
        for k in range(4):
            sel = ids % 4 == k
            bids, bv = ids[sel], vn[sel]
            probe = np.argsort(-(bv @ cmat.T), axis=1)[:, :2]
            # stage 1: vs accepted-so-far, probed lists only
            surv_idx = []
            for i, vid in enumerate(bids):
                if acc_v:
                    am = np.stack(acc_v)
                    al = np.asarray(acc_list)
                    in_probed = np.isin(al, probe[i])
                    if in_probed.any():
                        mx = float((bv[i] @ am.T)[in_probed].max())
                        dup = mx >= THR
                        expected[int(vid)] = [round(mx, 6), dup]
                    else:
                        expected[int(vid)] = [-1.0, False]
                        dup = False
                else:
                    expected[int(vid)] = [-1.0, False]
                    dup = False
                if not dup:
                    surv_idx.append(i)
            # stage 2: intra-batch pairs among survivors, cluster-scoped
            # (semantic_dedup_pairs re-normalizes — mirror it)
            sv = bv[surv_idx]
            sn = np.linalg.norm(sv, axis=1, keepdims=True)
            sv2 = np.where(sn > 0, sv / np.where(sn == 0, 1, sn), sv)
            stop = np.argsort(-(sv2 @ cmat.T), axis=1)[:, :2]
            sims = sv2 @ sv2.T
            pairs = set()
            for a in range(len(surv_idx)):
                for b in range(a + 1, len(surv_idx)):
                    if sims[a, b] >= THR and (
                            set(stop[a]) & set(stop[b])):
                        ia, ib = int(bids[surv_idx[a]]), int(bids[surv_idx[b]])
                        pairs.add((min(ia, ib), max(ia, ib)))
            nodes = [int(bids[i]) for i in surv_idx]
            lbl = components(pairs, nodes)
            for i in surv_idx:
                vid = int(bids[i])
                keep = lbl[vid] == vid
                expected[vid] += [not keep, keep]
                if keep:
                    acc_v.append(bv[i])
                    acc_list.append(int(np.argmax(bv[i] @ cmat.T)))
            for i, vid in enumerate(bids):
                if i not in surv_idx:
                    expected[int(vid)] += [False, False]
        expected = {v: tuple(row) for v, row in expected.items()}
        assert got == expected
