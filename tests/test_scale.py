"""Tests for the shuffle-shape operators: salted join (operators/
skew.py) result-equivalence with the plain join it replaces, and the
bucketed co-located join (sources/bucketed.py) producing an
exchange-free, sort-free sort-merge join."""

from __future__ import annotations

import contextlib
import io
from collections import Counter

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def plan_text(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def row_multiset(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


class TestSaltedJoin:
    def _tables(self, spark):
        fact = spark.createDataFrame(
            [(i, ["a", "a", "a", "b", "c"][i % 5]) for i in range(200)]
            + [(1000, "zzz")],  # key absent from dim
            "id long, k string",
        )
        dim = spark.createDataFrame(
            [("a", 1), ("b", 2), ("c", 3), ("d", 4)], "k string, payload int"
        )
        return fact, dim

    def test_inner_matches_plain_join(self, spark):
        from crawler_spark.operators.skew import salted_join

        fact, dim = self._tables(spark)
        salted = salted_join(fact, dim, on="k", num_salts=4)
        plain = fact.join(dim, on="k", how="inner")
        assert sorted(salted.columns) == sorted(plain.columns)
        assert row_multiset(salted.select(*plain.columns)) == row_multiset(plain)

    def test_left_matches_plain_join(self, spark):
        from crawler_spark.operators.skew import salted_join

        fact, dim = self._tables(spark)
        salted = salted_join(fact, dim, on="k", num_salts=4, how="left")
        plain = fact.join(dim, on="k", how="left")
        # the unmatched 'zzz' row must survive with a NULL payload
        assert row_multiset(salted.select(*plain.columns)) == row_multiset(plain)

    def test_hot_keys_path_matches_plain_join(self, spark):
        from crawler_spark.operators.skew import salted_join

        fact, dim = self._tables(spark)
        for how in ("inner", "left"):
            salted = salted_join(
                fact, dim, on="k", num_salts=4, how=how, hot_keys=["a"]
            )
            plain = fact.join(dim, on="k", how=how)
            assert row_multiset(salted.select(*plain.columns)) == row_multiset(
                plain
            ), how

    def test_null_keys_route_through_cold_path(self, spark):
        from crawler_spark.operators.skew import salted_join

        fact = spark.createDataFrame(
            [(1, "a"), (2, None), (3, "b")], "id long, k string"
        )
        dim = spark.createDataFrame([("a", 10), ("b", 20)], "k string, p int")
        salted = salted_join(fact, dim, on="k", how="left", hot_keys=["a"])
        plain = fact.join(dim, on="k", how="left")
        assert row_multiset(salted.select(*plain.columns)) == row_multiset(plain)

    def test_salt_widens_join_key(self, spark):
        """The join must run on (key, __salt) — visible in the plan as a
        join condition mentioning __salt — and __salt must not leak into
        the output columns."""
        from crawler_spark.operators.skew import salted_join

        fact, dim = self._tables(spark)
        out = salted_join(fact, dim.hint("merge"), on="k", num_salts=4)
        assert "__salt" not in out.columns
        assert "__salt" in plan_text(out)

    def test_rejects_bad_args(self, spark):
        from crawler_spark.operators.skew import salted_join

        fact, dim = self._tables(spark)
        with pytest.raises(ValueError):
            salted_join(fact, dim, on="k", num_salts=1)
        with pytest.raises(ValueError):
            salted_join(fact, dim, on="k", how="full")


class TestBucketedJoin:
    def test_ensure_bucketed_idempotent(self, spark):
        from crawler_spark.sources.bucketed import ensure_bucketed

        a = ensure_bucketed(spark, SF, "orders", "o_orderkey", num_buckets=4)
        b = ensure_bucketed(spark, SF, "orders", "o_orderkey", num_buckets=4)
        assert a == b and spark.catalog.tableExists(a)

    def test_join_is_exchange_and_sort_free(self, spark):
        """The whole point: both sides pre-bucketed and pre-sorted on the
        join key → SortMergeJoin with ZERO Exchange and ZERO Sort before
        the join (the only shuffle allowed is a downstream aggregate —
        here there is none, so the plan must have no Exchange at all)."""
        from crawler_spark.sources.bucketed import bucketed_pair

        l, o = bucketed_pair(
            spark, SF, ("lineitem", "l_orderkey"), ("orders", "o_orderkey"),
            num_buckets=4,
        )
        joined = l.select("l_orderkey", "l_quantity").join(
            o.hint("merge").select("o_orderkey", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = plan_text(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join still shuffles"
        assert "Sort [" not in plan.split("SortMergeJoin")[0] or plan.count(
            "Sort ["
        ) == 0, "bucketed sortBy metadata not honored — join re-sorts"

    def test_join_matches_unbucketed(self, spark):
        from crawler_spark.sources import load_table
        from crawler_spark.sources.bucketed import bucketed_pair

        l, o = bucketed_pair(
            spark, SF, ("lineitem", "l_orderkey"), ("orders", "o_orderkey"),
            num_buckets=4,
        )
        got = (
            l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority").count()
        )
        want = (
            load_table(spark, SF, "lineitem")
            .join(load_table(spark, SF, "orders"),
                  F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority").count()
        )
        assert row_multiset(got) == row_multiset(want)


class TestBloomPrefilter:
    def test_no_false_negatives_ever(self, spark):
        """Every inserted key must test positive — the property that
        makes the prefilter safe before an exact join."""
        from crawler_spark.operators.bloom import (
            bloom_might_contain, build_bloom_bits)

        keys = spark.range(0, 2000).select((F.col("id") * 7919).alias("k"))
        bits = build_bloom_bits(keys, "k", num_bits=1 << 14, num_hashes=5)
        n = keys.filter(bloom_might_contain("k", bits, num_hashes=5)).count()
        assert n == 2000

    def test_false_positive_rate_bounded(self, spark):
        """Disjoint probe keys: fpp should be near the configured
        design point (m=16n bits, k=5 → ~0.1%), and far below 100%."""
        from crawler_spark.operators.bloom import (
            bloom_might_contain, build_bloom_bits)

        member = spark.range(0, 1000).select((F.col("id") * 3 + 1).alias("k"))
        bits = build_bloom_bits(member, "k", num_bits=1 << 14, num_hashes=5)
        probe = spark.range(100_000, 110_000).select(F.col("id").alias("k"))
        fp = probe.filter(bloom_might_contain("k", bits, num_hashes=5)).count()
        assert fp / 10_000 < 0.05, fp

    def test_prefiltered_join_equals_plain_join(self, spark):
        from crawler_spark.operators.bloom import bloom_prefiltered_join
        from crawler_spark.sources import load_table

        orders = load_table(spark, SF, "orders")
        dim = (
            load_table(spark, SF, "customer")
            .filter(F.col("c_acctbal") > 5000)
            .select("c_custkey")
        )
        got = bloom_prefiltered_join(
            orders, dim, "o_custkey", "c_custkey"
        ).select("o_orderkey", "c_custkey")
        plain = orders.join(
            dim, orders.o_custkey == dim.c_custkey
        ).select("o_orderkey", "c_custkey")
        assert row_multiset(got) == row_multiset(plain)

    def test_membership_is_pure_expression(self, spark):
        """The prefilter must stay JVM-side: no BatchEvalPython /
        ArrowEvalPython node in the plan, and the filter sits in the
        scan stage (appears under WholeStageCodegen, not after an
        Exchange)."""
        from crawler_spark.operators.bloom import (
            bloom_might_contain, build_bloom_bits)
        from crawler_spark.sources import load_table

        dim = load_table(spark, SF, "customer").select("c_custkey").limit(100)
        bits = build_bloom_bits(dim, "c_custkey", num_bits=1 << 12)
        plan = plan_text(
            load_table(spark, SF, "orders").filter(
                bloom_might_contain("o_custkey", bits)
            )
        )
        assert "EvalPython" not in plan
        assert "Exchange" not in plan


class TestTimeTravelQuery:
    def test_snapshot_reads_reproduce_committed_states(self, spark):
        import __spark_entry__ as E

        rows = {r.version: r for r in
                E.queries()["timetravel_snapshot_reads"](
                    spark, "/root/testdata/sf0.001").collect()}
        assert set(rows) == {1, 2, 3}
        # v1: the full base load
        assert rows[1].n_rows == 500
        # v2: upsert rewrote values, not membership — +1 char for each
        # doc_id % 10 == 0 (50 of 500)
        assert rows[2].n_rows == 500
        assert rows[2].sum_chars == rows[1].sum_chars + 50
        # v3: delete dropped every doc_id % 7 == 0
        assert rows[3].n_rows == 500 - len([i for i in range(500) if i % 7 == 0])
        assert rows[3].n_rows < rows[2].n_rows

    def test_changes_feed_classifies_exactly(self, spark):
        import __spark_entry__ as E

        rows = {r._change_type: r for r in
                E.queries()["timetravel_changes_feed"](
                    spark, "/root/testdata/sf0.001").collect()}
        deletes = len([i for i in range(500) if i % 7 == 0])
        updates = len([i for i in range(500) if i % 10 == 0 and i % 7 != 0])
        assert rows["delete"].n == deletes
        assert rows["update"].n == updates
        assert "insert" not in rows

    def test_delete_emptying_a_bucket_does_not_resurrect(self, spark, tmp_path):
        """A delete commit that leaves a bucket with zero rows must drop
        that bucket from the manifest — otherwise the manifest keeps
        pointing at the pre-delete directory and the rows come back."""
        import os

        from crawler_spark.streaming.ingest_stream import (
            read_manifest, read_pages_table,
        )

        pages_dir = str(tmp_path / "pages")

        from crawler_spark.streaming.ingest_stream import apply_bucket_commit

        def commit_state(df, epoch, touched=None):
            apply_bucket_commit(pages_dir, df, epoch, touched=touched)

        base = spark.createDataFrame(
            [(1, 0, "x"), (2, 0, "y"), (3, 1, "z")],
            "doc_id long, bucket int, val string")
        commit_state(base, 0)
        # delete EVERYTHING in bucket 1
        kept = base.filter("bucket != 1")
        commit_state(kept, 1, touched=[0, 1])
        live = read_pages_table(spark, pages_dir)
        assert {r.doc_id for r in live.collect()} == {1, 2}
        assert 1 not in read_manifest(pages_dir)


class TestPlanMetrics:
    def test_metrics_tell_the_true_execution_story(self, spark):
        import __spark_entry__ as E

        rows = E.queries()["diag_plan_metrics"](
            spark, "/root/testdata/sf0.001").collect()
        by = {}
        for r in rows:
            by.setdefault((r.node.strip(), r.metric), []).append(r.value)
        # scans read exactly the two tables (orders 1500, customer 150)
        assert sorted(by[("Scan parquet", "numOutputRows")]) == [150, 1500]
        # every order matched a customer through the broadcast join
        assert by[("BroadcastHashJoin", "numOutputRows")] == [1500]
        # the final aggregate is the 5 market segments
        assert 5 in by[("HashAggregate", "numOutputRows")]
        # nothing spilled at this scale
        assert all(v == 0 for v in by.get(("HashAggregate", "spillSize"), [0]))


def _rows_only_queries():
    """Every registered query WITHOUT an oracle — the set whose only
    driver signal is a rows-only run, and exactly the set that tends
    to materialize state (/tmp indexes, streaming checkpoints,
    manifest tables) where a rerun could diverge."""
    from crawler_spark.plans import registry

    registry.load_all()
    return sorted(n for n in registry.QUERIES if n not in registry.ORACLE)


class TestBuildQueryRerunStability:
    """Every query that materializes state under /tmp must return the
    SAME answer when run twice in one session — the driver and bench
    both re-run queries (retries, sampling), and a stale-cache or
    leftover-directory bug would surface as a flaky second answer."""

    @pytest.mark.parametrize("name", _rows_only_queries())
    def test_second_run_matches_first(self, spark, name):
        import __spark_entry__ as E

        fn = E.queries()[name]
        first = sorted(map(tuple, fn(spark, SF).collect()))
        second = sorted(map(tuple, fn(spark, SF).collect()))
        assert first == second, name


_INVARIANCE_QUERIES = [
    "shard_assignment", "pack_token_budget", "sample_quality_weighted",
    "sample_temperature_mix", "tok_bpe_train", "dedup_canonical_star",
    "txt_quality_linear_hashed", "ev_holt_linear", "crawl_pagerank",
    "dedup_semantic", "sample_gumbel_weighted", "decontam_semantic",
    "corpus_curriculum_order", "curation_funnel", "dedup_crossdoc_removal",
    # md5-capped graph projection, content-fingerprint diff, group-hash
    # split, seed-teleport walk — all claim engine/cluster determinism
    "graph_cooccur_degree", "graph_triangle_stats", "corpus_snapshot_diff",
    "corpus_group_holdout_split", "graph_influence_ppr",
    # r8: corpus-frequency line dedup (exact counts + ordered regroup),
    # suffix-set blocklist (pure projection), distributed robots sweep
    # (set-valued), WARC-headed pipeline (idempotent merge endpoint)
    "txt_line_dedup", "curation_url_blocklist",
    "crawl_sitemap_discovery", "pipeline_warc_corpus_e2e",
    # r9: big-list blocklist arm (explode + broadcast semi/anti),
    # banded pHash pairs, greedy MMR over a bounded candidate list,
    # zlib ratios through Arrow batching — all newly value-oracled and
    # all claiming partitioning-independent answers
    "curation_url_blocklist_big", "multimodal_phash_neardup",
    "search_mmr_rerank", "txt_compression_ratio",
    # r9: NB distillation — training is exact count aggregation, the
    # ln() runs once per bucket on exact integers (never in a float
    # reduction), scoring sums integer micro-weights as BIGINT
    "clf_distill_train", "clf_distill_score", "clf_distill_eval",
    # r9 skew-safety rewrites: groupBy+join / WindowGroupLimit forms
    # must answer identically to the windows they replaced on any
    # partitioning (exact keys, struct-min tie-breaks, rank filters)
    "dedup_exact", "dedup_keep_best", "dedup_repeated_spans",
    "inverted_index_postings", "ev_kmv_distinct_intersect",
    # r9 decimal-exact iterative ops: every per-round reduction is an
    # exact DECIMAL(38,18) sum, so ranks/centroids are bit-identical
    # on any partitioning — the property their new VALUES pins rely on
    "knn_topk_ivf_refined",
    # r9: single-trigger streaming replay — the within-trigger doc-id
    # sort is exactly the partitioning-independence its pin relies on
    # (state shard count changes with the conf; verdicts must not)
    "streaming_neardup_e2e",
]


class TestClusterSizeInvariance:
    """The repo's repeated claim — 'identical members/answers on any
    cluster size' — made falsifiable: the determinism-critical family
    (hash sampling, shard assignment, BPE training, iterative closure,
    PageRank, k-means-backed semantic dedup, integer-pooled scoring)
    must return byte-identical results when the shuffle partition
    count changes. Partition count is the local proxy for cluster
    size: it changes partial-aggregation grouping and task order,
    exactly what breaks naive float/RNG pipelines."""

    @pytest.mark.parametrize("name", _INVARIANCE_QUERIES)
    def test_result_independent_of_partitioning(self, spark, name):
        import __spark_entry__ as E
        from crawler_spark.session import scoped_conf

        fn = E.queries()[name]
        res = {}
        for parts in ("3", "29"):
            with scoped_conf(spark, {"spark.sql.shuffle.partitions": parts}):
                res[parts] = sorted(map(tuple, fn(spark, SF).collect()))
        assert res["3"] == res["29"], name


class TestScd2Apply:
    """SCD2 merge semantics beyond what the value oracle covers:
    null-safe no-op detection, multi-column tracking, history
    pass-through, and idempotence of a repeated batch."""

    def _dim(self, spark, rows):
        return spark.createDataFrame(
            rows,
            "k int, a string, b string, valid_from string, "
            "valid_to string, is_current boolean",
        ).select(
            "k", "a", "b",
            F.to_date("valid_from").alias("valid_from"),
            F.to_date("valid_to").alias("valid_to"),
            "is_current",
        )

    def _apply(self, existing, updates, eff="2024-06-01"):
        from crawler_spark.operators.upsert import scd2_apply

        return scd2_apply(existing, updates, key="k",
                          tracked=["a", "b"], effective_date=eff)

    def test_noop_null_and_multicol(self, spark):
        existing = self._dim(spark, [
            (1, "x", None, "2020-01-01", None, True),    # null tracked
            (2, "y", "q", "2020-01-01", None, True),     # will change b
            (3, "z", "r", "2019-01-01", "2020-01-01", False),  # history
            (3, "z2", "r", "2020-01-01", None, True),
        ])
        updates = spark.createDataFrame(
            [(1, "x", None),    # identical incl. NULL → must be a no-op
             (2, "y", "q2"),    # second tracked col changes
             (9, "new", "n")],  # brand-new key
            "k int, a string, b string")
        out = {(r.k, r.a, r.b, str(r.valid_from), str(r.valid_to),
                r.is_current)
               for r in self._apply(existing, updates).collect()}
        assert (1, "x", None, "2020-01-01", "None", True) in out
        assert (2, "y", "q", "2020-01-01", "2024-06-01", False) in out
        assert (2, "y", "q2", "2024-06-01", "None", True) in out
        # history row untouched, current key-3 row untouched
        assert (3, "z", "r", "2019-01-01", "2020-01-01", False) in out
        assert (3, "z2", "r", "2020-01-01", "None", True) in out
        assert (9, "new", "n", "2024-06-01", "None", True) in out
        assert len(out) == 6

    def test_empty_tracked_raises_clear_error(self, spark):
        # ADVICE r5: used to surface as a confusing Py4J Column error
        from crawler_spark.operators.upsert import scd2_apply

        existing = self._dim(spark, [(1, "x", "p", "2020-01-01", None, True)])
        updates = spark.createDataFrame([(1, "x", "p")],
                                        "k int, a string, b string")
        with pytest.raises(ValueError, match="tracked must be non-empty"):
            scd2_apply(existing, updates, key="k", tracked=[],
                       effective_date="2024-06-01")

    def test_reapplying_same_batch_is_idempotent(self, spark):
        existing = self._dim(spark, [(1, "x", "p", "2020-01-01", None, True)])
        updates = spark.createDataFrame([(1, "x2", "p")],
                                        "k int, a string, b string")
        once = self._apply(existing, updates)
        twice = self._apply(once, updates)
        assert row_multiset(once) == row_multiset(twice)

    def test_exactly_one_current_row_per_key(self, spark):
        existing = self._dim(spark, [
            (1, "x", "p", "2020-01-01", None, True),
            (2, "y", "q", "2020-01-01", None, True),
        ])
        updates = spark.createDataFrame(
            [(1, "x2", "p"), (3, "n", "n")], "k int, a string, b string")
        out = self._apply(existing, updates)
        per_key = (out.filter("is_current")
                   .groupBy("k").count().collect())
        assert all(r["count"] == 1 for r in per_key)
        assert {r.k for r in per_key} == {1, 2, 3}


def test_scd2_null_is_current_rows_survive(spark):
    """Pre-evolution rows read through mergeSchema carry
    is_current = NULL; a plain boolean filter dropped them from BOTH
    the history and current slices — silent permanent row loss on the
    next rewrite (review-found). NULL is treated as current (they were
    the live rows when the column appeared) and the next touch writes
    a concrete flag."""
    from pyspark.sql import functions as F

    from crawler_spark.operators.upsert import scd2_apply

    existing = spark.createDataFrame(
        [(1, "old", None, None, None),
         (2, "keep", None, None, True)],
        "k int, a string, valid_from date, valid_to date, "
        "is_current boolean",
    )
    updates = spark.createDataFrame([(1, "new")], "k int, a string")
    out = {(r.k, r.a, r.is_current): r
           for r in scd2_apply(existing, updates, key="k", tracked=["a"],
                               effective_date="2024-06-01").collect()}
    # the NULL-flag row was treated as current: closed + new version
    assert (1, "old", False) in out and (1, "new", True) in out
    assert (2, "keep", True) in out
    assert len(out) == 3, out
