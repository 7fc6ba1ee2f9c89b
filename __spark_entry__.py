"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json). Fill these in
as you implement operators from SURVEY.md §2.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Semantic top-k search (the reference's ``POST /search``): stub-embed
    a query, L2-normalize+pad, negative-inner-product distance over the
    embeddings table, exact top-k, broadcast-join document text, snippet
    per hit.
    """
    from crawler_spark.plans.search_api import semantic_search

    return semantic_search(
        spark, "/root/testdata/sf0.001", "fast hash join merge", k=5,
        similarity_threshold=0.0,
    )


# Queries with no GREEN driver CORRECTNESS row yet, or whose oracle/
# implementation changed since their last green row. Round 11 drained
# its whole 8-name queue green (CORRECTNESS_r11: 50/50 hash-pass, and
# cumulatively every registered query is clean at its latest sample),
# so round 12's queue holds ONLY this round's plan changes and new
# registrations. Staleness classes (a) never sampled and (b) oracle
# added after last sample are enforced by tests/test_driver_queue.py
# against the CORRECTNESS_r*.json history; class (c) plan-changed-
# since-last-green is enforced by the PLAN_HASHES.json ledger
# (tests/test_plan_ledger.py): changing a query's analyzed plan — or,
# for the streaming e2e family, its foreachBatch sink source — without
# queueing it here fails pytest.
_NEVER_DRIVER_VERIFIED = [
    # Round 12's whole 14-name queue drained green (CORRECTNESS_r12:
    # 50/50 hash-pass, every queued name freshly sampled), so round
    # 13's queue holds ONLY this round's optimization plan changes —
    # all value-identical, sf0.01 oracle parity re-verified locally
    # before queueing (see OPTIMIZATION_r13.md).
    # --- (c) Arrow shingle kernel (operators/shingles.py): the
    # tokenize→k-shingle→distinct projection moved from the JVM
    # expression chain to one mapInArrow kernel; xxhash64 and every
    # downstream shuffle/aggregate are untouched, and
    # tests/test_shingles.py locks the kernel row-identical to the old
    # expression. Analyzed-plan drift detected by the ledger:
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_capped",
    "dedup_containment",
    "decontaminate_eval_overlap",
    "dedup_incremental",
    "curation_funnel",
    # these materialize loops/checkpoints at construction, so the
    # analyzed-plan hash cannot see the kernel swap upstream of the
    # checkpoint — queued explicitly for the same honest re-sample
    "dedup_ngram_jaccard_prefix",
    "dedup_canonical",
    "dedup_canonical_capped",
    "dedup_canonical_star",
    # --- (c) round-13 shuffle/recompute removals (guide §2.4), all
    # sf0.01 oracle parity re-verified before queueing ---
    "txt_bigram_logprob",        # tokenize once; c1 derived from c12
    "sample_perplexity_buckets", # same bigram-LM restructure upstream
    "txt_heavy_hitters_cms",     # sketch built from exact counts
    "graph_cooccur_degree",      # slice bound decoupled from cap window
    # oriented edge frame materialized pre-partitioned/sorted by src,
    # so the wedge self-join drops both Exchange+Sort pairs — the
    # checkpoint hides it from the analyzed-plan hash, queue explicitly
    "graph_triangle_stats",
    # canonical_closure's conf save/set/restore moved into
    # session.loop_conf (same values, same rounds) — queued because the
    # ledger's source fingerprint for this name covers that function
    "dedup_semantic_incremental",
    # maxFilesPerTrigger 1→2 (guide §2.2, fewer-larger micro-batches:
    # ~95% of each trigger was fixed commit-protocol cost) — the landed
    # table is batching-invariant (idempotent merge, deterministic
    # endpoint) and the sf0.001+sf0.01 oracles re-verified green, but
    # the sink-source fingerprint changed so the driver re-samples it
    "streaming_warc_ingest_e2e",
    # --- (c) small-graph fast path in canonical_closure /
    # connected_components_star (operators/dedup.py): a sub-100k-edge
    # dup graph resolves with one driver-side union-find instead of
    # the iterative loop — labels provably identical (union-by-minimum
    # ≡ the min-label fixed point, locked by
    # tests/test_dedup.py::test_small_graph_fast_path_matches_distributed),
    # sf0.01 oracle parity green for every consumer. dedup_canonical*
    # and dedup_semantic_incremental were already queued above; the
    # ledger additionally caught:
    "dedup_semantic",
    # executes the same closure inside its foreachBatch sink — the
    # sink-source fingerprint cannot see a dedup.py change, so queued
    # explicitly for the honest driver re-sample (r12 precedent)
    "streaming_semantic_dedup_e2e",
    # --- (c) pagerank/ppr shrunk loops now compose 2 rounds per eager
    # checkpoint when the tol check is provably dead (the fixture
    # configuration) — identical arithmetic (sequential composition),
    # half the schedule syncs; the loop materializes at construction so
    # the ledger hash cannot see it, queued explicitly (sf0.01 oracle
    # parity re-verified green before queueing). Both stay queued for
    # the driver-side solve (operators/graph.py _solve_on_driver): a
    # graph of at most SMALL_GRAPH_EDGE_LIMIT distinct edges is solved
    # on the driver, bit-identical ranks (tests/test_graph.py lock),
    # and the output becomes a local relation — a new plan
    "crawl_pagerank",
    "graph_influence_ppr",
    # --- (c) hyperplane banding kernel (operators/dedup.py
    # hyperplane_projections): the 17 interpreted HOF folds per row
    # (l2 norm + 16 plane projections) became ONE Arrow kernel with a
    # bit-exact murmur3/cumsum replica (lock test proves float-exact
    # equality incl. NULL/ragged/zero-norm), and the banded/IVF index
    # writes repartition by their partition columns (parallel writers).
    # Ledger caught the two per-query banding plans + the streaming
    # sink; the index builders/probes band at construction (hidden by
    # the parquet boundary) and are queued explicitly:
    "o3_knn_topk_lsh",
    "simsearch_lsh_pairs",
    "streaming_index_append_e2e",
    "knn_index_build",
    "knn_index_append",
    "knn_probe_precomputed",
    "diag_ann_recall",
    # --- (c) session confs change only through session.scoped_conf:
    # each streaming replay's shuffle cap (session.stream_conf, same
    # value) now also covers stream construction and start, so a
    # construction error cannot leak it. Same plans; the sink-source
    # fingerprint covers the edited callables. Also moved and already
    # queued above: dedup_semantic_incremental (wave-loop scope),
    # streaming_warc_ingest_e2e, streaming_semantic_dedup_e2e and
    # streaming_index_append_e2e.
    "streaming_neardup_e2e",
    "streaming_dedup_horizon_e2e",
    "streaming_sessionize_e2e",
    "streaming_distilled_filter_e2e",
    # --- (c) memory-sink names: the suffix always holds a hex letter,
    # so an all-digit uuid draw no longer leaks into the canonical plan
    # (queries_pipeline._sink_name). The sink-source fingerprint moved
    # for all four users; the other three are queued above.
    "streaming_trending_e2e",
    # --- (c) partition counts sized from the data, not from
    # defaultParallelism, so the plans are the same on any core count
    # (session.data_partitions; Range splits fixed). Same rows:
    "crawl_sitemap_discovery",
    "curation_threshold_sweep",
    "curation_url_blocklist_big",
    "dedup_fuzzy_levenshtein",
    "dedup_fuzzy_seeded",
    "ingest_dead_letter",
    "simsearch_cosine_pairs",
    # --- (c) scratch directories come from session.scratch_dir (one
    # per-process root, removed at exit) instead of per-module path
    # caches, bare mkdtemp and a shared /tmp ANN index cache. No
    # analyzed plan moved, but the sink-source fingerprint did for the
    # seven streaming_*_e2e names that make their own directories and
    # for dedup_semantic_incremental. semantic_dedup_pairs now calls
    # top_centroids_udf, so dedup_semantic's list-assignment UDF is
    # named _top instead of _top_lists; the driver union-find's local
    # relation hides that from its hash. All nine are already queued.
]


def _prioritized(mapping: dict) -> dict:
    """Never-driver-verified queries first, in the list's hand-tuned
    order (see the comment above `_NEVER_DRIVER_VERIFIED`): with more
    pending names than sample slots, strict oracle-first ordering
    would keep starving the rows-only ANN/streaming tiers, so the list
    itself interleaves them inside the expected sample window."""
    first = {
        n: mapping[n] for n in _NEVER_DRIVER_VERIFIED if n in mapping
    }
    rest = {n: v for n, v in mapping.items() if n not in first}
    return {**first, **rest}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Each callable takes (spark, sf_dir) and returns a DataFrame.
    Backed by the central registry (crawler_spark/plans/registry.py).
    """
    from crawler_spark.plans import registry

    registry.load_all()
    return _prioritized(dict(registry.QUERIES))


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent ANSI SQL per query (same parquet tables,
    pre-registered views). Queries absent here are rows-only checks
    (non-SQL-expressible ops)."""
    from crawler_spark.plans import registry

    registry.load_all()
    return _prioritized(dict(registry.ORACLE))
