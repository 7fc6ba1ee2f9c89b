"""Corpus-curation operators that round out the training-data pipeline
surface (no reference-repo analogue — the reference crawls and serves;
these are the brief's LLM-pipeline extensions, same family as
queries_mlprep.py / operators/decontam.py / operators/shards.py):

* ``pack_token_budget`` — sequence packing: assign documents to
  fixed-token-budget packs, the step that turns a cleaned corpus into
  training-ready batches.
* ``dedup_keep_best`` — canonical selection by QUALITY: exact-dup
  groups keep the best document, not the arbitrary min-id one.
* ``dedup_incremental`` — the production dedup shape: a small new
  crawl batch near-dup-checked against the existing corpus (not
  all-pairs within one snapshot).
* ``txt_heavy_hitters`` — exact corpus-level heavy-hitter vocabulary
  (boilerplate detection / stopword mining).

All four are value-level oracle-backed. Determinism follows
plans/registry.py rules: hash ordering via md5 (computed identically by
both engines), integer math where possible, round(…, 6) on the one
unavoidable double.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crawler_spark.functions import text as X
from crawler_spark.functions import url as U
from crawler_spark.plans.queries_text import _FP_SQL, _TOKENS_SQL
from crawler_spark.plans.registry import register
from crawler_spark.session import (
    LOOP_ROWS_PER_PARTITION,
    data_partitions,
    estimated_partitions,
)
from crawler_spark.sources import load_table

# Deterministic doc key shared with queries_mlprep.py's hash sampling:
# both engines compute the identical md5 hex string.
_KEY_SQL = "md5(CAST(doc_id AS VARCHAR))"

_SHINGLES_SQL = f"""list_distinct(
    list_transform(generate_series(1, greatest(len({_TOKENS_SQL}) - 2, 0)),
                   i -> array_to_string({_TOKENS_SQL}[i:i+2], ' ')))"""


def _key() -> F.Column:
    return F.md5(F.col("doc_id").cast("string"))


# --- sequence packing into token budgets ----------------------------------
@register(
    "pack_token_budget",
    oracle=f"""
        SELECT doc_id, shard_id, n_tokens,
               CAST(floor(cum_before / 512.0) AS BIGINT) AS pack_seq
        FROM (
            SELECT doc_id, shard_id, n_tokens,
                   coalesce(SUM(n_tokens) OVER (
                       PARTITION BY shard_id ORDER BY k, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS cum_before
            FROM (
                SELECT doc_id, {_KEY_SQL} AS k,
                       ascii(substr({_KEY_SQL}, 1, 1)) % 4 AS shard_id,
                       len({_TOKENS_SQL}) AS n_tokens
                FROM documents
            )
        )
    """,
)
def pack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: documents → (shard_id, pack_seq) bins of ~512
    tokens each, the unit a training data-loader reads as one batch.

    A document lands in the pack that was open when its running token
    count (in deterministic hash order) crossed the boundary — the
    greedy first-fit packing every real pipeline uses, made
    reproducible by hash ordering instead of arrival order.

    Scale shape: packing is per-SHARD, never global — the window
    partitions by shard_id (here 4, at 100 TB tens of thousands, cf.
    operators/shards.py), so the plan is one hash shuffle on shard_id
    plus a per-shard local sort. A single global cumulative sum would
    serialize the corpus through one task; sharded packing is
    embarrassingly parallel and each shard's packs are independent,
    which is exactly what per-worker data loaders need anyway.
    """
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id",
        _key().alias("k"),
        (F.ascii(F.substring(_key(), 1, 1)) % 4).alias("shard_id"),
        X.word_token_count("text").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard_id")
        .orderBy("k", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return staged.select(
        "doc_id",
        "shard_id",
        "n_tokens",
        F.floor(cum_before / F.lit(512.0)).alias("pack_seq"),
    )


# --- packed-sequence emission ---------------------------------------------
_EOS = "<|eos|>"


@register(
    "pack_sequences_emit",
    oracle=f"""
        SELECT shard_id, pack_seq,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
               string_agg(coalesce(text, ''), '{_EOS}' ORDER BY k, doc_id)
                   AS packed_text
        FROM (
            SELECT doc_id, k, shard_id, n_tokens, text,
                   CAST(floor(coalesce(SUM(n_tokens) OVER (
                       PARTITION BY shard_id ORDER BY k, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) / 512.0) AS BIGINT) AS pack_seq
            FROM (
                SELECT doc_id, {_KEY_SQL} AS k,
                       ascii(substr({_KEY_SQL}, 1, 1)) % 4 AS shard_id,
                       len({_TOKENS_SQL}) AS n_tokens, text
                FROM documents
            )
        )
        GROUP BY shard_id, pack_seq
        ORDER BY shard_id, pack_seq
    """,
)
def pack_sequences_emit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The step AFTER pack_token_budget: materialize each pack as the
    actual training sequence — member texts concatenated in pack order
    with an EOS separator — plus its doc count and token total (what a
    data loader checks against the budget).

    Scale shape: the same one-shuffle-per-shard window as
    pack_token_budget, then a groupBy on (shard_id, pack_seq) whose
    per-group state is BOUNDED BY THE TOKEN BUDGET by construction —
    a pack holds ~512 tokens of text no matter how big the corpus, so
    collect_list here can never accumulate unbounded rows (contrast a
    naive groupBy(doc property)). Order inside the pack is the same
    deterministic (hash, doc_id) order both engines compute."""
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id",
        _key().alias("k"),
        (F.ascii(F.substring(_key(), 1, 1)) % 4).alias("shard_id"),
        X.word_token_count("text").alias("n_tokens"),
        F.coalesce("text", F.lit("")).alias("text"),
    )
    w = (
        Window.partitionBy("shard_id")
        .orderBy("k", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    packed = staged.withColumn(
        "pack_seq", F.floor(cum_before / F.lit(512.0)))
    return (
        packed.groupBy("shard_id", "pack_seq")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("pack_tokens"),
            F.array_join(
                F.transform(
                    # struct sorts field-by-field: (k, doc_id) leads, so
                    # array_sort reproduces the window's pack order
                    F.array_sort(
                        F.collect_list(F.struct("k", "doc_id", "text"))),
                    lambda s: s["text"],
                ),
                _EOS,
            ).alias("packed_text"),
        )
        .orderBy("shard_id", "pack_seq")
    )


# --- canonical selection by quality ---------------------------------------
@register(
    "dedup_keep_best",
    oracle=f"""
        SELECT doc_id,
               first_value(doc_id) OVER (
                   PARTITION BY {_FP_SQL}
                   ORDER BY length(text) DESC, doc_id
               ) AS kept_id,
               row_number() OVER (
                   PARTITION BY {_FP_SQL}
                   ORDER BY length(text) DESC, doc_id
               ) = 1 AS is_kept
        FROM documents
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup that keeps the BEST row of each duplicate group —
    longest text, doc_id tie-break — instead of ``dedup_exact``'s
    arbitrary min-id. This is how curation actually resolves dups:
    among near-identical crawls keep the most complete capture.

    Same scale shape as dedup_exact (see its skew story): the winner
    per fingerprint comes from a ``min_by`` over a ``groupBy(fp)`` —
    partial aggregation collapses the hottest duplicate cluster to one
    row per map partition, where the earlier first/row_number WINDOW
    buffered the whole cluster in one task (and, because the query
    emits a verdict for EVERY row rather than filtering rank = 1, the
    WindowGroupLimit pushdown that rescues the export-pipeline windows
    can never apply here). The quality criterion is just the min_by
    ordering struct — swap in any score (model-based quality, recency)
    without touching the plan; the join back is AQE-skew-split like
    dedup_exact's. Oracle keeps the window formulation independently.
    """
    docs = load_table(spark, sf_dir, "documents")
    fps = docs.select(
        "doc_id", F.length("text").alias("n"),
        X.fingerprint("text").alias("fp"),
    )
    groups = fps.groupBy("fp").agg(
        F.min_by(
            "doc_id", F.struct((-F.col("n")).alias("nl"), F.col("doc_id"))
        ).alias("kept_id")
    )
    # null-safe key: NULL fingerprints form one class under the
    # window's PARTITION BY; the join-back must keep matching them
    return fps.join(
        groups, fps["fp"].eqNullSafe(groups["fp"])
    ).select(
        "doc_id", "kept_id",
        (F.col("doc_id") == F.col("kept_id")).alias("is_kept"),
    )


# --- incremental dedup: new batch vs existing corpus ----------------------
@register(
    "dedup_incremental",
    oracle=f"""
        WITH batch AS (
            SELECT doc_id, text FROM documents
            WHERE substr({_KEY_SQL}, 1, 2) < '1a'
        ),
        corpus AS (
            SELECT doc_id, text FROM documents
            WHERE substr({_KEY_SQL}, 1, 2) >= '1a'
        ),
        gb AS (SELECT doc_id, unnest({_SHINGLES_SQL}) AS g FROM batch),
        gc AS (SELECT doc_id, unnest({_SHINGLES_SQL}) AS g FROM corpus),
        sb AS (SELECT doc_id, count(*) AS n FROM gb GROUP BY doc_id),
        sc AS (SELECT doc_id, count(*) AS n FROM gc GROUP BY doc_id),
        shared AS (
            SELECT gb.doc_id AS id_b, gc.doc_id AS id_c, count(*) AS shared
            FROM gb JOIN gc ON gb.g = gc.g
            GROUP BY 1, 2
        ),
        best AS (
            SELECT id_b,
                   max(CAST(shared AS DOUBLE) / (sb.n + sc.n - shared)) AS mx
            FROM shared
            JOIN sb ON sb.doc_id = id_b
            JOIN sc ON sc.doc_id = id_c
            GROUP BY id_b
        )
        SELECT b.doc_id,
               round(coalesce(mx, 0.0), 6) AS max_jaccard,
               coalesce(mx, 0.0) >= 0.5 AS is_near_dup
        FROM batch b LEFT JOIN best ON best.id_b = b.doc_id
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production dedup shape: a NEW batch (~10%, hash-split)
    checked for near-duplicates against the EXISTING corpus, per batch
    document reporting its best Jaccard against any corpus document.
    Snapshot all-pairs dedup (``dedup_ngram_jaccard``) re-pays the full
    corpus every crawl cycle; incremental dedup pays |batch| ⨝ corpus
    once per cycle — this is what a continuously-crawling pipeline runs.

    Scale shape: the batch side's distinct shingle set is tiny relative
    to the corpus, so its grams and sizes BROADCAST — the corpus-side
    grams stream map-side through the broadcast join, and the first
    exchange in the plan is the partial-aggregated (id_b, id_c) shared
    counts, already reduced to one row per matching pair. Corpus sizes
    join AFTER that aggregation, touching only matched documents.
    Shingles join on xxhash64 longs, same as ngram_jaccard_pairs.
    """
    docs = load_table(spark, sf_dir, "documents")
    is_batch = F.substring(_key(), 1, 2) < "1a"
    batch = docs.filter(is_batch).select("doc_id", "text")
    corpus = docs.filter(~is_batch).select("doc_id", "text")

    def grams(df: DataFrame, out: str) -> DataFrame:
        # round-13 Arrow shingle kernel (operators/shingles.py, guide
        # §4.2) — row-identical to the old expression form
        from crawler_spark.operators.shingles import shingle_hashes

        return shingle_hashes(df, k=3, out_id=out)

    gb, gc = grams(batch, "id_b"), grams(corpus, "id_c")
    sb = gb.groupBy("id_b").agg(F.count(F.lit(1)).alias("nb"))
    sc = gc.groupBy("id_c").agg(F.count(F.lit(1)).alias("nc"))
    shared = (
        gc.join(F.broadcast(gb), "g")
        .groupBy("id_b", "id_c")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    jac = F.col("shared").cast("double") / (F.col("nb") + F.col("nc") - F.col("shared"))
    best = (
        shared.join(F.broadcast(sb), "id_b")
        .join(sc, "id_c")
        .groupBy("id_b")
        .agg(F.max(jac).alias("mx"))
    )
    return batch.join(
        best, batch.doc_id == best.id_b, "left"
    ).select(
        "doc_id",
        F.round(F.coalesce("mx", F.lit(0.0)), 6).alias("max_jaccard"),
        (F.coalesce("mx", F.lit(0.0)) >= 0.5).alias("is_near_dup"),
    )


# --- per-document repetition signal (Gopher-style) ------------------------
@register(
    "txt_repetition_ratio",
    oracle=f"""
        SELECT doc_id,
               len({_TOKENS_SQL}) AS n_tokens,
               round(CAST(coalesce(list_max(list_transform(
                         list_distinct({_TOKENS_SQL}),
                         t -> len(list_filter({_TOKENS_SQL}, x -> x = t))
                     )), 0) AS DOUBLE)
                     / greatest(len({_TOKENS_SQL}), 1), 6) AS top_token_share
        FROM documents
    """,
)
def txt_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signal: the share of a document
    occupied by its single most frequent token. Boilerplate, keyword
    stuffing, and degenerate generations all push this up; cleaning
    rules threshold it (Gopher drops docs whose top 2-gram exceeds 20%).

    Scale shape — the reason this is a separate query and not a
    groupBy: the whole statistic is a PURE PROJECTION over the token
    array (distinct → per-token count → max), so the plan has zero
    shuffles and zero aggregations — it runs at scan speed on 100 TB
    and composes into corpus_clean-style filters for free. The
    explode→groupBy formulation would shuffle the entire token stream
    (corpus-sized) to compute a per-row number.
    """
    docs = load_table(spark, sf_dir, "documents")
    # sorted-run formulation (functions/text.top_element_count):
    # O(n log n) per row vs the old O(distinct·n) transform/filter,
    # which went quadratic on exactly the degenerate-repetition
    # documents this filter exists to catch
    top = X.top_element_count(X.tokenize("text"))
    n_tok = X.word_token_count("text")
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(
            F.coalesce(top, F.lit(0)).cast("double") / F.greatest(n_tok, F.lit(1)), 6
        ).alias("top_token_share"),
    )


# --- end-to-end corpus export ---------------------------------------------
@register(
    "corpus_export_pipeline",
    oracle=f"""
        WITH ranked AS (
            SELECT doc_id, n_chars,
                   len({_TOKENS_SQL}) AS n_tokens,
                   row_number() OVER (
                       PARTITION BY {_FP_SQL}
                       ORDER BY length(text) DESC, doc_id
                   ) AS rn
            FROM documents
        ),
        kept AS (
            SELECT doc_id, n_tokens, {_KEY_SQL} AS k,
                   ascii(substr({_KEY_SQL}, 1, 1)) % 4 AS shard_id
            FROM ranked
            WHERE rn = 1 AND n_chars >= 200 AND n_tokens >= 30
              AND CAST(n_chars AS DOUBLE) / n_tokens <= 12.0
        )
        SELECT doc_id, shard_id, n_tokens,
               CAST(floor(coalesce(SUM(n_tokens) OVER (
                   PARTITION BY shard_id ORDER BY k, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) / 512.0) AS BIGINT) AS pack_seq
        FROM kept
    """,
)
def corpus_export_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data export in ONE plan: keep-best exact dedup
    → quality filters (corpus_clean's thresholds) → deterministic shard
    assignment → token-budget packing. Every stage is itself an
    oracle-checked query (dedup_keep_best, corpus_clean,
    pack_token_budget); this proves they compose end-to-end — the query
    a user runs to turn a crawl snapshot into training shards.

    Scale shape: one scan, then exactly two shuffles — the fingerprint
    window (dedup) and the shard_id repartition (packing); the quality
    filters ride between them as projections. Nothing in the chain is
    corpus-global. The dedup window partitions by ``fingerprint(text)``
    — an UNBOUNDED, skew-prone key by the operator's own premise — and
    is safe because the ``rn == 1`` filter pushes down as
    WindowGroupLimit (map-side per-key top-1 before the window
    shuffle; plan-locked in tests/test_plan_shapes.py). That is
    "pushdown-bounded" in the skew sweep's vocabulary, not a bounded
    key; the packing window's shard_id IS bounded by construction.
    """
    docs = load_table(spark, sf_dir, "documents")
    w_fp = Window.partitionBy(X.fingerprint("text")).orderBy(
        F.length("text").desc(), F.col("doc_id")
    )
    ranked = docs.select(
        "doc_id",
        "n_chars",
        X.word_token_count("text").alias("n_tokens"),
        F.row_number().over(w_fp).alias("rn"),
    )
    kept = ranked.filter(
        (F.col("rn") == 1)
        & (F.col("n_chars") >= 200)
        & (F.col("n_tokens") >= 30)
        & (F.col("n_chars").cast("double") / F.col("n_tokens") <= 12.0)
    ).select(
        "doc_id",
        "n_tokens",
        _key().alias("k"),
        (F.ascii(F.substring(_key(), 1, 1)) % 4).alias("shard_id"),
    )
    w_pack = (
        Window.partitionBy("shard_id")
        .orderBy("k", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w_pack), F.lit(0))
    return kept.select(
        "doc_id",
        "shard_id",
        "n_tokens",
        F.floor(cum_before / F.lit(512.0)).alias("pack_seq"),
    )


# --- corpus heavy hitters --------------------------------------------------
@register(
    "txt_heavy_hitters",
    oracle=f"""
        SELECT token, cnt, round(CAST(cnt AS DOUBLE) / total, 6) AS share
        FROM (
            SELECT token, cnt, SUM(cnt) OVER () AS total
            FROM (
                SELECT token, count(*) AS cnt FROM (
                    SELECT unnest({_TOKENS_SQL}) AS token FROM documents
                ) GROUP BY token
            )
        )
        WHERE cnt * 200 > total
        ORDER BY cnt DESC, token
    """,
)
def txt_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters: tokens whose corpus-wide term frequency
    exceeds 0.5% of all tokens — the boilerplate/stopword-mining query
    behind hot-shingle caps (ngram_jaccard_pairs' ``max_shingle_df``)
    and cleaning rules.

    Scale shape: explode → two-level hash aggregate with map-side
    combine, so the shuffle carries one row per (token, partition) —
    vocabulary-sized, not corpus-sized. The share normalization is a
    window over the ALREADY-AGGREGATED vocabulary table (set of distinct
    tokens, millions at web scale at most), so the empty-partition
    window is bounded and never sees corpus-scale data. The integer
    guard ``cnt * 200 > total`` keeps the filter exact (no double
    comparison at the boundary).
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(X.tokenize("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = F.sum("cnt").over(Window.partitionBy())
    return (
        counts.withColumn("total", total)
        .filter(F.col("cnt") * 200 > F.col("total"))
        .select(
            "token",
            "cnt",
            F.round(F.col("cnt").cast("double") / F.col("total"), 6).alias("share"),
        )
        .orderBy(F.col("cnt").desc(), "token")
    )


# --- leakage-controlled train/val split -----------------------------------
_VAL_PREFIX = "1a"  # md5-prefix threshold ≈ 10%


@register(
    "corpus_train_val_split",
    oracle=f"""
        WITH tagged AS (
            SELECT doc_id,
                   md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
                   substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2)
                       < '{_VAL_PREFIX}' AS is_val
            FROM documents
        ),
        val_fps AS (SELECT DISTINCT fp FROM tagged WHERE is_val)
        SELECT doc_id,
               CASE WHEN is_val THEN 'val' ELSE 'train' END AS split
        FROM tagged
        WHERE is_val
           OR fp NOT IN (SELECT fp FROM val_fps)
    """,
)
def corpus_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% validation split with leakage control: val
    membership is a salted md5-prefix decision (reproducible on any
    engine/cluster), and any TRAIN doc whose normalized-content
    fingerprint collides with a val doc is dropped — the doc-level
    twin of the n-gram eval decontamination (operators/decontam.py).
    The val fingerprint set is ~10% of corpus fingerprints and
    broadcasts into a left_anti join; everything else is projection."""
    from crawler_spark.functions import text as X

    docs = load_table(spark, sf_dir, "documents")
    tagged = docs.select(
        "doc_id",
        X.fingerprint("text").alias("fp"),
        (F.substring(F.md5(F.concat(F.lit("split:"),
                                    F.col("doc_id").cast("string"))), 1, 2)
         < _VAL_PREFIX).alias("is_val"),
    )
    val_fps = tagged.where("is_val").select("fp").distinct()
    train = (
        tagged.where(~F.col("is_val"))
        .join(F.broadcast(val_fps), "fp", "left_anti")
        .select("doc_id", F.lit("train").alias("split"))
    )
    val = tagged.where("is_val").select("doc_id", F.lit("val").alias("split"))
    return val.unionByName(train)


# --- corpus-level repeated-span removal (C4 / RefinedWeb) -----------------
@register(
    "dedup_repeated_spans",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(trim(text), '\\s+'),
                               t -> t <> '') AS ts
            FROM documents
        ),
        spans AS (
            SELECT doc_id, CAST(u.i AS BIGINT) AS span_idx,
                   array_to_string(ts[u.i*4+1 : u.i*4+4], ' ') AS span
            FROM toks,
                 unnest(generate_series(
                     0, CAST(greatest(ceil(len(ts)/4.0), 1) AS BIGINT) - 1
                 )) AS u(i)
        ),
        marked AS (
            SELECT doc_id, span_idx, span,
                   row_number() OVER (
                       PARTITION BY span ORDER BY doc_id, span_idx
                   ) = 1 AS kept
            FROM spans
        )
        SELECT doc_id,
               coalesce(string_agg(CASE WHEN kept THEN span END,
                                   ' ' ORDER BY span_idx), '') AS text_clean,
               count(*) AS n_spans,
               count(CASE WHEN NOT kept THEN 1 END) AS n_removed
        FROM marked
        GROUP BY doc_id
    """,
)
def dedup_repeated_spans_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus self-dedup at SPAN granularity — C4's "discard any
    three-sentence span occurring more than once" rule (Raffel et al.
    2020 §2.2) re-expressed over token windows (the synthetic docs
    have no sentence boundaries; real corpora would use ~50-token
    spans, here 4 so the small-SF fixture actually has repeats).
    Keep-first-occurrence is corpus-global and deterministic; the
    rewrite drops boilerplate that document-level dedup can't see."""
    from crawler_spark.operators.dedup import dedup_repeated_spans

    docs = load_table(spark, sf_dir, "documents")
    return dedup_repeated_spans(docs, span_tokens=4)


# --- bigram LM log-probability quality scoring (CCNet-shaped) -------------
_BIGRAM_SCORES_SQL = f"""
        WITH toks AS (
            SELECT doc_id, {_TOKENS_SQL} AS ts FROM documents
        ),
        grams AS (
            SELECT doc_id, ts[u.i] AS w1, ts[u.i + 1] AS w2
            FROM toks, unnest(generate_series(1, len(ts) - 1)) AS u(i)
        ),
        cbg AS (SELECT w1, w2, count(*) AS c12 FROM grams GROUP BY w1, w2),
        cleft AS (SELECT w1, count(*) AS c1 FROM grams GROUP BY w1),
        vocab AS (
            SELECT count(DISTINCT t.tok) AS v
            FROM toks, unnest(ts) AS t(tok)
        ),
        scored AS (
            SELECT g.doc_id,
                   CAST(round(ln((cbg.c12 + 1.0) / (cleft.c1 + vocab.v)), 6)
                        AS DECIMAL(18,6)) AS lnp
            FROM grams g
            JOIN cbg USING (w1, w2)
            JOIN cleft USING (w1)
            CROSS JOIN vocab
        )
        SELECT doc_id,
               count(*) AS n_bigrams,
               round(CAST(SUM(lnp) AS DOUBLE) / count(*), 6) AS avg_logprob
        FROM scored
        GROUP BY doc_id
"""


def bigram_logprob_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, n_bigrams, avg_logprob) under the corpus-trained
    add-one-smoothed bigram LM — the plan behind ``txt_bigram_logprob``
    and the score feeding ``sample_perplexity_buckets``."""
    toks = X.tokenize("text")
    # adjacent pairs via two slices + zip_with over the token array,
    # NOT transform-with-element_at: a lambda that indexes back into
    # an unbound `toks` re-evaluates the tokenizer expression PER
    # POSITION (Catalyst inlines the alias), turning an O(len) parse
    # into O(len²) per document — measured 17.7 s → 1.4 s at sf0.1.

    def _pairs(arr: F.Column) -> F.Column:
        n = F.size(arr)
        return F.when(
            n >= 2,
            F.zip_with(
                F.slice(arr, 1, n - 1),
                F.slice(arr, 2, n - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            ),
        ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))

    # tokenize ONCE (round 13, guide §2.4): the old shape re-ran the
    # tokenizer+pair-explode for each of its three consumers (cbg,
    # cleft, the scored join-back) plus a fourth scan for vocab — the
    # plan printed four Generate-over-tokenize subtrees. The token
    # arrays are materialized here and everything derives from them;
    # `_pairs` slices a plain column reference, which is free of the
    # per-position re-evaluation trap above (the char_ngrams rule).
    toks_df = docs.select("doc_id", toks.alias("ts")).localCheckpoint(
        eager=True)
    grams = toks_df.select(
        "doc_id", F.explode(_pairs(F.col("ts"))).alias("g"),
    ).select("doc_id", F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
    cbg = grams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    # c1 ≡ Σ_w2 c12: derive the left-word counts from the already
    # vocab²-bounded bigram counts instead of a second corpus-wide
    # gram shuffle (§2.4 — aggregate the aggregate)
    cleft = cbg.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = toks_df.select(F.explode("ts").alias("tok")).agg(
        F.countDistinct("tok").alias("v")
    )
    lnp = F.round(
        F.log((F.col("c12") + F.lit(1.0)) / (F.col("c1") + F.col("v"))), 6
    ).cast("decimal(18,6)")
    scored = (
        grams.join(cbg, ["w1", "w2"])
        .join(cleft, ["w1"])
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", lnp.alias("lnp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(
            F.sum("lnp").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_logprob"),
    )


@register("txt_bigram_logprob", oracle=_BIGRAM_SCORES_SQL)
def txt_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document language-model quality score, CCNet-shaped (Wenzek
    et al. 2020 use wiki-LM perplexity; here the bigram LM is trained
    on the corpus itself so the score is self-contained): add-one-
    smoothed P(w2|w1), documents scored by mean log-probability —
    low scores = improbable token sequences = gibberish/boilerplate
    candidates for the quality gate.

    Determinism: per-bigram ln is quantized to DECIMAL(18,6) BEFORE
    the per-doc sum, so the aggregate is exact and partial-aggregation
    order can't move the hash (registry money-math rule applied to
    floats). Scale shape: bigram/left counts are vocab-bounded aggs
    with map-side combine; the probability join back to the gram
    stream broadcasts (vocab² is MBs for any real top-V LM — at
    100 TB train on a sample and cap the vocab, the published CCNet
    recipe); one per-doc agg ends the plan."""
    return bigram_logprob_scores(load_table(spark, sf_dir, "documents"))


# --- perplexity-bucketed sampling (the CCNet head/middle/tail split) ------
@register(
    "sample_perplexity_buckets",
    oracle=f"""
        WITH scores AS ({_BIGRAM_SCORES_SQL}),
        bucketed AS (
            SELECT doc_id, avg_logprob,
                   ntile(3) OVER (ORDER BY avg_logprob DESC, doc_id)
                       AS bucket
            FROM scores
        )
        SELECT doc_id, bucket, avg_logprob
        FROM bucketed
        WHERE CASE bucket
                  WHEN 1 THEN TRUE
                  WHEN 2 THEN substr({_KEY_SQL}, 1, 2) < '80'
                  ELSE substr({_KEY_SQL}, 1, 2) < '1a'
              END
    """,
)
def sample_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's closing move (Wenzek et al. 2020 §4.3): split the corpus
    into head/middle/tail thirds by LM score and keep them at
    100%/~50%/~10% — better text is over-represented without the hard
    cliff of a single threshold. Bucketing is ntile over
    (avg_logprob DESC, doc_id) — fully tie-broken, so membership is
    deterministic on any engine; within-bucket sampling is the repo's
    md5-prefix rule (reproducible on any cluster size, no RNG state).
    Scale: the ntile is ONE total-order window — at 100 TB swap for
    approx-percentile cutpoints exactly as ``ev_value_bins_approx``
    does for ``ev_value_bins`` (same documented trade)."""
    docs = load_table(spark, sf_dir, "documents")
    scores = bigram_logprob_scores(docs)
    w = Window.orderBy(F.col("avg_logprob").desc(), F.col("doc_id"))
    bucketed = scores.select(
        "doc_id", "avg_logprob", F.ntile(3).over(w).alias("bucket")
    )
    key2 = F.substring(_key(), 1, 2)
    keep = (
        F.when(F.col("bucket") == 1, F.lit(True))
        .when(F.col("bucket") == 2, key2 < "80")
        .otherwise(key2 < "1a")
    )
    return bucketed.filter(keep).select("doc_id", "bucket", "avg_logprob")


# --- corpus statistics card (the datasheet aggregation) -------------------
@register(
    "corpus_stats_card",
    oracle=f"""
        SELECT source, lang,
               COUNT(*) AS n_docs,
               CAST(SUM(len({_TOKENS_SQL})) AS BIGINT) AS total_tokens,
               CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
               MAX(len({_TOKENS_SQL})) AS max_tokens
        FROM documents
        GROUP BY CUBE (source, lang)
        ORDER BY source, lang
    """,
)
def corpus_stats_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The "datasheet for datasets" aggregation (Gebru et al. 2021):
    doc counts, token totals, and size profile per source, per
    language, per (source, language), and corpus-wide — all four
    grouping sets in ONE Expand+partial-agg pass (no re-scan per
    slice), which is the only shape that survives a 100 TB corpus:
    every aggregate here is algebraic, so map-side combine reduces
    each slice to one row per task before the single shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = X.word_token_count("text")
    return (
        docs.select("source", "lang", "n_chars", n_tok.alias("n_tok"))
        .cube("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1)))
            .alias("avg_chars"),
            F.max("n_tok").alias("max_tokens"),
        )
        .orderBy("source", "lang")
    )


# --- curriculum ordering: quality stages, shard-local ranks ---------------
_CURR_STAGES = 4
_CURR_SHARDS = 8


@register(
    "corpus_curriculum_order",
    oracle=f"""
        WITH staged AS (
            SELECT doc_id,
                   CAST(least(floor(least(CAST(n_chars AS DOUBLE) / 2000, 1.0)
                                    * {_CURR_STAGES}),
                              {_CURR_STAGES} - 1) AS BIGINT) + 1 AS stage,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                        AS BIGINT) % {_CURR_SHARDS} AS shard
            FROM documents
        )
        SELECT doc_id, stage, shard,
               row_number() OVER (
                   PARTITION BY stage, shard
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rank
        FROM staged
    """,
)
def corpus_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum data ordering: every document gets a deterministic
    (stage, shard, rank) address — stage = fixed-cutpoint quality
    bucket (the established length-derived weight, cutpoints at
    1/{_CURR_STAGES} steps so no corpus statistic is needed), shard =
    seeded hash within the stage, rank = shuffle order WITHIN the
    (stage, shard) cell. A trainer consumes cells stage-by-stage,
    shards in parallel, rows by rank — highest stage last (or first;
    the address is the artifact, the schedule is the consumer's).

    Scale shape: stage and shard are pure projections; the only
    shuffle is the (stage, shard) window whose partitions are
    corpus/{_CURR_STAGES}/{_CURR_SHARDS} — shard count is the knob
    that bounds per-window state, exactly like ``pack_sequences_emit``;
    never a corpus-global rank (contrast the deliberate bounded-window
    exception in ``sample_perplexity_buckets``)."""
    docs = load_table(spark, sf_dir, "documents")
    quality = F.least(F.col("n_chars").cast("double") / 2000, F.lit(1.0))
    stage = (
        F.least(
            F.floor(quality * _CURR_STAGES), F.lit(_CURR_STAGES - 1)
        ).cast("long") + 1
    )
    h = F.md5(F.col("doc_id").cast("string"))
    shard = (F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint")
             % _CURR_SHARDS)
    w = Window.partitionBy("stage", "shard").orderBy(h, "doc_id")
    return (
        docs.select(
            "doc_id", stage.alias("stage"), shard.alias("shard"),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
    )


# --- the full curation funnel: one query, per-stage survivor counts -------
_FUNNEL_STOPWORDS = ["the", "of", "and", "to", "in", "a", "is", "that"]
# estimated input bytes per task of the funnel's shingle stage: at
# sf0.1 on 4 cores (3 tasks) 3.08 s against 5.03 s at 32 KiB (19 tasks)
# and 3.70 s at 1 MiB (1 task)
_FUNNEL_BYTES_PER_TASK = 256 << 10


@register(
    "curation_funnel",
    oracle=f"""
        WITH train AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 20 <> 0
        ),
        gop AS (
            SELECT doc_id, text FROM train
            WHERE len(list_filter(string_split_regex(text, '\\s+'),
                                  t -> t <> '')) >= 20
              AND CAST(length(text)
                       - length(regexp_replace(text, '\\s', '', 'g'))
                       AS DOUBLE) * 0 +
                  CAST(length(regexp_replace(text, '\\s', '', 'g'))
                       AS DOUBLE)
                  / greatest(len(list_filter(
                        string_split_regex(text, '\\s+'), t -> t <> '')), 1)
                  BETWEEN 3 AND 10
              AND len(list_intersect(list_distinct({_TOKENS_SQL}),
                      [{", ".join(repr(s) for s in _FUNNEL_STOPWORDS)}])) >= 1
        ),
        s2 AS (
            SELECT doc_id, text FROM (
                SELECT doc_id, text,
                       row_number() OVER (PARTITION BY {_FP_SQL}
                                          ORDER BY doc_id) AS rn
                FROM gop
            ) WHERE rn = 1
        ),
        grams AS (
            SELECT doc_id, unnest(list_distinct(
                list_transform(generate_series(1, greatest(len({_TOKENS_SQL}) - 2, 0)),
                               i -> array_to_string({_TOKENS_SQL}[i:i+2], ' '))
            )) AS g FROM s2
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
        common AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
            FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        neardup_drop AS (
            SELECT DISTINCT id_b FROM common
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.5
        ),
        s3 AS (
            SELECT doc_id, text FROM s2
            WHERE doc_id NOT IN (SELECT id_b FROM neardup_drop)
        ),
        eval_g AS (
            SELECT DISTINCT unnest(list_distinct(
                list_transform(generate_series(1, greatest(len({_TOKENS_SQL}) - 2, 0)),
                               i -> array_to_string({_TOKENS_SQL}[i:i+2], ' '))
            )) AS g FROM documents WHERE doc_id % 20 = 0
        ),
        contaminated AS (
            SELECT DISTINCT t.doc_id
            FROM (SELECT doc_id, unnest(list_distinct(
                      list_transform(generate_series(1, greatest(len({_TOKENS_SQL}) - 2, 0)),
                                     i -> array_to_string({_TOKENS_SQL}[i:i+2], ' '))
                  )) AS g FROM s3) t
            JOIN eval_g USING (g)
        )
        SELECT 's0_raw' AS stage, (SELECT count(*) FROM train) AS docs
        UNION ALL SELECT 's1_gopher', (SELECT count(*) FROM gop)
        UNION ALL SELECT 's2_exact_dedup', (SELECT count(*) FROM s2)
        UNION ALL SELECT 's3_neardup', (SELECT count(*) FROM s3)
        UNION ALL SELECT 's4_decontam',
            (SELECT count(*) FROM s3)
            - (SELECT count(*) FROM contaminated)
    """,
)
def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole pre-training curation pipeline as ONE declarative
    query with a survivor count per stage — the funnel report every
    data team keeps on a dashboard: raw → Gopher quality rules →
    exact dedup (keep-first per fingerprint) → greedy near-dup drop
    (lose the higher id of every >= 0.5-Jaccard pair) → eval-set
    decontamination. Each stage reuses the exact operator the
    standalone queries verify (gopher predicate, fingerprint window,
    ``ngram_jaccard_pairs``, ``decontaminate``), so the funnel's
    numbers are consistent with the per-stage tools by construction.

    The near-dup stage is the greedy pair-drop, not the full closure:
    a funnel wants monotone, order-free set algebra (drop-set = all
    id_b's), and the canonical-closure variant exists separately
    (``dedup_canonical*``) for when cluster identity matters.

    Scale: stage boundaries are MATERIALIZED (localCheckpoint here;
    a production funnel writes each boundary to the lake) because
    three consumers hang off s2 (its count, the pair join, decontam)
    and two off s3 — composing lazily would re-run the fingerprint
    window and the shingle join once per consumer (measured 7.0 s →
    ~4 s at sf0.1 from exactly that, plus the repartition below). The
    pair stage runs on the
    ALREADY-FILTERED survivor set (at 100 TB the quality+exact-dedup
    stages typically halve the corpus before the expensive shingle
    join); decontam broadcasts eval shingles. Five count aggregates
    union into the 5-row report."""
    from crawler_spark.operators.decontam import decontaminate
    from crawler_spark.plans.queries_text import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % 20 == 0
    train = docs.filter(~is_eval)

    n_chars = F.length("text")
    n_ws = n_chars - F.length(F.regexp_replace("text", r"\s", ""))
    n_words = X.token_count("text")
    mean_wl = (n_chars - n_ws).cast("double") / F.greatest(n_words, F.lit(1))
    stop_hits = F.size(F.array_intersect(
        F.array_distinct(X.tokenize("text")),
        F.array(*[F.lit(s) for s in _FUNNEL_STOPWORDS]),
    ))
    gop = train.filter(
        (n_words >= 20) & mean_wl.between(3, 10) & (stop_hits >= 1)
    )

    # fingerprint is an unbounded, skew-prone key; this window is
    # pushdown-bounded, not bounded-key — the rn == 1 filter becomes
    # WindowGroupLimit (map-side per-key top-1 before the shuffle),
    # plan-locked in tests/test_plan_shapes.py
    w = Window.partitionBy(X.fingerprint("text")).orderBy("doc_id")
    s2 = (
        gop.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .select("doc_id", "text")
        # spread the checkpoint across the cluster: the filter chain
        # inherits the scan's input split count (ONE task on the
        # single-row-group fixture), and the shingle projection feeding
        # the pair join is the funnel's hottest expression
        .repartition(estimated_partitions(gop, _FUNNEL_BYTES_PER_TASK), "doc_id")
        .localCheckpoint()
    )

    pairs = ngram_jaccard_pairs(s2, shingle_k=3, threshold=0.5)
    drop = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    s3 = s2.join(drop, "doc_id", "left_anti").localCheckpoint()

    dec = decontaminate(s3, docs.filter(is_eval), shingle_k=3)
    s4 = dec.filter(~F.col("contaminated"))

    def stage(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("docs")).select(
            F.lit(name).alias("stage"), "docs"
        )

    return (
        stage("s0_raw", train)
        .unionByName(stage("s1_gopher", gop))
        .unionByName(stage("s2_exact_dedup", s2))
        .unionByName(stage("s3_neardup", s3))
        .unionByName(stage("s4_decontam", s4))
    )


# --- snapshot diff: what changed between two corpus versions --------------
@register(
    "corpus_snapshot_diff",
    oracle=f"""
        WITH old AS (
            SELECT doc_id, {_FP_SQL} AS fp FROM documents
            WHERE doc_id % 11 <> 0
        ),
        new AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 17 = 0
                        THEN md5(trim(regexp_replace(
                                 lower(text || ' rev2'), '\\s+', ' ', 'g')))
                        ELSE {_FP_SQL} END AS fp
            FROM documents WHERE doc_id % 13 <> 0
        )
        SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
               CASE WHEN o.doc_id IS NULL THEN 'added'
                    WHEN n.doc_id IS NULL THEN 'removed'
                    ELSE 'changed' END AS status
        FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
        WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR o.fp <> n.fp
    """,
)
def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diff two corpus snapshots by content fingerprint: one full-outer
    join on the doc id emits added / removed / changed rows (unchanged
    docs — the overwhelming majority between crawls — drop out, so the
    output is sized to the churn, not the corpus). The complement to
    ``timetravel_changes_feed``: that one replays a TABLE's committed
    deltas, this one diffs any two corpus states regardless of how
    they were produced. Snapshots here are deterministic carve-outs of
    the fixture (drop every 11th / 13th doc; revise every 17th) so the
    diff exercises all three statuses under the value oracle.

    Scale: ONE equi-join on the uniform doc id; fingerprints are
    computed scan-side (projection), so the exchange carries
    (id, 32-byte fp) — never text."""
    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 11 != 0).select(
        "doc_id", X.fingerprint("text").alias("fp")
    )
    new = docs.filter(F.col("doc_id") % 13 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 17 == 0,
            X.fingerprint(F.concat(F.col("text"), F.lit(" rev2"))),
        ).otherwise(X.fingerprint("text")).alias("fp"),
    )
    o, n = old.alias("o"), new.alias("n")
    joined = o.join(n, F.col("o.doc_id") == F.col("n.doc_id"), "full_outer")
    status = (
        F.when(F.col("o.doc_id").isNull(), "added")
        .when(F.col("n.doc_id").isNull(), "removed")
        .otherwise("changed")
    )
    return joined.filter(
        F.col("o.doc_id").isNull()
        | F.col("n.doc_id").isNull()
        | (F.col("o.fp") != F.col("n.fp"))
    ).select(
        F.coalesce(F.col("o.doc_id"), F.col("n.doc_id")).alias("doc_id"),
        status.alias("status"),
    )


# --- group-holdout split: whole sources to val ----------------------------
_HOLDOUT_PREFIX = "34"  # md5-prefix threshold ≈ 20% of sources


@register(
    "corpus_group_holdout_split",
    oracle=f"""
        WITH tagged AS (
            SELECT doc_id, {_FP_SQL} AS fp,
                   substr(md5('holdout:' || source), 1, 2)
                       < '{_HOLDOUT_PREFIX}' AS is_val
            FROM documents
        ),
        val_fps AS (SELECT DISTINCT fp FROM tagged WHERE is_val)
        SELECT doc_id,
               CASE WHEN is_val THEN 'val' ELSE 'train' END AS split
        FROM tagged
        WHERE is_val
           OR fp NOT IN (SELECT fp FROM val_fps)
    """,
)
def corpus_group_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-level holdout: ENTIRE sources go to validation (salted
    md5 on the source name, ~20% of groups), the complement to the
    doc-level ``corpus_train_val_split``. Holding out whole groups is
    how you measure generalization to unseen domains — a doc-level
    split leaks every near-duplicate a domain publishes twice. The
    residual risk is CROSS-source duplication (syndicated/mirrored
    text), so train docs whose normalized fingerprint appears in any
    held-out source are dropped by the same broadcast anti-join as
    the doc-level split.

    Scale: the split decision is a pure projection (hash of an
    attribute already on the row — no group table, no shuffle); only
    the cross-group fingerprint check joins, against a val-sized
    broadcast set."""
    docs = load_table(spark, sf_dir, "documents")
    tagged = docs.select(
        "doc_id",
        X.fingerprint("text").alias("fp"),
        (F.substring(F.md5(F.concat(F.lit("holdout:"), F.col("source"))),
                     1, 2)
         < _HOLDOUT_PREFIX).alias("is_val"),
    )
    val_fps = tagged.where("is_val").select("fp").distinct()
    train = (
        tagged.where(~F.col("is_val"))
        .join(F.broadcast(val_fps), "fp", "left_anti")
        .select("doc_id", F.lit("train").alias("split"))
    )
    val = tagged.where("is_val").select("doc_id", F.lit("val").alias("split"))
    return val.unionByName(train)


# --- judge-vs-classifier calibration ----------------------------------------
# The composed oracles BUILD ON the component queries' own fragments
# (review finding: verbatim re-inlines meant a weight-hash/threshold
# change would silently diverge the composition from its components).
from crawler_spark.plans.queries_mlprep import (  # noqa: E402
    _QC_WEIGHTED_SQL,
)
from crawler_spark.plans.queries_sources import (  # noqa: E402
    _JUDGE_SCORE_SQL as _CAL_JUDGE_SQL,
)

_CAL_LOGIT_SQL = f"""
    SELECT doc_id,
           round(CAST(SUM(w_milli) AS DOUBLE)
                 / (1000.0 * count(*)), 6) AS logit,
           SUM(w_milli) > 0 AS clf_keep
    FROM ({_QC_WEIGHTED_SQL})
    GROUP BY doc_id
"""


@register(
    "curation_judge_calibration",
    oracle=f"""
        WITH logits AS ({_CAL_LOGIT_SQL}),
        joined AS (
            SELECT l.doc_id, l.logit, l.clf_keep,
                   {_CAL_JUDGE_SQL} >= 30 AS judge_keep
            FROM logits l JOIN documents d USING (doc_id)
        ),
        tiled AS (
            SELECT *, ntile(10) OVER (ORDER BY logit, doc_id) AS decile
            FROM joined
        )
        SELECT decile,
               count(*) AS n_docs,
               CAST(SUM(CASE WHEN clf_keep THEN 1 ELSE 0 END) AS BIGINT)
                   AS clf_keeps,
               CAST(SUM(CASE WHEN judge_keep THEN 1 ELSE 0 END) AS BIGINT)
                   AS judge_keeps,
               round(CAST(SUM(CASE WHEN clf_keep = judge_keep
                                   THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*), 6) AS agreement
        FROM tiled
        GROUP BY decile
    """,
)
def curation_judge_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration report for the two-tier quality gate: does the CHEAP
    hashed-linear classifier (txt_quality_linear_hashed — runs on every
    document) track the EXPENSIVE LLM judge (curation_llm_judge — runs
    on whatever the cheap tier lets through)? Per classifier-logit
    decile: doc count, each gate's keep count, and the agreement rate.
    This is the measurement behind the standard curation design of
    "heuristics gate what reaches the model" (SCALING.md judge row) —
    a decile where agreement collapses is where the cheap tier needs
    retraining or the threshold moves.

    Composes the two REGISTERED queries' logic by joining their
    outputs (both deterministic md5 derivations here, which is what
    makes the oracle able to reproduce the whole report in SQL; a real
    deployment persists judge scores and joins the same way).

    Scale: the classifier side is one explode+agg (its own row), the
    judge side an Arrow UDF projection; the join keys on doc_id
    (high-card, uniform). The ntile window is a TOTAL ORDER over
    doc-cardinality rows — the documented local-mode cost; at 100 TB
    swap cutpoints for approx_percentile exactly like
    sample_perplexity_buckets. Tie-break (logit, doc_id) makes decile
    membership engine-identical."""
    from crawler_spark.plans.queries_mlprep import txt_quality_linear_hashed
    from crawler_spark.plans.queries_sources import curation_llm_judge

    clf = txt_quality_linear_hashed(spark, sf_dir).select(
        "doc_id", F.col("quality_logit").alias("logit"),
        F.col("keep").alias("clf_keep"))
    judge = curation_llm_judge(spark, sf_dir).select(
        "doc_id", (F.col("verdict") == "keep").alias("judge_keep"))
    joined = clf.join(judge, "doc_id")
    w = Window.orderBy("logit", "doc_id")
    tiled = joined.withColumn("decile", F.ntile(10).over(w))
    return tiled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("clf_keep").cast("long")).alias("clf_keeps"),
        F.sum(F.col("judge_keep").cast("long")).alias("judge_keeps"),
        F.round(
            F.sum((F.col("clf_keep") == F.col("judge_keep")).cast("long"))
            / F.count(F.lit(1)), 6
        ).alias("agreement"),
    )


# --- filter-overlap (upset) report ------------------------------------------
from crawler_spark.plans.queries_ragprep import (  # noqa: E402
    _GOPHER_PASS_SQL,
    _STOPWORDS,
)


@register(
    "curation_filter_overlap",
    oracle=f"""
        WITH gopher AS (
            SELECT doc_id, {_GOPHER_PASS_SQL} AS gopher_pass
            FROM (
                SELECT doc_id,
                       len(list_filter(string_split_regex(text, '\\s+'),
                                       t -> t <> '')) AS n_words,
                       length(text) AS n_chars,
                       length(text)
                         - length(regexp_replace(text, '\\s', '', 'g'))
                           AS n_ws,
                       len(list_intersect(list_distinct({_TOKENS_SQL}),
                           [{", ".join(repr(s) for s in _STOPWORDS)}]))
                           AS stopword_hits
                FROM documents
            )
        ),
        clf AS ({_CAL_LOGIT_SQL}),
        judge AS (
            SELECT doc_id, {_CAL_JUDGE_SQL} >= 30 AS judge_keep
            FROM documents
        )
        SELECT g.gopher_pass, c.clf_keep, j.judge_keep,
               count(*) AS n_docs
        FROM gopher g
        JOIN clf c USING (doc_id)
        JOIN judge j USING (doc_id)
        GROUP BY g.gopher_pass, c.clf_keep, j.judge_keep
    """,
)
def curation_filter_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upset-style overlap report for the three quality gates (Gopher
    heuristics, hashed-linear classifier, LLM judge): one row per
    pass/fail combination with its document count. This is the other
    half of the calibration story — ``curation_funnel`` shows
    SEQUENTIAL survivor counts, this shows which gates agree on WHICH
    documents: a large (gopher_pass, clf_drop, judge_keep) cell means
    the cheap classifier is throwing away documents both the
    heuristics and the model would keep — the cell a curation team
    inspects before tightening any threshold.

    Composes the three REGISTERED gate queries by doc_id joins; all
    three are deterministic here, so the oracle reproduces every cell
    exactly. Scale: each gate is its own documented pass (projection /
    explode+agg / Arrow UDF), the joins key on doc_id (high-card,
    uniform), and the output is ≤8 rows by construction."""
    from crawler_spark.plans.queries_mlprep import txt_quality_linear_hashed
    from crawler_spark.plans.queries_ragprep import txt_gopher_rules
    from crawler_spark.plans.queries_sources import curation_llm_judge

    gopher = txt_gopher_rules(spark, sf_dir).select(
        "doc_id", F.col("passes").alias("gopher_pass"))
    clf = txt_quality_linear_hashed(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("clf_keep"))
    judge = curation_llm_judge(spark, sf_dir).select(
        "doc_id", (F.col("verdict") == "keep").alias("judge_keep"))
    return (
        gopher.join(clf, "doc_id").join(judge, "doc_id")
        .groupBy("gopher_pass", "clf_keep", "judge_keep")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# --- Gopher duplicate-n-gram metrics ----------------------------------------
@register(
    "txt_gopher_repetition",
    oracle=f"""
        WITH g AS (
            SELECT doc_id,
                   list_transform(
                       generate_series(1, greatest(len({_TOKENS_SQL}) - 1, 0)),
                       i -> {_TOKENS_SQL}[i] || ' ' || {_TOKENS_SQL}[i+1])
                       AS bi,
                   list_transform(
                       generate_series(1, greatest(len({_TOKENS_SQL}) - 2, 0)),
                       i -> {_TOKENS_SQL}[i] || ' ' || {_TOKENS_SQL}[i+1]
                            || ' ' || {_TOKENS_SQL}[i+2]) AS tri
            FROM documents
        )
        SELECT doc_id,
               CAST(len(bi) AS BIGINT) AS n_bigrams,
               round(CASE WHEN len(bi) = 0 THEN 0.0
                    ELSE 1.0 - CAST(len(list_distinct(bi)) AS DOUBLE)
                               / len(bi) END, 6) AS dup_bigram_frac,
               round(CASE WHEN len(tri) = 0 THEN 0.0
                    ELSE 1.0 - CAST(len(list_distinct(tri)) AS DOUBLE)
                               / len(tri) END, 6) AS dup_trigram_frac,
               round(CASE WHEN len(bi) = 0 THEN 0.0
                    ELSE CAST(list_max(list_transform(list_distinct(bi),
                         t -> len(list_filter(bi, x -> x = t))))
                         AS DOUBLE) / len(bi) END, 6) AS top_bigram_share
        FROM g
    """,
)
def txt_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher repetition-filter metrics beyond the single
    top-token share (``txt_repetition_ratio``): per document, the
    FRACTION OF DUPLICATE 2-GRAMS and 3-GRAMS (extra occurrences /
    total — Rae et al. 2021 §A1.1 drop docs above ~0.2) and the share
    of the most frequent 2-gram. Degenerate generations and keyword
    stuffing light up the dup fractions even when no single token
    dominates.

    Scale shape: identical to txt_repetition_ratio — every metric is a
    PURE PROJECTION over HOF-built gram arrays (zip_with over shifted
    slices, O(n) per row; the top-share count is the O(n log n)
    sorted-run pass, functions/text.top_element_count), zero
    shuffles, scan speed at 100 TB. The token array binds once
    (bind_once) so the HOF lambdas can't re-tokenize per reference."""
    docs = load_table(spark, sf_dir, "documents")

    def _metrics(arr: F.Column) -> F.Column:
        n = F.size(arr)
        bi = F.when(n >= 2, F.zip_with(
            F.slice(arr, 1, n - 1), F.slice(arr, 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        )).otherwise(F.array().cast("array<string>"))

        def _with_bi(big: F.Column) -> F.Column:
            tri = F.when(n >= 3, F.zip_with(
                F.slice(big, 1, n - 2), F.slice(arr, 3, n - 2),
                lambda g, c: F.concat_ws(" ", g, c),
            )).otherwise(F.array().cast("array<string>"))
            nb = F.size(big).cast("double")
            nt = F.size(tri).cast("double")
            dup2 = F.when(nb > 0, F.lit(1.0)
                          - F.size(F.array_distinct(big)) / nb) \
                    .otherwise(F.lit(0.0))
            dup3 = F.when(nt > 0, F.lit(1.0)
                          - F.size(F.array_distinct(tri)) / nt) \
                    .otherwise(F.lit(0.0))
            top2 = F.when(
                nb > 0,
                X.top_element_count(big).cast("double") / nb,
            ).otherwise(F.lit(0.0))
            return F.struct(
                F.size(big).cast("long").alias("n_bigrams"),
                F.round(dup2, 6).alias("dup_bigram_frac"),
                F.round(dup3, 6).alias("dup_trigram_frac"),
                F.round(top2, 6).alias("top_bigram_share"),
            )

        return X.bind_once(bi, _with_bi)

    m = docs.select(
        "doc_id", X.bind_once(X.tokenize("text"), _metrics).alias("m"))
    return m.select(
        "doc_id", "m.n_bigrams", "m.dup_bigram_frac",
        "m.dup_trigram_frac", "m.top_bigram_share",
    )


# --- gate-threshold sensitivity sweep ---------------------------------------
@register(
    "curation_threshold_sweep",
    oracle=f"""
        WITH scored AS (
            SELECT doc_id, CAST({_CAL_JUDGE_SQL} AS INTEGER) AS score
            FROM documents
        ),
        cuts AS (SELECT unnest(generate_series(0, 100, 10)) AS cutoff)
        SELECT c.cutoff,
               CAST(SUM(CASE WHEN s.score >= c.cutoff THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_keep,
               round(CAST(SUM(CASE WHEN s.score >= c.cutoff
                                   THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*), 6) AS keep_rate
        FROM scored s CROSS JOIN cuts c
        GROUP BY c.cutoff
    """,
)
def curation_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sensitivity curve for the judge-score gate: survivor count and
    keep-rate at every cutoff 0,10,…,100 — the table a curation team
    reads before moving a quality threshold (the knee of this curve
    is where a cutoff change starts costing real data). One corpus
    pass: scores project per row, the 11-point cutoff grid broadcasts
    onto it (bounded ×11 fan-out — a per-cutoff filter would re-scan
    the corpus 11 times), one map-side-combined aggregate. Reuses the
    judge's registered score derivation verbatim via the shared
    fragment (the r6 composition rule)."""
    from crawler_spark.functions.judge import judge_udf, parse_judgment

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    scored = (
        docs.withColumn("raw", judge_udf()(F.col("text")))
        .select("doc_id", parse_judgment("raw")["score"].alias("score"))
    )
    cuts = spark.range(0, 101, 10, numPartitions=1).select(
        F.col("id").cast("int").alias("cutoff"))
    return (
        scored.crossJoin(F.broadcast(cuts))
        .groupBy("cutoff")
        .agg(
            F.sum((F.col("score") >= F.col("cutoff")).cast("long"))
            .alias("n_keep"),
            F.round(
                F.sum((F.col("score") >= F.col("cutoff")).cast("long"))
                / F.count(F.lit(1)), 6
            ).alias("keep_rate"),
        )
    )


# --- URL/domain blocklist filtering -----------------------------------------

# deterministic blocklist fixture: three blocked registrable domains
# (suffix semantics must catch their www. variants) + one entry that
# matches nothing (a blocklist always carries dead entries)
_BLOCKLIST = ["src3.example.com", "src7.example.com",
              "src12.example.com", "badtld.net"]

_BL_DOMAIN_SQL = (
    "CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END"
    " || source || '.example.com'"
)


def _bl_domain() -> F.Column:
    """Spark twin of _BL_DOMAIN_SQL — the ONE definition of the
    fixture domain both blocklist queries decorate documents with
    (www. on even doc_ids so the suffix rule is what the oracles
    verify)."""
    return F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.col("source"), F.lit(".example.com"),
    )


@register(
    "curation_url_blocklist",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, {_BL_DOMAIN_SQL} AS domain FROM documents
        ),
        b AS (
            SELECT * FROM (VALUES {", ".join(f"('{e}')" for e in _BLOCKLIST)})
                     t(entry)
        )
        SELECT doc_id, domain FROM d
        WHERE NOT EXISTS (
            SELECT 1 FROM b
            WHERE d.domain = b.entry OR d.domain LIKE '%.' || b.entry
        )
    """,
)
def curation_url_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-blocklist filtering with REGISTRABLE-SUFFIX semantics —
    the standard corpus-curation stage (UT1-style category lists,
    spam/adult domain feeds): a document is dropped when its host
    equals a blocked entry OR sits under one on a dot boundary
    (``www.src3.example.com`` is blocked by ``src3.example.com``;
    ``notsrc3.example.com`` is NOT — substring matching over-blocks).

    Spark-first shape (functions/url.py ``filter_blocked_domains``,
    small arm): the host's label-suffix set is built in-plan
    (sequence → transform → slice/array_join HOFs) and membership is
    one ``arrays_overlap`` against the broadcast-literal blocklist —
    a PURE PROJECTION, zero shuffles, O(labels × |list|) JVM work per
    row, the right plan for the usual 10²-10³-entry lists. Lists too
    big to inline take the explode + broadcast-semi arm — see
    ``curation_url_blocklist_big``, which verifies the size switch.
    The fixture domain adds a ``www.`` level to half the docs so the
    suffix rule is what the oracle actually verifies. NULL-domain
    rows are KEPT by both engines (NOT EXISTS vs coalesced overlap —
    review-found, latent: the fixture has no NULL sources)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    d = docs.select("doc_id", _bl_domain().alias("domain"))
    return U.filter_blocked_domains(d, _BLOCKLIST)


# 10⁵ generated dead entries + the 3 live ones: big enough that the
# inline-literal arm is impossible (a 100k-element array literal blows
# plan build), so what the oracle verifies IS the size switch into the
# explode + broadcast-semi arm.
_BLOCKLIST_BIG_N = 100_000


@register(
    "curation_url_blocklist_big",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, {_BL_DOMAIN_SQL} AS domain FROM documents
        ),
        b AS (
            SELECT 'blk' || lpad(CAST(i AS VARCHAR), 5, '0') || '.invalid'
                   AS entry
            FROM generate_series(0, {_BLOCKLIST_BIG_N - 1}) t(i)
            UNION ALL
            SELECT * FROM (VALUES ('src3.example.com'),
                                  ('src7.example.com'),
                                  ('src12.example.com')) v(entry)
        )
        SELECT doc_id, domain FROM d
        WHERE NOT EXISTS (
            SELECT 1 FROM b
            WHERE d.domain = b.entry OR d.domain LIKE '%.' || b.entry
        )
    """,
)
def curation_url_blocklist_big(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LARGE-blocklist arm of ``filter_blocked_domains`` —
    UT1-style category lists run 10⁵-10⁶ entries, far past what an
    in-plan array literal survives. The suffix set (same HOF build as
    the small arm) is posexploded and equi-joined broadcast LEFT SEMI
    against the blocklist (never a nested-loop LIKE join), then a
    null-safe LEFT ANTI back on (doc_id, domain) — both columns, so
    duplicate keys filter per row. The 100k dead entries are generated
    (not
    literal) on BOTH engines so the oracle exercises exactly the
    big-arm plan; the 3 live entries prove the suffix semantics
    unchanged from ``curation_url_blocklist``."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    d = docs.select("doc_id", _bl_domain().alias("domain"))
    bl = spark.range(
        _BLOCKLIST_BIG_N,
        numPartitions=data_partitions(_BLOCKLIST_BIG_N, LOOP_ROWS_PER_PARTITION),
    ).select(
        F.concat(
            F.lit("blk"),
            F.lpad(F.col("id").cast("string"), 5, "0"),
            F.lit(".invalid"),
        ).alias("entry")
    ).union(
        spark.createDataFrame(
            [("src3.example.com",), ("src7.example.com",),
             ("src12.example.com",)],
            "entry string",
        )
    )
    return U.filter_blocked_domains(d, bl)


# --- corpus-frequency line dedup (CCNet-style) -------------------------------

_LD_THRESHOLD = 5
# concat_ws on BOTH sides (not ||): it skips NULL pieces, so a NULL
# text or source degrades to a shorter page in both engines instead of
# Spark keeping the doc while the oracle's NULL-propagating || chain
# drops it (review-found, latent: the fixture has no NULLs)
_LD_PAGE_SQL = (
    "concat_ws(chr(10), 'HOME | ABOUT | CONTACT | PRODUCTS | BLOG',"
    " text, 'tag-' || CAST(doc_id % 200 AS VARCHAR),"
    " '© 2026 ' || source || ' Media Group')"
)


@register(
    "txt_line_dedup",
    oracle=f"""
        WITH pages AS (
            SELECT doc_id, {_LD_PAGE_SQL} AS page FROM documents
        ),
        arr AS (SELECT doc_id, str_split(page, chr(10)) AS l FROM pages),
        lines AS (SELECT doc_id, unnest(l) AS line,
                         unnest(generate_series(1, len(l))) AS pos FROM arr),
        freq AS (SELECT line, count(*) AS nd FROM lines GROUP BY line),
        kept AS (SELECT doc_id, line, pos FROM lines JOIN freq USING (line)
                 WHERE nd <= {_LD_THRESHOLD})
        SELECT doc_id, string_agg(line, chr(10) ORDER BY pos)
               AS main_content
        FROM kept GROUP BY doc_id
    """,
)
def txt_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS-frequency line dedup — the CCNet preprocessing step
    (Wenzek et al. 2020: drop lines whose occurrence count across the
    whole corpus exceeds a threshold; boilerplate repeats on every
    page of a site, prose doesn't). Unlike the per-page rule set
    (``txt_boilerplate_strip``), this needs no rules at all — the
    corpus itself votes. The fixture frames each document with a
    global chrome line (count = corpus size, dropped), a per-source
    footer (count = docs/source, dropped), and a small-group tag line
    (count ≈ corpus/200 — kept at small SF, crossing the threshold as
    the corpus grows, so the threshold genuinely bites both ways
    across SFs); the document's own line survives.

    Scale shape — SKEW-SAFE BY CONSTRUCTION: see
    ``functions/text.drop_frequent_lines`` (the reusable operator this
    query drives): the frequency pass is a map-side-combined
    ``groupBy(line).count()`` whose tiny over-threshold drop-set
    broadcasts into a LEFT ANTI join — never a
    ``Window.partitionBy(line)``, which would land every copy of the
    hottest boilerplate line on one task at 100 TB. Two shuffles
    total; plan-locked, and behavior-pinned on a synthetic corpus
    whose hot line appears in EVERY row. Occurrence counts (not
    distinct-doc counts) match CCNet's shard-hash formulation;
    reassembly keeps original line order via the posexplode index."""
    docs = load_table(spark, sf_dir, "documents")
    page = F.concat_ws(
        "\n",
        F.lit("HOME | ABOUT | CONTACT | PRODUCTS | BLOG"),
        F.col("text"),
        F.concat(F.lit("tag-"), (F.col("doc_id") % 200).cast("string")),
        F.concat(F.lit("© 2026 "), F.col("source"),
                 F.lit(" Media Group")),
    )
    return X.drop_frequent_lines(
        docs.select("doc_id", page.alias("page")),
        "page", threshold=_LD_THRESHOLD,
    )
