"""Training-data preparation queries (the north-star LLM-pipeline
extensions beyond SURVEY.md §2): exact percentile aggregates,
deterministic (reproducible) sampling, stratified sampling, and a
C4-style corpus-cleaning composite. All value-level oracle-backed —
the sampling primitives use md5-prefix ordering, which both engines
compute identically, instead of engine-local RNGs (Spark's
``df.sample`` and DuckDB's ``USING SAMPLE`` can never agree and are
not reproducible across cluster sizes; hash sampling is, which is why
real corpus pipelines use it)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crawler_spark.functions import vector as V
from crawler_spark.functions import text as X
from crawler_spark.plans.queries_text import _FP_SQL, _TOKENS_SQL
from crawler_spark.plans.queries_vector import _NORM_V_SQL
from crawler_spark.plans.oracle_pins import pin_kwargs as _PINS_KW
from crawler_spark.plans.registry import register
from crawler_spark.sources import load_table

# --- exact percentiles per group ------------------------------------------
@register(
    "ev_value_percentiles",
    oracle="""
        SELECT event_type,
               round(quantile_cont(value, 0.5), 6) AS p50,
               round(quantile_cont(value, 0.9), 6) AS p90,
               round(quantile_cont(value, 0.99), 6) AS p99,
               COUNT(*) AS n
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
)
def ev_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles (Spark ``percentile`` ==
    DuckDB ``quantile_cont``). At 100 TB swap for
    ``approx_percentile`` — same plan shape, t-digest partial-merge
    instead of a full sort per group."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
            F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


# The sketch VALUES are partition-dependent (approx_percentile merges
# per-partition GK summaries whose content depends on which rows each
# partition saw — not a float-order issue the decimal-sum trick could
# fix), so no cross-engine/cross-conf pin on the raw quantiles can
# hold. What IS oracle-expressible is the ERROR-BOUND CONTRACT: each
# approximate quantile must land inside the exact neighboring-quantile
# bracket — p50 ∈ [p45, p55], p90 ∈ [p87, p93], p99 ∈ [p97, max] —
# the diag_ann_recall recipe, which turns the "approximate is good
# enough" measurement into an enforced driver gate. The brackets
# themselves are exact aggregates both engines compute identically.
@register("ev_value_percentiles_approx", oracle="""
        SELECT event_type,
               COUNT(*) AS n,
               round(quantile_cont(value, 0.45), 6) AS p50_lo,
               round(quantile_cont(value, 0.55), 6) AS p50_hi,
               round(quantile_cont(value, 0.87), 6) AS p90_lo,
               round(quantile_cont(value, 0.93), 6) AS p90_hi,
               round(quantile_cont(value, 0.97), 6) AS p99_lo,
               round(max(value), 6) AS p99_hi,
               TRUE AS p50_in_bracket,
               TRUE AS p90_in_bracket,
               TRUE AS p99_in_bracket
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """)
def ev_value_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path ``ev_value_percentiles`` documents — t-digest
    ``approx_percentile`` with a pinned accuracy knob, partial
    aggregates merging map-side instead of a full sort per group —
    registered as its ERROR-BOUND SCORECARD: per event_type, the exact
    neighboring-quantile bracket (oracle-verified values) and whether
    the sketch's p50/p90/p99 landed inside it (oracle-pinned TRUE, so
    a sketch regression past the bracket fails the driver hash gate).
    A fixed relative tolerance misfires on sparse tails — at small SF a
    group's 99th percentile sits between order statistics several
    percent apart — hence brackets, the same invariant the local test
    pins (tests/test_mlprep.py).

    Scale shape: two aggregates over one scan lineage (the sketch agg
    and the exact-bracket agg), joined per-group — at 100 TB you run
    the sketch side alone; the bracket side exists to ADJUDICATE it,
    which is exactly what this registration gates."""
    ev = load_table(spark, sf_dir, "events")
    approx = ev.groupBy("event_type").agg(
        F.expr("approx_percentile(value, 0.5, 10000)").alias("ap50"),
        F.expr("approx_percentile(value, 0.9, 10000)").alias("ap90"),
        F.expr("approx_percentile(value, 0.99, 10000)").alias("ap99"),
        F.count(F.lit(1)).alias("n"),
    )
    brackets = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.45)").alias("b50_lo"),
        F.expr("percentile(value, 0.55)").alias("b50_hi"),
        F.expr("percentile(value, 0.87)").alias("b90_lo"),
        F.expr("percentile(value, 0.93)").alias("b90_hi"),
        F.expr("percentile(value, 0.97)").alias("b99_lo"),
        F.max("value").alias("b99_hi"),
    )
    return (
        approx.join(brackets, "event_type")
        .select(
            "event_type", "n",
            F.round("b50_lo", 6).alias("p50_lo"),
            F.round("b50_hi", 6).alias("p50_hi"),
            F.round("b90_lo", 6).alias("p90_lo"),
            F.round("b90_hi", 6).alias("p90_hi"),
            F.round("b99_lo", 6).alias("p99_lo"),
            F.round("b99_hi", 6).alias("p99_hi"),
            ((F.col("ap50") >= F.col("b50_lo"))
             & (F.col("ap50") <= F.col("b50_hi"))).alias("p50_in_bracket"),
            ((F.col("ap90") >= F.col("b90_lo"))
             & (F.col("ap90") <= F.col("b90_hi"))).alias("p90_in_bracket"),
            ((F.col("ap99") >= F.col("b99_lo"))
             & (F.col("ap99") <= F.col("b99_hi"))).alias("p99_in_bracket"),
        )
        .orderBy("event_type")
    )


# --- mergeable quantile sketch rollup -------------------------------------
_QSK_K = 256
_QSK_H_SQL = "('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT"


@register(
    "ev_quantile_merge_rollup",
    oracle=f"""
        WITH sk AS (
            SELECT list_sort(list({{'h': {_QSK_H_SQL}, 'v': value}}))
                       [1:{_QSK_K}] AS sk
            FROM events WHERE value IS NOT NULL
        ),
        vals AS (
            SELECT len(sk) AS n,
                   list_sort(list_transform(sk, s -> s.v)) AS vals
            FROM sk
        )
        SELECT n AS n_sampled,
               vals[CAST(floor(0.5  * (n - 1) + 0.5) AS BIGINT) + 1] AS p50,
               vals[CAST(floor(0.9  * (n - 1) + 0.5) AS BIGINT) + 1] AS p90,
               vals[CAST(floor(0.99 * (n - 1) + 0.5) AS BIGINT) + 1] AS p99
        FROM vals
    """,
)
def ev_quantile_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE quantile rollup (operators/sketch.py): per-day
    bottom-k-by-hash (hash, value) sketches merged into a whole-range
    sketch, selection quantiles read off the merged sample. The SPARK
    side maintains per-day partials and merges them — the ORACLE
    recomputes the bottom-k over the raw range in one pass; hash
    equality is the mergeability proof (same bar `ev_rollup_incremental`
    sets for sums). This is the any-range-quantile pattern at 100 TB:
    store days×k tiny structs, answer a quarter's p99 by merging ~90
    day states — no rescan, no full sort, ~1/√k sampling error
    (k=256 → ~6%; k is the only knob)."""
    from crawler_spark.operators.sketch import (
        bottomk_sketches,
        merge_sketches,
        sketch_hash,
        sketch_quantiles,
    )

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    # bounded builder (window rank ≤ k, spillable sort) — the
    # aggregate-expression form would buffer a whole day's events in
    # one collect_list before truncating to k
    daily = bottomk_sketches(
        ev.select(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            sketch_hash("event_id").alias("h"),
            F.col("value").alias("v"),
        ),
        ["day"], "h", "v", _QSK_K,
    )
    merged = daily.agg(merge_sketches("sk", _QSK_K).alias("sk"))
    return sketch_quantiles(merged, "sk", [0.5, 0.9, 0.99])


# --- deterministic hash sampling ------------------------------------------
_HASH_KEY = "md5(CAST(doc_id AS VARCHAR))"


@register(
    "sample_deterministic",
    oracle=f"""
        SELECT doc_id, lang, n_chars FROM documents
        WHERE substr({_HASH_KEY}, 1, 2) < '1a'
    """,
)
def sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% reproducible sample: keep rows whose md5(doc_id) prefix
    falls under a fixed threshold ('1a' = 26/256). Identical members
    on any engine, any cluster size, any partitioning — the property
    RNG-based sampling can't give a multi-stage corpus pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(F.col("doc_id").cast("string"))
    return docs.filter(F.substring(key, 1, 2) < "1a").select(
        "doc_id", "lang", "n_chars"
    )


# --- stratified sampling (equal per-group quota) --------------------------
@register(
    "sample_stratified",
    oracle=f"""
        SELECT doc_id, lang FROM (
            SELECT doc_id, lang,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY {_HASH_KEY}, doc_id) AS rn
            FROM documents
        ) WHERE rn <= 20
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-quota per-language sample, deterministically ordered by
    content-free hash so the quota is unbiased w.r.t. document order:
    one shuffle on lang (the window), no RNG state anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang").orderBy(key, F.col("doc_id"))
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("doc_id", "lang")
    )


# --- deterministic shuffle-shard assignment -------------------------------
@register(
    "shard_assignment",
    oracle=f"""
        SELECT doc_id,
               CAST(strpos('0123456789abcdef',
                           substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1
                    AS BIGINT) AS shard_id,
               CAST(row_number() OVER (
                   PARTITION BY substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 1)
                   ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)), doc_id
               ) AS BIGINT) AS pos
        FROM documents
    """,
)
def shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard assignment (operators/shards.py) in its
    engine-portable form so it can be value-level oracle-checked: the
    shard is the first md5 nibble of the seeded id (16 shards), the
    within-shard position a row_number over the full hash. Pure
    projections + one window keyed on the (uniform) shard — no global
    sort. The production writer (write_shards) uses the same design
    with xxhash64 and pmod for arbitrary shard counts; xxhash64 has no
    DuckDB twin, which is why the oracle query speaks md5."""
    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(F.concat_ws(":", F.lit("42"), F.col("doc_id").cast("string")))
    nib = F.substring(key, 1, 1)
    w = Window.partitionBy(nib).orderBy(key, F.col("doc_id"))
    return docs.select(
        "doc_id",
        F.conv(nib, 16, 10).cast("long").alias("shard_id"),
        F.row_number().over(w).cast("long").alias("pos"),
    )


# --- Gumbel-key weighted sampling without replacement ---------------------
_GUMBEL_K = 64
# deterministic uniform in (0,1) from the doc's md5 prefix — identical
# in both engines, reproducible on any cluster size (the repo's hash-
# sampling rule applied to continuous noise)
_U_SQL = ("(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) "
          "AS UBIGINT) + 0.5) / 4294967296.0")


@register(
    "sample_gumbel_weighted",
    oracle=f"""
        SELECT doc_id, n_chars,
               round(ln(n_chars) - ln(-ln({_U_SQL})), 6) AS key
        FROM documents
        WHERE n_chars > 0
        ORDER BY key DESC, doc_id
        LIMIT {_GUMBEL_K}
    """,
)
def sample_gumbel_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via the Gumbel-max trick
    (equivalently Efraimidis-Spirakis exponential keys): each doc gets
    key = ln(weight) + Gumbel(0,1), and the global top-k by key is an
    exact weighted sample — the distributed primitive behind "draw 10M
    docs proportional to quality" that per-row Bernoulli sampling
    can't do (it can't hit an exact k) and sorting-by-random can't do
    weighted.

    The "noise" is a deterministic uniform from the doc's md5 prefix,
    so the draw is reproducible across engines and cluster sizes —
    seeded sampling, not true randomness, by the same rule as every
    sampling query here. Weight here is n_chars (any positive column
    works). Plan: pure projection + TakeOrderedAndProject — k rows per
    partition to the driver, no global sort, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    u = (
        (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                16, 10).cast("double") + 0.5)
        / F.lit(4294967296.0)
    )
    key = F.round(F.log(F.col("n_chars").cast("double"))
                  - F.log(-F.log(u)), 6)
    return (
        docs.filter(F.col("n_chars") > 0)
        .select("doc_id", "n_chars", key.alias("key"))
        .orderBy(F.col("key").desc(), "doc_id")
        .limit(_GUMBEL_K)
    )


# --- C4-style corpus cleaning composite -----------------------------------
_TOKENS_SQL = "list_filter(string_split_regex(lower(text), '\\W+'), t -> t <> '')"
_FP_SQL = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"


# --- DSIR-style importance scoring ----------------------------------------
@register(
    "sample_importance_dsir",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, doc_id % 10 = 0 AS is_target,
                   unnest({_TOKENS_SQL}) AS t
            FROM documents
        ),
        vocab AS (
            SELECT t,
                   CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END)
                        AS BIGINT) AS ct,
                   CAST(sum(CASE WHEN is_target THEN 0 ELSE 1 END)
                        AS BIGINT) AS cr
            FROM tok GROUP BY t
        ),
        consts AS (
            SELECT CAST(sum(ct) AS DOUBLE) AS nt,
                   CAST(sum(cr) AS DOUBLE) AS nr,
                   CAST(count(*) AS DOUBLE) AS v
            FROM vocab
        ),
        term AS (
            SELECT t,
                   CAST(round((ln(ct + 1.0) - ln(nt + v)
                             - ln(cr + 1.0) + ln(nr + v)) * 1e6)
                        AS BIGINT) AS term_micro
            FROM vocab CROSS JOIN consts
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(term_micro) AS BIGINT) AS score_micro
        FROM tok JOIN term USING (t)
        WHERE NOT is_target
        GROUP BY doc_id
        ORDER BY doc_id
    """,
)
def sample_importance_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance score (Xie et al. 2023, arXiv:2302.03169):
    per raw-corpus document, the log-likelihood ratio of its unigram
    features under the TARGET distribution (here the doc_id%10==0
    slice standing in for a curated corpus) vs the RAW distribution,
    Laplace-smoothed over the joint vocabulary. High scores = documents
    that look like the target — select with a downstream top-k
    (TakeOrderedAndProject) or Gumbel-noise sampling; the score query
    itself never ranks globally.

    Determinism across engines: each token's log-ratio is rounded to
    an integer micro-score FIRST, so the per-doc reduction is exact
    BIGINT arithmetic — no float-sum order sensitivity (the same trick
    as the repo's integer-math events queries).

    Scale shape: one token-explode shuffle into a vocab-cardinality
    aggregate (map-side combined), scalar totals broadcast back, term
    table joins the token stream (vocab-sized build side), one per-doc
    sum. Nothing is ever corpus×corpus; at 100 TB the published recipe
    hashes features into 10^4 buckets — same plan with xxhash64(t) %
    buckets as the feature key, offered via ``n_buckets`` on the
    operator-shaped call path if vocab-cardinality joins ever bind."""
    docs = load_table(spark, sf_dir, "documents")
    return dsir_scores(
        docs, (F.col("doc_id") % 10 == 0)).orderBy("doc_id")


def dsir_scores(docs: DataFrame, is_target: F.Column) -> DataFrame:
    """The DSIR score plan over any (doc_id, text) frame; see
    sample_importance_dsir for the algorithm and scale notes. Returns
    (doc_id, n_tokens, score_micro) for the NON-target rows."""
    from crawler_spark.functions import text as X

    tok = docs.select(
        "doc_id",
        is_target.alias("is_target"),
        F.explode(X.tokenize("text")).alias("t"),
    )
    vocab = tok.groupBy("t").agg(
        F.sum(F.when(F.col("is_target"), 1).otherwise(0))
        .cast("long").alias("ct"),
        F.sum(F.when(F.col("is_target"), 0).otherwise(1))
        .cast("long").alias("cr"),
    )
    consts = vocab.agg(
        F.sum("ct").cast("double").alias("nt"),
        F.sum("cr").cast("double").alias("nr"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    term = vocab.crossJoin(F.broadcast(consts)).select(
        "t",
        F.round(
            (F.log(F.col("ct") + 1.0) - F.log(F.col("nt") + F.col("v"))
             - F.log(F.col("cr") + 1.0) + F.log(F.col("nr") + F.col("v")))
            * 1e6
        ).cast("long").alias("term_micro"),
    )
    return (
        tok.filter(~F.col("is_target"))
        .join(term, "t")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("term_micro").cast("long").alias("score_micro"),
        )
    )


@register(
    "corpus_clean",
    oracle=f"""
        WITH scored AS (
            SELECT doc_id, text, n_chars,
                   len({_TOKENS_SQL}) AS n_tokens,
                   min(doc_id) OVER (PARTITION BY {_FP_SQL}) AS canonical_id
            FROM documents
        )
        SELECT doc_id, n_tokens FROM scored
        WHERE n_chars >= 200
          AND n_tokens >= 30
          AND CAST(n_chars AS DOUBLE) / n_tokens <= 12.0
          AND canonical_id = doc_id
        ORDER BY doc_id
    """,
)
def corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite a real pretraining pipeline runs: length floor,
    token floor, chars-per-token ceiling (gibberish guard), and exact
    dedup survivorship — one scan, one window over the fingerprint,
    everything else a projection. Each ingredient is itself an
    oracle-checked query (txt_token_stats, txt_quality_score,
    dedup_exact); this proves they compose.

    Survivorship is ``row_number() = 1`` (first doc_id per
    fingerprint), NOT ``min(doc_id) OVER`` + equality: the rank filter
    is what Spark's WindowGroupLimit pushdown recognizes, inserting a
    map-side per-key limit so the hottest duplicate cluster ships at
    most one row per map partition into the window shuffle — the
    min-compare form buffers the entire hot cluster in one task
    (dedup_exact's skew story; plan-locked in test_plan_shapes.py).
    The SQL oracle keeps the min() formulation — same survivors,
    independent derivation."""
    from crawler_spark.functions import text as X

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(X.fingerprint("text")).orderBy("doc_id")
    scored = docs.select(
        "doc_id",
        "n_chars",
        X.word_token_count("text").alias("n_tokens"),
        F.row_number().over(w).alias("rn"),
    )
    return (
        scored.filter(
            (F.col("rn") == 1)
            & (F.col("n_chars") >= 200)
            & (F.col("n_tokens") >= 30)
            & (F.col("n_chars").cast("double") / F.col("n_tokens") <= 12.0)
        )
        .select("doc_id", "n_tokens")
        .orderBy("doc_id")
    )


# --- quality-weighted deterministic sampling ------------------------------
@register(
    "sample_quality_weighted",
    oracle=f"""
        WITH scored AS (
            SELECT doc_id, n_chars,
                   least(CAST(n_chars AS DOUBLE) / 2000, 1.0) AS keep_p
            FROM documents
        )
        SELECT doc_id, n_chars, round(keep_p, 6) AS keep_p
        FROM scored
        WHERE keep_p >= 1.0
           OR substr({_HASH_KEY}, 1, 4)
              < lower(lpad(to_hex(CAST(floor(keep_p * 65536) AS BIGINT)),
                           4, '0'))
    """,
)
def sample_quality_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance sampling by a quality weight, reproducibly: each doc
    keeps with probability proportional to its (here length-derived)
    quality score, decided by comparing a fixed md5-prefix uniform
    against the per-row threshold — no RNG, identical members on any
    engine or cluster size. The 16-bit threshold is rendered as a
    4-hex-digit string so the comparison stays a plain string compare
    against the hash prefix (p == 1 rows short-circuit past the
    granularity edge). Pure projection+filter — zero shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    keep_p = F.least(F.col("n_chars").cast("double") / 2000, F.lit(1.0))
    u = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    thresh = F.lower(F.lpad(
        F.hex(F.floor(keep_p * 65536).cast("bigint")), 4, "0"))
    return (
        docs.select("doc_id", "n_chars", keep_p.alias("keep_p"))
        .where((F.col("keep_p") >= 1.0) | (u < thresh))
        .select("doc_id", "n_chars", F.round("keep_p", 6).alias("keep_p"))
    )


# --- domain-mix rebalancing (cap any source's corpus share) ---------------
_REBALANCE_SHARE = 0.15


@register(
    "sample_domain_rebalance",
    oracle=f"""
        WITH quota AS (
            SELECT source,
                   least(count(*),
                         CAST(ceil({_REBALANCE_SHARE}
                                   * sum(count(*)) OVER ()) AS BIGINT))
                       AS q
            FROM documents GROUP BY source
        ),
        ranked AS (
            SELECT doc_id, source,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY {_HASH_KEY}, doc_id) AS rn
            FROM documents
        )
        SELECT r.doc_id, r.source
        FROM ranked r JOIN quota USING (source)
        WHERE r.rn <= quota.q
    """,
)
def sample_domain_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mix rebalancing: no source may exceed a fixed share of
    the corpus (the standard guard against one crawl domain dominating
    a training mix). Per-source quotas come from one tiny aggregate
    (sources, not documents — the total-window runs over that
    aggregate, so the single-partition window is over dozens of rows,
    never the corpus); members are the quota lowest-hash docs per
    source, so the kept set is deterministic and unbiased w.r.t. input
    order. One corpus shuffle (the per-source window) + a broadcast
    quota join."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("cnt"))
    quota = counts.select(
        "source",
        F.least(
            F.col("cnt"),
            F.ceil(F.lit(_REBALANCE_SHARE)
                   * F.sum("cnt").over(Window.partitionBy())).cast("bigint"),
        ).alias("q"),
    )
    key = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("source").orderBy(key, F.col("doc_id"))
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .join(F.broadcast(quota), "source")
        .where(F.col("rn") <= F.col("q"))
        .select("doc_id", "source")
    )


# --- equal-frequency feature binning --------------------------------------
_N_BINS = 10


@register(
    "ev_value_bins",
    oracle=f"""
        WITH cuts AS (
            SELECT quantile_cont(value,
                [{", ".join(str(i / _N_BINS) for i in range(1, _N_BINS))}])
                AS qs
            FROM events
        )
        SELECT event_id,
               CAST(len(list_filter(qs, q -> value > q)) AS BIGINT) AS bin
        FROM events CROSS JOIN cuts
    """,
)
def ev_value_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency (decile) binning of the value column — the
    feature-binning staple. The scale shape: ONE exact-percentile
    aggregate produces the cutpoint array (both engines' exact
    interpolated percentile, already parity-proven in
    ev_value_percentiles), the tiny array broadcasts, and each row's
    bin is "how many cutpoints it exceeds" — a pure array expression.
    No ntile, because ntile(N) is a GLOBAL-order window: one partition
    sorts the entire corpus. Bin edges are identical doubles in both
    engines, so assignment at the edges agrees exactly."""
    ev = load_table(spark, sf_dir, "events")
    cuts = ev.agg(F.percentile(
        "value", F.array(*[F.lit(i / _N_BINS) for i in range(1, _N_BINS)])
    ).alias("qs"))
    return (
        ev.crossJoin(F.broadcast(cuts))
        .select(
            "event_id",
            F.size(F.filter("qs", lambda q: F.col("value") > q))
            .cast("long").alias("bin"),
        )
    )


_APPROX_ACCURACY = 10_000  # relative error <= 1/accuracy = 1e-4


# Same partition-boundary-dependent sketch content as
# ev_value_percentiles_approx (cutpoints shift with the split layout),
# so per-row bins can't be value-pinned; the registration is the
# AGREEMENT SCORECARD against the exact-cutpoint twin instead — the
# production acceptance gate for swapping the sketch in at scale.
@register("ev_value_bins_approx", oracle="""
        SELECT COUNT(*) AS n_events,
               TRUE AS agree_ok,
               TRUE AS off_by_le_one
        FROM events
    """)
def ev_value_bins_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB twin of ev_value_bins: cutpoints from approx_percentile
    (KLL-style mergeable sketch — map-side partials, NO global sort of
    the value column) instead of the exact interpolated percentile. At
    scale the exact aggregate must see every value through one sorted
    aggregation path; the sketch is O(accuracy·log n) memory per
    partition and one narrow merge. Bin ASSIGNMENT is the same broadcast
    array expression.

    Registered as the agreement scorecard: per-row approx and exact
    bins computed IN ONE PROJECTION (both cutpoint arrays are 1-row
    broadcast aggregates — no per-row join anywhere), reduced to one
    row — exact row count (oracle-verified), exact-match rate ≥ 99.5%
    (generous vs the sketch's 1e-4 rank-error guarantee but tight
    enough to catch a broken sketch or cutpoint off-by-one), and
    disagreements confined to adjacent bins (values squeezed between
    the exact and approx cutpoint). The flags are oracle-pinned TRUE,
    so sketch drift past the bound fails the driver hash gate; the raw
    per-row binning remains composable via this module's plan
    functions (ev_value_bins is the exact twin)."""
    ev = load_table(spark, sf_dir, "events")
    fracs = F.array(*[F.lit(i / _N_BINS) for i in range(1, _N_BINS)])
    acuts = ev.agg(F.approx_percentile(
        "value", fracs, F.lit(_APPROX_ACCURACY)).alias("qs_a"))
    ecuts = ev.agg(F.percentile("value", fracs).alias("qs_e"))
    binned = (
        ev.crossJoin(F.broadcast(acuts))
        .crossJoin(F.broadcast(ecuts))
        .select(
            F.size(F.filter("qs_a", lambda q: F.col("value") > q))
            .cast("long").alias("bin_a"),
            F.size(F.filter("qs_e", lambda q: F.col("value") > q))
            .cast("long").alias("bin_e"),
        )
    )
    diff = F.abs(F.col("bin_a") - F.col("bin_e"))
    return binned.agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(F.when(F.col("bin_a") != F.col("bin_e"), 1).otherwise(0))
         <= F.greatest(F.lit(2), (F.count(F.lit(1)) / 200).cast("long"))
         ).alias("agree_ok"),
        (F.max(diff) <= 1).alias("off_by_le_one"),
    )


# --- hard-negative mining for embedding/retriever training ----------------
@register(
    "mine_hard_negatives",
    oracle=f"""
        WITH fp AS (
            SELECT doc_id, {_FP_SQL} AS fp FROM documents
        ),
        q AS (
            SELECT e.vec_id AS query_id, {_NORM_V_SQL} AS qv, fp.fp AS qfp
            FROM embeddings e JOIN fp ON e.vec_id = fp.doc_id
            WHERE e.vec_id IN (0, 1, 2)
        ),
        d AS (
            SELECT q.query_id, e.vec_id,
                   -list_dot_product({_NORM_V_SQL}, q.qv) AS distance
            FROM embeddings e
            JOIN fp ON e.vec_id = fp.doc_id
            CROSS JOIN q
            WHERE e.vec_id <> q.query_id AND fp.fp <> q.qfp
        )
        SELECT query_id, vec_id,
               CASE WHEN rn = 1 THEN 'positive' ELSE 'negative' END AS label,
               round(distance, 6) AS distance
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY distance, vec_id) AS rn
            FROM d
        )
        WHERE rn <= 5
        ORDER BY query_id, distance, vec_id
    """,
)
def mine_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training data prep (the DPR/Contriever recipe,
    Karpukhin et al. 2020): for each query document, its nearest
    non-identical neighbor is the pseudo-positive and the next-nearest
    are the HARD negatives — near misses teach the encoder far more
    than random negatives. Documents with the SAME content fingerprint
    as the query are excluded first (an exact duplicate labeled
    "negative" poisons the loss — the standard false-negative trap).

    Scale shape = ``knn_topk_batch``: Q query rows broadcast into a
    bounded cross join over ONE corpus pass; fingerprint exclusion
    rides the same broadcast (fp travels with the row); per-query
    top-k is the row_number window Spark rewrites to WindowGroupLimit
    (map-side top-k before the exchange). At real scale the corpus
    pass swaps for an ANN probe per query, same as serving."""
    from crawler_spark.functions import text as X

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", X.fingerprint("text").alias("fp"))
    emb = load_table(spark, sf_dir, "embeddings").join(
        docs, F.col("vec_id") == F.col("doc_id")).drop("doc_id")
    q = (
        emb.filter(F.col("vec_id").isin(0, 1, 2))
        .select(
            F.col("vec_id").alias("query_id"),
            V.l2_normalize("embedding").alias("qv"),
            F.col("fp").alias("qfp"),
        )
    )
    d = (
        emb.crossJoin(F.broadcast(q))
        .filter((F.col("vec_id") != F.col("query_id")) & (F.col("fp") != F.col("qfp")))
        .select(
            "query_id", "vec_id",
            V.neg_dot(V.l2_normalize("embedding"), F.col("qv")).alias("distance"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("distance", "vec_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            "query_id", "vec_id",
            F.when(F.col("rn") == 1, "positive").otherwise("negative").alias("label"),
            F.round("distance", 6).alias("distance"),
        )
        .orderBy("query_id", "distance", "vec_id")
    )


# --- hashed linear quality classifier (fastText-shaped) -------------------
_QC_BUCKETS = 4096

# Shared fragments (feature stream, bucket hash, frozen milli-weight),
# reused by the composed calibration/overlap oracles (queries_curation
# .py) AND the distillation tier below, so a change to the tokenizer,
# bucket count, or weight hash can never diverge between them.
_QC_FEATS_SQL = f"""
            SELECT doc_id, u.t AS feat
            FROM (SELECT doc_id, {_TOKENS_SQL} AS ts FROM documents),
                 unnest(ts) AS u(t)
            UNION ALL
            SELECT doc_id, ts[u.i] || '_' || ts[u.i + 1] AS feat
            FROM (SELECT doc_id, {_TOKENS_SQL} AS ts FROM documents),
                 unnest(generate_series(1, len(ts) - 1)) AS u(i)
"""
_QC_BUCKET_SQL = f"('0x' || substr(md5(feat), 1, 8))::BIGINT % {_QC_BUCKETS}"
_QC_WEIGHTED_SQL = f"""
        SELECT doc_id,
               ('0x' || substr(md5('w:' || CAST({_QC_BUCKET_SQL}
                   AS VARCHAR)), 1, 8))::BIGINT
                   % 2001 - 1000 AS w_milli
        FROM (
            {_QC_FEATS_SQL}
        )
"""


def _qc_features_array() -> F.Column:
    """Unigram + word-bigram feature array over the ``text`` column —
    the single Spark twin of ``_QC_FEATS_SQL``'s UNION, shared by the
    serving explode and the training bucket stream."""
    def _feats(arr: F.Column) -> F.Column:
        n = F.size(arr)
        bigrams = F.zip_with(
            F.slice(arr, 1, n - 1),
            F.slice(arr, 2, n - 1),
            lambda a, b: F.concat_ws("_", a, b),
        )
        return F.concat(
            arr,
            F.when(n >= 2, bigrams).otherwise(F.array().cast("array<string>")),
        )

    # token array bound once (X.bind_once): the zip_with HOF blocks
    # codegen CSE, so the unbound form re-tokenized ~6x per row
    return X.bind_once(X.tokenize("text"), _feats)


def _qc_exploded_features(docs: DataFrame) -> DataFrame:
    """The classifier feature stream: one row per unigram + word-bigram
    occurrence, ``(doc_id, feat)`` plus any other columns of ``docs``
    carried through (labels ride along so training never needs a
    doc_id join back)."""
    carried = [c for c in docs.columns if c != "text"]
    return docs.select(*carried, F.explode(_qc_features_array()).alias("feat"))


def _qc_bucket(feat: F.Column) -> F.Column:
    """Hashing-trick parameter index (twin of ``_QC_BUCKET_SQL``)."""
    return F.pmod(
        F.conv(F.substring(F.md5(feat), 1, 8), 16, 10).cast("long"),
        F.lit(_QC_BUCKETS),
    )


def _qc_w_milli(bucket: F.Column) -> F.Column:
    """Frozen pseudo-random milli-weight of a bucket (the stand-in
    parameter vector of txt_quality_linear_hashed)."""
    return (
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("w:"), bucket.cast("string"))), 1, 8
                ), 16, 10,
            ).cast("long"),
            F.lit(2001),
        ) - 1000
    )


@register(
    "txt_quality_linear_hashed",
    oracle=f"""
        WITH weighted AS ({_QC_WEIGHTED_SQL})
        SELECT doc_id,
               count(*) AS n_feats,
               round(CAST(SUM(w_milli) AS DOUBLE)
                     / (1000.0 * count(*)), 6) AS quality_logit,
               SUM(w_milli) > 0 AS keep
        FROM weighted
        GROUP BY doc_id
    """,
)
def txt_quality_linear_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-shaped quality classifier (Joulin et al. 2017, the
    model family behind the CCNet / LLaMA "looks like Wikipedia"
    filters): unigram + word-bigram features hashed into a fixed
    4096-bucket parameter table (the hashing trick — vocabulary
    growth NEVER grows the model), mean-pooled per document through a
    linear layer, thresholded at logit 0. The weights here are frozen
    pseudo-random md5 derivations of the bucket id, standing in for a
    trained parameter vector — what's real and tested is everything a
    production deployment needs: engine-identical feature extraction
    and hashing, bounded parameter lookup, and order-independent
    pooling. Swapping in trained weights is a 4096-entry broadcast
    map, touching no plan shape.

    Determinism: weights are INTEGER milli-units summed as BIGINT —
    exact and associative, so partial-aggregation order can't move
    the hash (the registry money-math rule); the single double
    division + round happens once per group AFTER the exact sum.
    Scale shape: tokenize/bigram via shifted-slice zip_with (O(n)),
    one explode, one per-doc agg with map-side combine — one shuffle
    total, no joins, no parameter table to co-locate."""
    docs = load_table(spark, sf_dir, "documents")
    w_milli = _qc_w_milli(_qc_bucket(F.col("feat")))
    return (
        _qc_exploded_features(docs)
        .select("doc_id", w_milli.alias("w_milli"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.round(
                F.sum("w_milli").cast("double")
                / (F.lit(1000.0) * F.count(F.lit(1))), 6,
            ).alias("quality_logit"),
            (F.sum("w_milli") > 0).alias("keep"),
        )
    )


# --- classifier distillation: judge labels → trained NB weights -----------
# The workflow CCNet / FineWeb-Edu actually run: an expensive model
# judges a SAMPLE, a cheap linear model is trained on those labels,
# and the trained model scores the full corpus. The frozen-weight
# classifier above proves the serving plan; this tier proves the
# TRAINING plan — multinomial Naive Bayes log-odds over the same
# hashed unigram+bigram feature space, which is pure count
# aggregation (deterministic, SQL-twinnable) unlike SGD.
_QC_HOLD_MOD = 5  # doc_id % 5 == 0 → holdout, else train


def _qc_label_sql(extra_where: str) -> str:
    from crawler_spark.functions.judge import KEEP_THRESHOLD
    from crawler_spark.plans.queries_sources import _JUDGE_SCORE_SQL

    return f"""
            SELECT doc_id,
                   CASE WHEN {_JUDGE_SCORE_SQL} >= {KEEP_THRESHOLD}
                        THEN 1 ELSE 0 END AS keep
            FROM documents
            WHERE {extra_where}
    """


def _qc_train_sql() -> str:
    """The full trained-model table in SQL: one row per feature bucket
    seen in training (ck/cd occurrence counts, integer-micro log-odds
    weight) plus the bucket = -1 class-prior row (ck/cd = DOC counts,
    weight = prior log-odds). Same smoothing family as the DSIR oracle."""
    return f"""
        WITH labeled AS ({_qc_label_sql(f"doc_id % {_QC_HOLD_MOD} <> 0")}),
        feats AS (
            SELECT {_QC_BUCKET_SQL} AS bucket, l.keep
            FROM ({_QC_FEATS_SQL}) f JOIN labeled l USING (doc_id)
        ),
        vocab AS (
            SELECT bucket,
                   CAST(SUM(keep) AS BIGINT) AS ck,
                   CAST(count(*) - SUM(keep) AS BIGINT) AS cd
            FROM feats GROUP BY bucket
        ),
        consts AS (
            SELECT CAST(SUM(ck) AS DOUBLE) AS nk,
                   CAST(SUM(cd) AS DOUBLE) AS nd,
                   CAST(count(*) AS DOUBLE) AS v
            FROM vocab
        )
        SELECT bucket, ck, cd,
               CAST(round((ln(ck + 1.0) - ln(nk + v)
                         - ln(cd + 1.0) + ln(nd + v)) * 1e6) AS BIGINT)
                   AS w_micro
        FROM vocab CROSS JOIN consts
        UNION ALL
        SELECT CAST(-1 AS BIGINT) AS bucket,
               CAST(SUM(keep) AS BIGINT) AS ck,
               CAST(count(*) - SUM(keep) AS BIGINT) AS cd,
               CAST(round((ln(SUM(keep) + 1.0)
                         - ln(count(*) - SUM(keep) + 1.0)) * 1e6) AS BIGINT)
                   AS w_micro
        FROM labeled
    """


def _qc_judge_labeled(docs: DataFrame) -> DataFrame:
    """Judge labels through the REAL client seam (functions/judge.py:
    Arrow-batched pandas_udf → JSON → from_json), not a shortcut md5
    expression — what distillation trains on in production is exactly
    this output. Returns (doc_id, text, keep∈{0,1}); a failed/NULL
    judgment labels drop, the conservative default."""
    from crawler_spark.functions.judge import (
        KEEP_THRESHOLD,
        judge_udf,
        parse_judgment,
    )

    j = docs.withColumn("raw", judge_udf()(F.col("text"))).withColumn(
        "j", parse_judgment("raw")
    )
    return j.select(
        "doc_id", "text",
        F.when(F.col("j.score") >= KEEP_THRESHOLD, 1)
        .otherwise(0).alias("keep"),
    )


def nb_train(labeled: DataFrame) -> DataFrame:
    """Train the Naive-Bayes quality model on ANY labeled frame
    ``(doc_id, text, keep∈{0,1})`` — the operator behind
    clf_distill_train (see its docstring for the algorithm, scale and
    determinism notes). Returns the model table: one
    ``(bucket, ck, cd, w_micro)`` row per feature bucket plus the
    bucket = -1 class-prior row.

    The prior is NOT a separate aggregate over the labeled frame —
    that plan re-instantiates the judge-labeling projection under a
    second scan (review-found: two ArrowEvalPython runs per training
    job, i.e. 2N model calls on a judged sample of N). Instead every
    doc emits one sentinel bucket = -1 alongside its feature buckets
    inside the SAME explode, so one exchange feeds vocab, consts and
    prior, AQE's ReusedExchange dedups the consumers, and the judge
    runs exactly once (plan-asserted in tests/test_plan_shapes.py)."""
    buckets = F.concat(
        F.coalesce(
            F.transform(_qc_features_array(), _qc_bucket),
            F.array().cast("array<long>"),
        ),
        F.array(F.lit(-1).cast("long")),
    )
    occ = labeled.select("keep", F.explode(buckets).alias("bucket"))
    vocab = occ.groupBy("bucket").agg(
        F.sum("keep").cast("long").alias("ck"),
        (F.count(F.lit(1)) - F.sum("keep")).cast("long").alias("cd"),
    )
    # conditional aggregation, NOT .where(bucket >= 0): a filter gets
    # pushed below the aggregate and the consts branch's exchange no
    # longer textually matches vocab's, defeating ReusedExchange — the
    # judge would run once per branch again
    is_feat = F.col("bucket") >= 0
    consts = vocab.agg(
        F.sum(F.when(is_feat, F.col("ck"))).cast("double").alias("nk"),
        F.sum(F.when(is_feat, F.col("cd"))).cast("double").alias("nd"),
        F.sum(F.when(is_feat, 1)).cast("double").alias("v"),
    )
    return vocab.crossJoin(F.broadcast(consts)).select(
        "bucket", "ck", "cd",
        F.when(
            F.col("bucket") == -1,
            F.round(
                (F.log(F.col("ck") + 1.0) - F.log(F.col("cd") + 1.0)) * 1e6
            ),
        ).otherwise(
            F.round(
                (F.log(F.col("ck") + 1.0) - F.log(F.col("nk") + F.col("v"))
                 - F.log(F.col("cd") + 1.0)
                 + F.log(F.col("nd") + F.col("v"))) * 1e6
            )
        ).cast("long").alias("w_micro"),
    )


def nb_score(
    docs: DataFrame, model: DataFrame, *, materialized: bool = False,
) -> DataFrame:
    """Score ANY ``(doc_id, text)`` frame with a trained model table —
    the operator behind clf_distill_score (see its docstring for the
    plan shape). Returns (doc_id, n_feats, score_micro, pred_keep).

    EAGER at build time (when ``materialized=False``): unlike every
    other plan constructor in this package, calling nb_score executes
    the ``model`` frame's full job (including any judge UDF pass
    feeding it) via the bounded collect below — callers composing
    plans lazily should pass ``materialized=True`` with an
    already-local model (``_qc_model_df``), which skips the redundant
    re-collect, or accept the up-front cost. The model is materialized
    ONCE via that collect — it is ≤ _QC_BUCKETS+1 rows BY CONSTRUCTION
    (the hashing trick bounds the parameter table), so this is the
    broadcast-small-side rule, not a driver bottleneck. Without it,
    Spark re-instantiates the whole training DAG (judge UDF projection
    + feature shuffle) under EVERY branch that consumes the model
    (weights join, prior join); a production deployment persists the
    trained table and gets the same effect from the file."""
    mat = model if materialized else model.sparkSession.createDataFrame(
        model.collect(), model.schema)
    weights = mat.where(F.col("bucket") >= 0).select("bucket", "w_micro")
    prior = mat.where(F.col("bucket") == -1).select(
        F.col("w_micro").alias("prior_micro")
    )
    feats = _qc_exploded_features(docs.select("doc_id", "text")).select(
        "doc_id", _qc_bucket(F.col("feat")).alias("bucket")
    )
    per_doc = (
        feats.join(F.broadcast(weights), "bucket", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.sum(F.coalesce(F.col("w_micro"), F.lit(0)))
            .cast("long").alias("feat_micro"),
        )
    )
    return per_doc.crossJoin(F.broadcast(prior)).select(
        "doc_id", "n_feats",
        (F.col("feat_micro") + F.col("prior_micro"))
        .cast("long").alias("score_micro"),
        (F.col("feat_micro") + F.col("prior_micro") > 0).alias("pred_keep"),
    )


def _qc_trained_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of ``_qc_train_sql``: judge-label the train split of
    the documents table, train — see clf_distill_train."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return nb_train(
        _qc_judge_labeled(docs.where(F.col("doc_id") % _QC_HOLD_MOD != 0))
    )


# Collected model rows per (sf_dir, documents mtime): the training job
# (judge pass + count aggregation) runs AT MOST ONCE per corpus per
# process, and score/eval/filter consume the materialized ≤4097-row
# table — the production shape, where the trained model is persisted
# once and read back by every serving job. Plain Rows survive Spark
# session restarts; the mtime key invalidates on rewritten fixtures.
_QC_MODEL_CACHE: dict[tuple, tuple] = {}


def _qc_model_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained model as a local relation, trained at most once per
    corpus per process (see _QC_MODEL_CACHE). EAGER: first call per
    corpus executes the full training job."""
    import os

    doc_path = os.path.join(sf_dir, "documents.parquet")
    try:
        stamp = os.stat(doc_path).st_mtime_ns
    except OSError:
        stamp = None
    key = (os.path.realpath(sf_dir), stamp)
    hit = _QC_MODEL_CACHE.get(key)
    if hit is None:
        model = _qc_trained_weights(spark, sf_dir)
        hit = (model.collect(), model.schema)
        _QC_MODEL_CACHE[key] = hit
    return spark.createDataFrame(*hit)


@register("clf_distill_train", oracle=f"""
        {_qc_train_sql()}
        ORDER BY bucket
    """)
def clf_distill_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN the quality classifier from LLM-judge labels — the
    distillation step between curation_llm_judge (expensive, runs on a
    sample) and txt_quality_linear_hashed (cheap, runs on everything).
    Multinomial Naive Bayes with Laplace smoothing over the SHARED
    hashed unigram+bigram space (_QC_FEATS_SQL/_qc_exploded_features —
    retuning the tokenizer or bucket count cannot diverge train from
    serve): per bucket, keep/drop occurrence counts and the log-odds
    weight; plus the bucket = -1 class-prior row. NB beats SGD here
    because training reduces to ONE count aggregation — deterministic
    on any partitioning and cluster size, which is also what makes it
    SQL-twinnable.

    Determinism: counts are exact BIGINTs; each ln() runs once per
    BUCKET on exact integers (never inside a float reduction) and is
    immediately rounded to an integer micro-weight — the DSIR recipe
    (sample_importance_dsir), hash-proven across engines.

    Scale shape: labels are an Arrow-batched judge projection over the
    train split (in production: read back the judge's persisted
    sample scores); features explode with the label CARRIED, so
    training is one groupBy(bucket) with map-side combine into a
    ≤4096-row output — no join anywhere near corpus cardinality. The
    model table is KBs: broadcastable to any fleet."""
    return _qc_trained_weights(spark, sf_dir).orderBy("bucket")


def _qc_score_sql(extra_where: str) -> str:
    """The scoring CTE chain (train → per-doc broadcast-weight sums →
    prior) over documents matching ``extra_where`` — ONE template
    shared by the score/eval/deploy oracles, the same way
    ``_qc_label_sql`` parameterizes the labeling split, so a change to
    scoring semantics can never leave one tier's oracle stale.
    Returns per-doc (doc_id, n_feats, score_micro, pred_keep)."""
    return f"""
        WITH trained AS ({_qc_train_sql()}),
        scored_feats AS (
            SELECT doc_id, {_QC_BUCKET_SQL} AS bucket
            FROM ({_QC_FEATS_SQL}) f
            WHERE {extra_where}
        ),
        per_doc AS (
            SELECT h.doc_id,
                   CAST(count(*) AS BIGINT) AS n_feats,
                   CAST(SUM(COALESCE(t.w_micro, 0)) AS BIGINT) AS feat_micro
            FROM scored_feats h
            LEFT JOIN (SELECT bucket, w_micro FROM trained
                       WHERE bucket >= 0) t USING (bucket)
            GROUP BY h.doc_id
        ),
        prior AS (SELECT w_micro AS prior_micro FROM trained
                  WHERE bucket = -1)
        SELECT doc_id, n_feats,
               CAST(feat_micro + prior_micro AS BIGINT) AS score_micro,
               feat_micro + prior_micro > 0 AS pred_keep
        FROM per_doc CROSS JOIN prior
    """


_QC_SCORE_SQL = _qc_score_sql(f"doc_id % {_QC_HOLD_MOD} = 0")


@register("clf_distill_score", oracle=f"""
        {_QC_SCORE_SQL}
        ORDER BY doc_id
    """)
def clf_distill_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the distilled classifier to the held-out split — the
    corpus-scale serving plan: explode features, broadcast-join the
    ≤4096-row trained weight table, one exact BIGINT sum per document,
    add the class prior, threshold at 0. Buckets unseen in training
    contribute 0 (hashing into 4096 buckets saturates coverage at
    corpus scale; the prior row carries the class imbalance).

    Scale shape: ONE shuffle (the per-doc agg, map-side combined); the
    weight join is BroadcastHashJoin by construction and the prior is
    a 1-row broadcast cross join. Swapping the holdout filter for the
    full corpus is the production deployment — same plan. Documents
    with zero features never reach the scorer (explode emits nothing);
    route them by the n_chars floor upstream (corpus_clean)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    holdout = docs.where(F.col("doc_id") % _QC_HOLD_MOD == 0)
    return nb_score(
        holdout, _qc_model_df(spark, sf_dir), materialized=True
    ).orderBy("doc_id")


@register("clf_distill_eval", oracle=f"""
        WITH scored AS ({_QC_SCORE_SQL}),
        labels AS ({_qc_label_sql(f"doc_id % {_QC_HOLD_MOD} = 0")}),
        cells AS (
            SELECT CAST(SUM(CASE WHEN pred_keep AND keep = 1
                                 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                   CAST(SUM(CASE WHEN pred_keep AND keep = 0
                                 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                   CAST(SUM(CASE WHEN NOT pred_keep AND keep = 1
                                 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
                   CAST(SUM(CASE WHEN NOT pred_keep AND keep = 0
                                 THEN 1 ELSE 0 END) AS BIGINT) AS tn
            FROM scored JOIN labels USING (doc_id)
        )
        SELECT tp + fp + fn + tn AS n_docs, tp, fp, fn, tn,
               round(CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn), 6)
                   AS accuracy,
               round(CAST(tp AS DOUBLE) / nullif(tp + fp, 0), 6)
                   AS precision,
               round(CAST(tp AS DOUBLE) / nullif(tp + fn, 0), 6)
                   AS recall
        FROM cells
    """)
def clf_distill_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holdout confusion matrix of the distilled classifier against
    the judge it was trained to imitate — the accept/reject gate of a
    distillation run (FineWeb-Edu publishes exactly this check before
    trusting the cheap model at scale). One row: counts, accuracy,
    precision, recall (6dp, NULL when a denominator is empty).

    HONEST CEILING: the stub judge's score is an md5 of the whole
    text — pseudo-random noise with respect to bag-of-features, so no
    classifier can beat the base rate here and accuracy ≈ the keep
    prior (~0.7). What this query verifies is the measurement plumbing
    and determinism; tests/test_mlprep.py additionally proves the SAME
    trainer reaches ≥0.95 holdout accuracy when labels carry a real
    lexical signal (a vocabulary-split corpus), so the ceiling is the
    stub's, not the trainer's.

    Scale: both inputs are per-doc frames joined on uniform doc_id;
    the final agg is a single all-reduce row. The model comes from the
    per-corpus cache (_qc_model_df via clf_distill_score), so within a
    process the tier's training job runs once, not once per consumer —
    eval's own cost is the holdout judge pass + the scoring plan."""
    preds = clf_distill_score(spark, sf_dir).select("doc_id", "pred_keep")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    labels = _qc_judge_labeled(
        docs.where(F.col("doc_id") % _QC_HOLD_MOD == 0)
    ).select("doc_id", "keep")
    joined = preds.join(labels, "doc_id")
    cells = joined.agg(
        F.sum(F.when(F.col("pred_keep") & (F.col("keep") == 1), 1)
              .otherwise(0)).cast("long").alias("tp"),
        F.sum(F.when(F.col("pred_keep") & (F.col("keep") == 0), 1)
              .otherwise(0)).cast("long").alias("fp"),
        F.sum(F.when(~F.col("pred_keep") & (F.col("keep") == 1), 1)
              .otherwise(0)).cast("long").alias("fn"),
        F.sum(F.when(~F.col("pred_keep") & (F.col("keep") == 0), 1)
              .otherwise(0)).cast("long").alias("tn"),
    )
    n = F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn")
    return cells.select(
        n.alias("n_docs"), "tp", "fp", "fn", "tn",
        F.round((F.col("tp") + F.col("tn")).cast("double") / n, 6)
        .alias("accuracy"),
        F.round(
            F.col("tp").cast("double")
            / F.nullif(F.col("tp") + F.col("fp"), F.lit(0)), 6
        ).alias("precision"),
        F.round(
            F.col("tp").cast("double")
            / F.nullif(F.col("tp") + F.col("fn"), F.lit(0)), 6
        ).alias("recall"),
    )


@register("curation_distilled_filter", oracle=f"""
        SELECT doc_id, n_feats, score_micro
        FROM ({_qc_score_sql("TRUE")})
        WHERE pred_keep
        ORDER BY doc_id
    """)
def curation_distilled_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEPLOY the distilled classifier as a corpus curation stage —
    the judge → distill → deploy loop closed end-to-end: train the NB
    model on the judge-labeled sample (clf_distill_train's exact
    weights, trained once per corpus via _qc_model_df), then score the
    FULL corpus — train split included, the deployment reality — and
    keep only predicted-keep documents. This is the executable form of
    what FineWeb-Edu does after its eval gate passes: the cheap model
    replaces the judge on everything the judge never saw.

    Output: (doc_id, n_feats, score_micro) for surviving docs, sorted.
    Documents with zero extractable features never reach the scorer
    (the explode emits nothing) and are therefore dropped — route
    those by the n_chars floor upstream (corpus_clean) if they should
    survive.

    Scale shape: identical to clf_distill_score — ONE map-side-combined
    per-doc aggregation; the ≤4097-row weight table joins as
    BroadcastHashJoin and the prior as a 1-row broadcast cross join
    (plan-locked, tests/test_plan_shapes.py). The filter is a
    post-aggregation predicate on the per-doc row, so the corpus never
    shuffles more than its (doc_id, bucket) feature stream."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        nb_score(docs, _qc_model_df(spark, sf_dir), materialized=True)
        .where(F.col("pred_keep"))
        .select("doc_id", "n_feats", "score_micro")
        .orderBy("doc_id")
    )


# per-(process, sf) stream state for the score-at-ingest deployment:
# replay source, landed table and stream checkpoint live together so a
# re-run resumes the same stream (no new files -> no batches) and the
# idempotent doc_id merge keeps the landed table converged
@register("streaming_distilled_filter_e2e", oracle=f"""
        SELECT doc_id, n_feats, score_micro
        FROM ({_qc_score_sql("TRUE")})
        WHERE pred_keep
        ORDER BY doc_id
    """)
def streaming_distilled_filter_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deploy the distilled classifier AT INGEST — the streaming form
    of ``curation_distilled_filter`` and the production deployment
    shape (FineWeb-Edu's: judge offline, distill once, score every
    arriving document with the cheap model): the corpus replays as a
    parquet file stream, each micro-batch scores against the trained
    NB model and only predicted-keep rows MERGE into the bucketed
    landed table (foreachBatch -> operators/upsert.py — checkpoint +
    idempotent merge, the exactly-once recipe every streaming tier
    here shares). The LANDED TABLE is the result, so the oracle is the
    same whole-corpus reconstruction as the batch query: a batch lost
    by the stream, a doc mis-scored inside a micro-batch, or a merge
    that drops/duplicates doc_ids is a hash mismatch.

    Model lifecycle: trained ONCE per corpus (``_qc_model_df``,
    clf_distill_train's exact weights) BEFORE the stream starts — in
    production the persisted model table read back by the ingest job.
    Inside every trigger it joins as a ≤4097-row broadcast; a doc's
    features never leave its batch, so per-trigger cost is O(batch)
    and the streamed result is bit-identical to the batch deployment.

    Scale shape: this is scoring Common Crawl AS IT LANDS — no
    corpus-scale state, no cross-batch shuffle; watermark-free because
    scoring is stateless per document."""
    from crawler_spark.operators.upsert import key_bucket, merge_into_bucketed
    from crawler_spark.session import scratch_dir, stream_conf
    from crawler_spark.streaming.ingest_stream import read_pages_table

    def build_src(path: str) -> None:
        (load_table(spark, sf_dir, "documents")
         .select("doc_id", "text").repartition(6)
         .write.mode("overwrite").parquet(path))

    src = scratch_dir("distill_stream_src_", key=sf_dir, populate=build_src)
    tbl = scratch_dir("distill_stream_tbl_", key=sf_dir)
    ckpt = scratch_dir("distill_stream_ckpt_", key=sf_dir)
    model = _qc_model_df(spark, sf_dir)  # eager: trains on first call

    def sink(batch: DataFrame, _id: int) -> None:
        kept = (
            nb_score(batch, model, materialized=True)
            .where(F.col("pred_keep"))
            .select("doc_id", "n_feats", "score_micro",
                    key_bucket("doc_id", 4).alias("bucket"))
        )
        merge_into_bucketed(spark, tbl, kept, key="doc_id")

    # per-batch jobs are tiny — size the shuffle to the stream
    with stream_conf(spark):
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    landed = read_pages_table(spark, tbl)
    if landed is None:
        # no batch ever committed a bucket (a corpus where nothing is
        # predicted-keep): match the batch twin's empty frame instead
        # of crashing on the empty manifest
        return spark.createDataFrame(
            [], "doc_id bigint, n_feats bigint, score_micro bigint")
    return landed.select("doc_id", "n_feats", "score_micro").orderBy("doc_id")


# --- BPE tokenizer: distributed training + encoding -----------------------
_BPE_MERGES = 200
_BPE_TOP_V = 10_000


@register(
    "tok_bpe_train",
    # iterative merge learning isn't SQL, but it IS deterministic:
    # VALUES pin at the driver's sf0.01, derived by an INDEPENDENT
    # word count (python re over the raw parquet) feeding the merge
    # learner (tools/pin_oracles.py) — the distributed word-count
    # shuffle, the cap, and the tie-breaks are what the pin verifies
    **_PINS_KW("tok_bpe_train"),
)
def tok_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a BPE tokenizer on the corpus (Sennrich et al. 2016) the
    way production trainers do: ONE corpus-scale word-count shuffle
    (map-side combine, vocab-bounded output, top-V cap via
    TakeOrdered), then merge learning over the bounded frequency
    table. The merge loop never sees the corpus — its cost is
    O(V·merges) regardless of corpus size, which is why HF tokenizers
    and SentencePiece train from a word-frequency dict; 100 TB only
    grows the one aggregation. Output is the ranked merge table
    (broadcastable, KBs). Deterministic: exact integer counts with a
    total (count DESC, pair ASC) tie-break — identical merges on any
    partitioning; lockstep + round-trip tests in test_mlprep.py."""
    from crawler_spark.operators.bpe import train_bpe

    docs = load_table(spark, sf_dir, "documents")
    merges = train_bpe(docs, num_merges=_BPE_MERGES, top_v=_BPE_TOP_V)
    return spark.createDataFrame(
        [(i, a, b, a + b) for i, (a, b) in enumerate(merges)],
        "rank int, left string, right string, merged string",
    )


@register(
    "tok_bpe_encode",
    # greedy merge application isn't SQL but is deterministic: VALUES
    # pin at sf0.01, derived independently (single-node python encode
    # with the independently recomputed merge table —
    # tools/pin_oracles.py); the Arrow broadcast-closure path is what
    # the pin verifies
    **_PINS_KW("tok_bpe_encode"),
)
def tok_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned merges to every document: the ranked merge
    table rides inside an Arrow-batched mapInPandas closure (KBs —
    the broadcast-small-side rule), greedy lowest-rank-first per word,
    zero shuffle. Output keeps ``first_pieces`` as a '|'-joined STRING
    per the array-output driver rule; the full piece stream is what a
    packing stage (``pack_sequences_emit``) would consume."""
    from crawler_spark.operators.bpe import encode_docs, train_bpe

    docs = load_table(spark, sf_dir, "documents")
    merges = train_bpe(docs, num_merges=_BPE_MERGES, top_v=_BPE_TOP_V)
    return encode_docs(docs, merges)


# --- temperature-smoothed domain mixing -----------------------------------
@register(
    "sample_temperature_mix",
    oracle=f"""
        WITH counts AS (
            SELECT lang, count(*) AS n FROM documents GROUP BY lang
        ),
        mn AS (SELECT min(n) AS n_min FROM counts),
        rates AS (
            SELECT lang, sqrt(CAST(n_min AS DOUBLE) / n) AS keep_p
            FROM counts CROSS JOIN mn
        )
        SELECT d.doc_id, d.lang, round(r.keep_p, 6) AS keep_p
        FROM documents d JOIN rates r USING (lang)
        WHERE r.keep_p >= 1.0
           OR substr({_HASH_KEY}, 1, 4)
              < lower(lpad(to_hex(CAST(floor(r.keep_p * 65536) AS BIGINT)),
                           4, '0'))
    """,
)
def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed language mixing (Arivazhagan et al. 2019
    §4.2; UniMax is the budgeted refinement): per-item keep rate
    ∝ n_lang^(α-1) with α=0.5, scaled so the smallest language keeps
    everything — dominant languages are damped by √(n_min/n) instead of the
    hard quota cliff of `sample_domain_rebalance` (both mixes ship;
    rebalance caps share exactly, temperature preserves ordering
    smoothly). Membership is the repo's md5-prefix rule — no RNG,
    identical on any cluster size. Float determinism: √ and ÷ are
    IEEE correctly-rounded on identical operands, so the 16-bit
    threshold floor can't straddle engines.

    Scale: one lang-bounded count agg; the per-language rate table is
    tiny and BROADCAST back onto the corpus scan — the corpus itself
    never shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    mn = counts.agg(F.min("n").alias("n_min"))
    rates = counts.crossJoin(F.broadcast(mn)).select(
        "lang",
        F.sqrt(F.col("n_min").cast("double") / F.col("n")).alias("keep_p"),
    )
    u = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    thresh = F.lower(F.lpad(
        F.hex(F.floor(F.col("keep_p") * 65536).cast("bigint")), 4, "0"))
    return (
        docs.join(F.broadcast(rates), "lang")
        .where((F.col("keep_p") >= 1.0) | (u < thresh))
        .select("doc_id", "lang", F.round("keep_p", 6).alias("keep_p"))
    )


# --- UniMax epoch-capped budget allocation ---------------------------------
_UNIMAX_EPOCH_CAP = 2      # no language repeats more than C epochs
_UNIMAX_BUDGET_X = 1.8     # total budget = floor(1.8 x corpus docs)


@register(
    "sample_unimax_quota",
    oracle=f"""
        WITH sizes AS (
            SELECT lang, CAST(count(*) AS BIGINT) AS s
            FROM documents GROUP BY lang
        ),
        tot AS (
            SELECT CAST(floor({_UNIMAX_BUDGET_X} * SUM(s)) AS BIGINT) AS b,
                   count(*) AS l
            FROM sizes
        ),
        ordered AS (
            SELECT lang, s, {_UNIMAX_EPOCH_CAP} * s AS cap,
                   row_number() OVER (ORDER BY {_UNIMAX_EPOCH_CAP} * s, lang)
                       AS i,
                   SUM({_UNIMAX_EPOCH_CAP} * s) OVER (
                       ORDER BY {_UNIMAX_EPOCH_CAP} * s, lang
                       ROWS UNBOUNDED PRECEDING) AS cumcap
            FROM sizes
        ),
        flagged AS (
            SELECT o.*, t.b, t.l,
                   (o.cap * (t.l - o.i + 1) <= t.b - (o.cumcap - o.cap))
                       AS capped
            FROM ordered o CROSS JOIN tot t
        ),
        kf AS (
            SELECT coalesce(max(CASE WHEN capped THEN i END), 0) AS k,
                   coalesce(max(CASE WHEN capped THEN cumcap END), 0)
                       AS cumcap_k
            FROM flagged
        ),
        q AS (
            SELECT f.lang, f.s, f.cap, f.i, f.capped, f.b, f.l, kf.k,
                   CAST(floor(CAST(f.b - kf.cumcap_k AS DOUBLE)
                              / greatest(f.l - kf.k, 1)) AS BIGINT) AS base,
                   (f.b - kf.cumcap_k)
                       - CAST(floor(CAST(f.b - kf.cumcap_k AS DOUBLE)
                              / greatest(f.l - kf.k, 1)) AS BIGINT)
                         * (f.l - kf.k) AS rem
            FROM flagged f CROSS JOIN kf
        )
        SELECT lang, s AS n_docs, cap,
               CASE WHEN capped OR l = k THEN cap
                    ELSE base + CASE WHEN i - k <= rem THEN 1 ELSE 0 END
               END AS quota,
               round(CAST(CASE WHEN capped OR l = k THEN cap
                    ELSE base + CASE WHEN i - k <= rem THEN 1 ELSE 0 END
               END AS DOUBLE) / s, 6) AS epochs
        FROM q
    """,
)
def sample_unimax_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax budget allocation (Chung et al., ICLR 2023): spread a
    total document budget across languages AS UNIFORMLY AS POSSIBLE
    subject to a per-language epoch cap — no language repeats more
    than C times, and the freed budget water-fills into the larger
    languages. The published successor to temperature sampling
    (``sample_temperature_mix``): temperature still over-samples tiny
    languages into many epochs (memorization) while UniMax caps
    repetition explicitly.

    Exact water-filling, closed form: sort languages by cap = C·size
    ascending; a language is CAPPED iff granting every not-yet-
    processed language its own cap-level share still fits the
    remaining budget; the first k languages cap, the rest split the
    remainder evenly (integer floor, the ≤L−k leftover docs assigned
    one each in sort order, so quotas sum EXACTLY to the budget on
    any engine). Output: per-language quota table (lang, n_docs, cap,
    quota, epochs) — the rate table a membership sampler (the
    md5-prefix rule, sample_temperature_mix) consumes downstream.

    Scale: one lang-cardinality aggregate off the corpus scan; every
    window after it runs over L languages (dozens), never documents —
    the same tiny-rate-table-broadcast shape as temperature mixing."""
    docs = load_table(spark, sf_dir, "documents")
    sizes = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("s"))
    return unimax_quotas(sizes, _UNIMAX_BUDGET_X, _UNIMAX_EPOCH_CAP)


def unimax_quotas(
    sizes: DataFrame, budget_x: float, epoch_cap: int
) -> DataFrame:
    """The water-filling allocator behind ``sample_unimax_quota``,
    factored over a (lang, s) sizes frame so edge cases (budget beyond
    every cap, budget below every cap, exact-sum invariants) are
    directly testable. Budget = floor(budget_x · Σs) documents."""
    tot = sizes.agg(
        F.floor(F.lit(budget_x) * F.sum("s")).cast("long").alias("b"),
        F.count(F.lit(1)).alias("l"),
    )
    cap = (F.lit(epoch_cap) * F.col("s")).alias("cap")
    w = Window.orderBy("cap", "lang")
    ordered = (
        sizes.select("lang", "s", cap)
        .withColumn("i", F.row_number().over(w))
        .withColumn(
            "cumcap",
            F.sum("cap").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    flagged = ordered.crossJoin(F.broadcast(tot)).withColumn(
        "capped",
        F.col("cap") * (F.col("l") - F.col("i") + 1)
        <= F.col("b") - (F.col("cumcap") - F.col("cap")),
    )
    kf = flagged.agg(
        F.coalesce(F.max(F.when(F.col("capped"), F.col("i"))), F.lit(0))
        .alias("k"),
        F.coalesce(F.max(F.when(F.col("capped"), F.col("cumcap"))), F.lit(0))
        .alias("cumcap_k"),
    )
    q = flagged.crossJoin(F.broadcast(kf))
    denom = F.greatest(F.col("l") - F.col("k"), F.lit(1))
    base = F.floor(
        (F.col("b") - F.col("cumcap_k")).cast("double") / denom
    ).cast("long")
    rem = (F.col("b") - F.col("cumcap_k")) - base * (F.col("l") - F.col("k"))
    quota = F.when(
        F.col("capped") | (F.col("l") == F.col("k")), F.col("cap")
    ).otherwise(
        base + F.when(F.col("i") - F.col("k") <= rem, 1).otherwise(0)
    )
    return q.select(
        "lang",
        F.col("s").alias("n_docs"),
        "cap",
        quota.alias("quota"),
        F.round(quota.cast("double") / F.col("s"), 6).alias("epochs"),
    )
