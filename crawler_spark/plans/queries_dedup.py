"""Scale-path dedup / ANN / multimodal / text-analysis queries
(SURVEY.md §7 M5). The LSH operators' approximation means they never
get EXACT-answer SQL oracles, but their outputs are seeded-
deterministic and partition-independent, so each is pinned as an
sf0.01 REGRESSION oracle (tools/pin_oracles.py — retuning bands or
thresholds is a pin regeneration); recall-vs-exact floors stay in
tests/test_dedup.py. The multimodal stages and text-analysis scalars
are table-derived oracle-matched.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawler_spark.functions import text as X
from crawler_spark.plans.queries_text import _TOKENS_SQL as _TOKENS_SQL_REF
from crawler_spark.plans.oracle_pins import pin_kwargs as _PINS_KW
from crawler_spark.plans.registry import register
from crawler_spark.sources import load_table

# ------------------------------------------------------------- LSH dedup
# seeded-deterministic, partition-independent — sf0.01
# REGRESSION pin (tools/pin_oracles.py); was: rows-only: banded-LSH candidate generation
@register("dedup_minhash_lsh", **_PINS_KW("dedup_minhash_lsh"))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawler_spark.operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, est_threshold=0.4).orderBy("id_a", "id_b")


# seeded-deterministic, partition-independent — sf0.01
# REGRESSION pin (tools/pin_oracles.py); was: rows-only: 64-bit simhash + banding
@register("dedup_simhash_pairs", **_PINS_KW("dedup_simhash_pairs"))
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawler_spark.operators.dedup import simhash_pairs

    docs = load_table(spark, sf_dir, "documents")
    # hamming <= 3 is the published 64-bit simhash near-dup bound
    # (Manku et al. WWW'07) and the streaming twin's default; the
    # operator derives its banding from the bound, so looser bounds
    # work too — at the cost LSH theory charges for them (h+1 ever-
    # narrower, ever-less-selective bands)
    return simhash_pairs(docs, max_hamming=3).orderBy("id_a", "id_b")


# seeded-deterministic, partition-independent — sf0.01
# REGRESSION pin (tools/pin_oracles.py); was: rows-only: hyperplane-LSH ANN pairs
@register("simsearch_lsh_pairs", **_PINS_KW("simsearch_lsh_pairs"))
def simsearch_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawler_spark.operators.dedup import embedding_lsh_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_lsh_pairs(emb, threshold=0.35)
    return pairs.select("id_a", "id_b", F.round("cosine", 6).alias("cosine")).orderBy(
        "id_a", "id_b"
    )


# ------------------------------------------------------------ multimodal
# The synthesized media table is a pure function of (doc_id, text)
# (operators/multimodal.py synthesize_media_from_documents), so the
# decode/resample/frame-sample stages are TABLE-DERIVED: DuckDB
# reconstructs the expected metadata straight from the documents table
# without ever seeing the decoder — a full value oracle over the
# mapInPandas plumbing (batching, per-row error capture, schema).
_MM_KIND = "doc_id % 4"  # 0=image 1=video 2=audio 3=junk


@register(
    "multimodal_decode",
    oracle=f"""
        SELECT doc_id AS media_id,
               CASE {_MM_KIND} WHEN 0 THEN 'image' WHEN 1 THEN 'video'
                    WHEN 2 THEN 'audio' ELSE 'unknown' END AS media_type,
               CAST(CASE {_MM_KIND} WHEN 0 THEN 64 + doc_id % 256
                    WHEN 1 THEN 32 + doc_id % 64
                    ELSE -1 END AS INTEGER) AS width,
               CAST(CASE {_MM_KIND} WHEN 0 THEN 64 + doc_id % 128
                    WHEN 1 THEN 32 + doc_id % 64
                    ELSE -1 END AS INTEGER) AS height,
               CAST(CASE {_MM_KIND} WHEN 0 THEN 1
                    WHEN 1 THEN 30 + doc_id % 60
                    ELSE -1 END AS INTEGER) AS n_frames,
               CAST(CASE {_MM_KIND} WHEN 2 THEN 8000 * (1 + doc_id % 6)
                    ELSE -1 END AS INTEGER) AS sample_rate,
               CAST(CASE {_MM_KIND} WHEN 2 THEN 16000 + doc_id % 48000
                    ELSE -1 END AS INTEGER) AS n_samples,
               CASE {_MM_KIND} WHEN 0 THEN 'fakeimg' WHEN 1 THEN 'fakevid'
                    WHEN 2 THEN 'fakeaud' END AS format,
               {_MM_KIND} = 3 AS decode_failed
        FROM documents ORDER BY media_id
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode stage under a table-derived value oracle: every typed
    metadata field per media kind, plus the dead-letter branch (junk
    payloads decode_failed, never a task failure). The error MESSAGE
    is projected down to a boolean — it names the installed codec
    stack, which is environment, not data. Inapplicable metric fields
    project to a -1 sentinel instead of NULL because DuckDB's pandas
    bridge floats a nullable INTEGER column (64 vs 64.0 would
    hash-mismatch despite equal data)."""
    from crawler_spark.operators.multimodal import (
        decode_metadata,
        synthesize_media_from_documents,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = synthesize_media_from_documents(docs)
    decoded = decode_metadata(media)
    m1 = F.lit(-1)
    return decoded.select(
        "media_id", "media_type",
        F.coalesce("width", m1).alias("width"),
        F.coalesce("height", m1).alias("height"),
        F.coalesce("n_frames", m1).alias("n_frames"),
        F.coalesce("sample_rate", m1).alias("sample_rate"),
        F.coalesce("n_samples", m1).alias("n_samples"),
        "format",
        F.col("decode_error").isNotNull().alias("decode_failed"),
    ).orderBy("media_id")


@register(
    "multimodal_frame_sample",
    oracle="""
        WITH vids AS (
            SELECT doc_id, 30 + doc_id % 60 AS nf,
                   32 + doc_id % 64 AS wh
            FROM documents WHERE doc_id % 4 = 1
        )
        SELECT doc_id AS media_id, CAST(fi AS INTEGER) AS frame_index,
               CAST(8 + 2 * strlen(CAST(wh AS VARCHAR)) + 2 + 32
                    AS INTEGER) AS frame_bytes
        FROM vids, unnest(generate_series(0, nf - 1, 10)) t(fi)
        ORDER BY media_id, frame_index
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling under a table-derived oracle: one row per
    sampled frame index (every 10th of the fake video's n_frames),
    frame payload length = magic + "{w}x{h}:" header + 32-byte body —
    reconstructed arithmetically in SQL from doc_id alone."""
    from crawler_spark.operators.multimodal import (
        sample_frames,
        synthesize_media_from_documents,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = synthesize_media_from_documents(docs)
    frames = sample_frames(media, every_n=10)
    return frames.select("media_id", "frame_index", F.length("frame").alias("frame_bytes")).orderBy(
        "media_id", "frame_index"
    )


@register(
    "multimodal_resample",
    oracle="""
        WITH aud AS (
            SELECT doc_id, 8000 * (1 + doc_id % 6) AS sr,
                   16000 + doc_id % 48000 AS n
            FROM documents WHERE doc_id % 4 = 2
        ),
        calc AS (
            SELECT doc_id, CAST(n AS DOUBLE) * 16000 / sr AS x FROM aud
        )
        SELECT doc_id AS media_id, CAST(16000 AS INTEGER) AS sample_rate,
               -- Python round() is banker's: an exact .5 rounds to
               -- even (sr=32000, odd n), DuckDB round() rounds away —
               -- the CASE reproduces round-half-even exactly
               CAST(greatest(1, CASE WHEN x = floor(x) + 0.5
                    THEN CAST(floor(x) AS BIGINT)
                         + CAST(floor(x) AS BIGINT) % 2
                    ELSE CAST(round(x) AS BIGINT) END)
                    AS INTEGER) AS n_samples
        FROM calc ORDER BY media_id
    """,
)
def multimodal_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawler_spark.operators.multimodal import (
        decode_metadata,
        resample_audio,
        synthesize_media_from_documents,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = synthesize_media_from_documents(docs)
    return (
        decode_metadata(resample_audio(media, 16000))
        .filter(F.col("format") == "fakeaud")
        .select("media_id", "sample_rate", "n_samples")
        .orderBy("media_id")
    )


@register(
    "multimodal_features",
    oracle="""
        SELECT doc_id AS media_id, CAST(64 AS INTEGER) AS dims,
               CAST(1.0 AS DOUBLE) AS sq_norm
        FROM documents ORDER BY media_id
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction under a value oracle: the stub embedder is
    L2-normalized by contract, so every media row must come back with
    exactly 64 dims and unit squared norm (rounded 6dp) — the oracle
    pins coverage (one row per media id, none lost to the UDF) and
    the normalization invariant; the vector VALUES are sha-derived
    and exercised by the ANN tier's recall tests instead."""
    from crawler_spark.operators.multimodal import (
        media_features,
        synthesize_media_from_documents,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = synthesize_media_from_documents(docs)
    feats = media_features(media)
    return feats.select(
        "media_id",
        F.size("embedding").alias("dims"),
        F.round(F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x * x), 6)
        .alias("sq_norm"),
    ).orderBy("media_id")


# ------------------------------------------------------- text analysis
_PROFILES = {
    "en": ["the", "a", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "das", "ist", "ein"],
    "es": ["el", "la", "de", "y", "que", "los"],
    "fr": ["le", "la", "et", "les", "des", "une"],
}


def _score_sql(lang: str) -> str:
    toks = "list_filter(string_split_regex(lower(text), '\\W+'), t -> t <> '')"
    lst = "[" + ", ".join(f"'{w}'" for w in _PROFILES[lang]) + "]"
    return f"len(list_filter({toks}, t -> list_contains({lst}, t)))"


@register(
    "txt_lang_id",
    oracle=f"""
        WITH scored AS (
            SELECT doc_id,
                   {_score_sql('en')} AS s_en, {_score_sql('de')} AS s_de,
                   {_score_sql('es')} AS s_es, {_score_sql('fr')} AS s_fr
            FROM documents
        )
        SELECT doc_id,
               CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                    WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
                    WHEN s_es >= s_fr THEN 'es'
                    ELSE 'fr' END AS lang_guess,
               s_en + s_de + s_es + s_fr AS stopword_hits
        FROM scored
    """,
)
def txt_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID: per-language hit counts over the
    token stream, deterministic argmax (ties break en>de>es>fr). Pure
    expressions — no UDF, scales as a projection."""
    docs = load_table(spark, sf_dir, "documents")

    def score(arr: F.Column, lang: str) -> F.Column:
        prof = F.array(*[F.lit(w) for w in _PROFILES[lang]])
        return F.size(F.filter(arr, lambda t: F.array_contains(prof, t)))

    # One tokenize + one profile-filter per language per row: the
    # argmax when-chain references each score up to 4 times, and with
    # the filter HOF blocking codegen CSE every reference would
    # re-tokenize — so compute all scores in ONE bound projection
    # (X.bind_once) and argmax over the struct's fields in a second
    # select (CollapseProject keeps multi-referenced non-cheap
    # aliases in their own projection).
    scored = docs.select(
        "doc_id",
        X.bind_once(
            X.tokenize("text"),
            lambda arr: F.struct(
                *[score(arr, l).alias(l) for l in ["en", "de", "es", "fr"]]
            ),
        ).alias("s"),
    )
    s_en, s_de, s_es, s_fr = (F.col("s")[l] for l in ["en", "de", "es", "fr"])
    guess = (
        F.when((s_en >= s_de) & (s_en >= s_es) & (s_en >= s_fr), "en")
        .when((s_de >= s_es) & (s_de >= s_fr), "de")
        .when(s_es >= s_fr, "es")
        .otherwise("fr")
    )
    return scored.select(
        "doc_id",
        guess.alias("lang_guess"),
        (s_en + s_de + s_es + s_fr).alias("stopword_hits"),
    )


@register(
    "txt_bpe_token_count",
    oracle="""
        SELECT doc_id,
               len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]'))
                   AS n_bpe_tokens
        FROM documents
    """,
)
def txt_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenizer count: word runs + individual punctuation
    marks (the usual byte-level BPE split shape)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.lower("text"),
                                    F.lit(r"[a-z0-9]+|[^a-z0-9\s]"), 0)).alias("n_bpe_tokens"),
    )


@register(
    "txt_rolling_hash",
    oracle="""
        SELECT doc_id,
               list_reduce(
                   list_prepend(0::BIGINT,
                       list_transform(generate_series(1, length(substr(text, 1, 64))),
                                      i -> unicode(substr(text, i, 1))::BIGINT)),
                   (a, c) -> (a * 31 + c) % 2147483647
               ) AS rhash
        FROM documents
    """,
)
def txt_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling hash (Karp-Rabin shape) over the first 64
    chars, as a pure left fold — identical in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    prefix = F.substring("text", 1, 64)
    codes = F.transform(
        F.sequence(F.lit(1), F.length(prefix)),
        lambda i: F.ascii(F.substr(F.col("text"), i, F.lit(1))).cast("long"),
    )
    rhash = F.aggregate(
        codes, F.lit(0).cast("long"), lambda a, c: (a * 31 + c) % 2147483647
    )
    return docs.select("doc_id", rhash.alias("rhash"))


@register(
    "multimodal_phash_neardup",
    oracle="""
        WITH imgs AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 40 = 4 THEN doc_id - 4
                        ELSE doc_id END AS seed_id
            FROM documents WHERE doc_id % 4 = 0
        ),
        sigs AS (
            -- the stub pHash is the first 8 bytes of sha256(seed
            -- text): recompute it from scratch (sha256 over VARCHAR
            -- hashes the UTF-8 bytes, same as Spark's sha2 over
            -- encode(text,'utf-8')) and pair by brute force — the
            -- banded machinery under test must find exactly the
            -- all-pairs answer (pigeonhole-complete banding)
            SELECT i.doc_id AS id,
                   ('0x' || substr(sha256(d.text), 1, 16))::UBIGINT AS sig
            FROM imgs i JOIN documents d ON d.doc_id = i.seed_id
        )
        SELECT a.id AS id_a, b.id AS id_b,
               CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
        FROM sigs a JOIN sigs b ON a.id < b.id
        WHERE bit_count(xor(a.sig, b.sig)) <= 3
        ORDER BY id_a, id_b
    """,
)
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs: synthesize the media table with
    PLANTED duplicate images (every doc_id ≡ 4 (mod 40) image reuses
    its predecessor image's content — deterministic, both engines'
    views identical), perceptual-hash each image
    (operators/multimodal.py phash_images), and pair via the SAME
    banded-hamming machinery text SimHash uses
    (hamming_pairs_from_signatures). The planted pairs come out at
    hamming 0; the pipeline accepts hamming ≤ 3 generally. One
    candidate shuffle, mapInPandas hashing, no codec dependency —
    the LAION-style image-dedup shape."""
    from crawler_spark.operators.dedup import hamming_pairs_from_signatures
    from crawler_spark.operators.multimodal import FAKE_IMAGE_MAGIC, phash_images

    docs = load_table(spark, sf_dir, "documents")
    seed_id = F.when(
        (F.col("doc_id") % 40 == 4), F.col("doc_id") - 4
    ).otherwise(F.col("doc_id"))
    seeds = docs.select(
        F.col("doc_id").alias("seed_id"), F.col("text").alias("seed_text"))
    imgs = (
        docs.filter(F.col("doc_id") % 4 == 0)
        .select("doc_id", seed_id.alias("seed_id"))
        .join(seeds, "seed_id")
    )
    # fake_image as pure expressions (sha2 hex == hashlib.sha256 hex, so
    # the bytes match operators/multimodal.py fake_image exactly) — the
    # fixture stays codegen instead of a row-at-a-time UDF
    header = F.concat_ws(
        "",
        (64 + F.col("seed_id") % 256).cast("string"), F.lit("x"),
        (64 + F.col("seed_id") % 128).cast("string"), F.lit(":"),
    )
    payload = F.concat(
        F.lit(FAKE_IMAGE_MAGIC),
        F.encode(header, "utf-8"),
        F.unhex(F.sha2(F.encode("seed_text", "utf-8"), 256)),
    )
    media = imgs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("media_type"),
        payload.alias("payload"),
    )
    pairs = hamming_pairs_from_signatures(phash_images(media), max_hamming=3)
    return pairs.orderBy("id_a", "id_b")


@register(
    "multimodal_clip_filter",
    # the stub embedders are deterministic but sha-float based (no SQL
    # form — DuckDB's sha256 can't hash BINARY payloads): VALUES pin
    # at the driver's sf0.01, derived INDEPENDENTLY by pure-python
    # embed + cosine over reconstructed payloads (tools/pin_oracles.py)
    **_PINS_KW("multimodal_clip_filter"),
)
def multimodal_clip_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Caption–image alignment filtering (the LAION recipe's other
    half, next to pHash dedup): embed the caption with the text
    embedder and the image with the vision embedder, keep pairs whose
    cosine clears a threshold — the gate that drops mismatched
    alt-text at dataset-build time. Both embedders are the repo's
    deterministic stubs (hermetic; the Ollama-backed impls swap in
    behind the same interface), so scores are reproducible across
    engines and runs.

    Scale shape: one zero-shuffle pass — both embeddings are Arrow-
    batched pandas UDFs over the joined (caption, payload) row, cosine
    is a codegen HOF, the filter is a projection. Returns kept pairs
    with their scores; the keep-rate is the tuning readout."""
    from crawler_spark.functions import vector as V
    from crawler_spark.functions.embedding import StubEmbedder
    import hashlib

    from crawler_spark.operators.multimodal import (
        synthesize_media_from_documents)

    docs = load_table(spark, sf_dir, "documents")
    media = synthesize_media_from_documents(docs).filter(
        F.col("media_type") == "image")
    pairs = docs.join(
        media, docs.doc_id == media.media_id
    ).select("doc_id", F.col("text").alias("caption"), "payload")

    text_emb = StubEmbedder(16)

    @F.pandas_udf("array<double>")
    def embed_caption(texts: pd.Series) -> pd.Series:
        return pd.Series([text_emb.embed_text(t) for t in texts])

    @F.pandas_udf("array<double>")
    def embed_image(payloads: pd.Series) -> pd.Series:
        return pd.Series([
            text_emb.embed_vision(hashlib.sha256(bytes(p)).hexdigest())
            for p in payloads
        ])

    # Python-UDF outputs can't sit inside higher-order-function lambdas
    # (Spark UNSUPPORTED_FEATURE.LAMBDA_FUNCTION_WITH_PYTHON_UDF), so
    # materialize the embeddings as plain columns first, then apply the
    # codegen HOF normalization/cosine over those attributes.
    embedded = pairs.select(
        "doc_id",
        embed_caption("caption").alias("cap_e"),
        embed_image("payload").alias("img_e"),
    )
    scored = embedded.select(
        "doc_id",
        (-V.neg_dot(
            V.l2_normalize("cap_e"), V.l2_normalize("img_e"),
        )).alias("clip_score"),
    )
    return (
        scored.filter(F.col("clip_score") > -0.05)
        .select("doc_id", F.round("clip_score", 6).alias("clip_score"))
        .orderBy("doc_id")
    )


# --- character-level fuzzy candidates (blocked Levenshtein) ---------------
_FUZZY_MAX_DIST = 2
_FUZZY_PREFIX_TOKENS = 5
# estimated (title, band) bytes per task of the blocked levenshtein
# probe, ~600 titles at ~55 bytes each: at sf0.1 on 4 cores (8 tasks)
# 2.65 s against 2.93 s at 8 KiB and 2.89 s at 64 KiB
_FUZZY_PROBE_BYTES_PER_TASK = 32 << 10
# tokenize only a 200-char prefix: the title needs 5 tokens, and running
# the \W+ regex over full multi-KB documents was ~5x the query's cost
# (same prune in BOTH engines, so parity is unaffected)
_FUZZY_TOKENS_SQL = _TOKENS_SQL_REF.replace(
    "lower(text)", "lower(substr(text, 1, 200))")



def _fuzzy_title(text_col: str = "text") -> F.Column:
    """The 5-token title prefix both fuzzy queries block on (200-char
    prune per the measured finding in ``dedup_fuzzy_levenshtein``)."""
    return F.concat_ws(
        " ", F.slice(
            X.tokenize(F.substring(text_col, 1, 200)), 1,
            _FUZZY_PREFIX_TOKENS))


def _fuzzy_blocked_pairs(spark: SparkSession, titled: DataFrame,
                         id_col: str) -> DataFrame:
    """Shared ED-join pipeline: (length-band, first-char) blocking,
    parallelized probe side, levenshtein ≤ max_dist filter. Both the
    corpus query and the seeded-typo oracle run THIS function, so the
    driver's seeded check certifies the production pipeline."""
    blocked = titled.select(
        id_col, "title",
        F.floor(F.length("title") / 4).cast("int").alias("len_band"),
        F.substring("title", 1, 1).alias("head"),
    )
    from crawler_spark.session import estimated_partitions

    par = estimated_partitions(blocked, _FUZZY_PROBE_BYTES_PER_TASK)
    a = blocked.repartition(par, "len_band", "head").alias("a")
    b = blocked.alias("b")
    dist = F.levenshtein(F.col("a.title"), F.col("b.title"))
    return (
        a.join(b, (F.col("a.len_band") == F.col("b.len_band"))
               & (F.col("a.head") == F.col("b.head"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .where(dist <= _FUZZY_MAX_DIST)
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            dist.cast("int").alias("dist"),
        )
    )


@register(
    "dedup_fuzzy_levenshtein",
    oracle=f"""
        WITH titles AS (
            SELECT doc_id,
                   array_to_string(
                       {_FUZZY_TOKENS_SQL}[1:{_FUZZY_PREFIX_TOKENS}], ' ')
                       AS title
            FROM documents
        ),
        blocked AS (
            SELECT doc_id, title,
                   CAST(floor(len(title) / 4) AS INT) AS len_band,
                   substr(title, 1, 1) AS head
            FROM titles WHERE title <> ''
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(levenshtein(a.title, b.title) AS INT) AS dist
        FROM blocked a JOIN blocked b
          ON a.len_band = b.len_band AND a.head = b.head
         AND a.doc_id < b.doc_id
        WHERE levenshtein(a.title, b.title) <= {_FUZZY_MAX_DIST}
    """,
)
def dedup_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level fuzzy near-dup candidates: pairs whose 5-token
    title prefix sits within Levenshtein distance 2 — the family
    member that catches typo/OCR variants token-shingle methods miss
    (one character flip changes every shingle it touches, but moves
    edit distance by 1). Candidate generation is classic ED-join
    blocking (Xiao et al. ICDE'08 shape): self-join only WITHIN a
    (length-band, first-char) block — a pair crossing blocks can
    still be a true match (blocking trades recall for the n² cut;
    multi-pass blocking on different keys is the standard recall
    repair, same as LSH's multiple bands).

    Scale: one shuffle on the block key; per-block cost is |block|²
    like the capped Jaccard family — length-banding bounds blocks for
    title-like strings, and PassJoin-style segment partitioning is the
    published swap when a block still explodes. levenshtein() is
    JVM-side codegen in Spark and native in DuckDB — identical ints,
    no float drift anywhere. Two measured physical choices
    (diag_plan_metrics profiling found both): tokenize only the
    200-char prefix (the \\W+ regex over full documents was ~5× the
    query), and repartition the probe side — the broadcast block join
    otherwise inherits the scan's single input partition and runs the
    whole probe on ONE core."""
    docs = load_table(spark, sf_dir, "documents")
    titled = docs.select(
        "doc_id", _fuzzy_title().alias("title")).where(F.col("title") != "")
    return _fuzzy_blocked_pairs(spark, titled, "doc_id")


@register(
    "dedup_fuzzy_seeded",
    oracle=f"""
        WITH titles AS (
            SELECT doc_id,
                   array_to_string(
                       {_FUZZY_TOKENS_SQL}[1:{_FUZZY_PREFIX_TOKENS}], ' ')
                       AS title
            FROM documents
        ),
        variants AS (
            SELECT doc_id * 2 AS vid, title FROM titles
            WHERE len(title) >= 4
            UNION ALL
            SELECT doc_id * 2 + 1 AS vid,
                   substr(title, 1, 2) || 'z' || substr(title, 4) AS title
            FROM titles WHERE len(title) >= 4
        ),
        blocked AS (
            SELECT vid, title,
                   CAST(floor(len(title) / 4) AS INT) AS len_band,
                   substr(title, 1, 1) AS head
            FROM variants
        )
        SELECT a.vid AS doc_a, b.vid AS doc_b,
               CAST(levenshtein(a.title, b.title) AS INT) AS dist
        FROM blocked a JOIN blocked b
          ON a.len_band = b.len_band AND a.head = b.head
         AND a.vid < b.vid
        WHERE levenshtein(a.title, b.title) <= {_FUZZY_MAX_DIST}
          AND b.vid = a.vid + 1 AND a.vid % 2 = 0
    """,
)
def dedup_fuzzy_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NONZERO-distance path of the fuzzy matcher under the value
    oracle: every document spawns a variant with one character
    substituted mid-title (seeded identically in both engines, the
    ``url_normalize_dedup`` convention), and the blocked-Levenshtein
    pipeline must recover exactly the (original, variant) pairs at
    dist 1 — the corpus's own near-dups only exercise dist 0, so
    without this the driver never checks the edit-distance arithmetic
    itself. The output filter keeps only the planted pairs so the
    expected set is structurally known (one row per doc with a
    ≥4-char title)."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", _fuzzy_title().alias("title")).where(
        F.length("title") >= 4)
    mutated = F.concat(
        F.substring("title", 1, 2), F.lit("z"),
        F.expr("substr(title, 4)"))
    variants = base.select(
        (F.col("doc_id") * 2).alias("vid"), "title",
    ).unionByName(base.select(
        (F.col("doc_id") * 2 + 1).alias("vid"), mutated.alias("title")))
    pairs = _fuzzy_blocked_pairs(spark, variants, "vid")
    return pairs.where(
        (F.col("doc_b") == F.col("doc_a") + 1) & (F.col("doc_a") % 2 == 0))


# --- dedup cluster-size histogram -------------------------------------------
@register(
    "dedup_cluster_histogram",
    oracle="""
        WITH corpus AS (
            SELECT doc_id * 4 + u.k AS vid, text
            FROM documents,
                 unnest(generate_series(0, doc_id % 4)) AS u(k)
        ),
        clusters AS (
            SELECT text, count(*) AS cluster_size FROM corpus GROUP BY text
        )
        SELECT CAST(cluster_size AS INT) AS cluster_size,
               count(*) AS n_clusters,
               CAST(SUM(cluster_size) AS BIGINT) AS n_docs
        FROM clusters
        GROUP BY cluster_size
    """,
)
def dedup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-health card for dedup: the DISTRIBUTION of duplicate-
    cluster sizes (how many clusters of 1, of 2, ... and how many
    documents they hold). This is the first number a dedup pass
    reports — keep-one savings = 1 − Σn_clusters/Σn_docs — and its
    shape diagnoses the corpus: a fat tail of large clusters means
    mirror farms / templated spam, near-uniform singletons mean dedup
    is done. Seeded like ``dedup_fuzzy_seeded``: every document spawns
    1 + doc_id % 4 verbatim copies, so the planted histogram is
    structurally known and both engines derive it independently.

    Scale: two groupBys with map-side combine (text key → size key);
    at 100 TB key the first on a 128-bit fingerprint instead of raw
    text (X.fingerprint — collision odds ≪ corpus size) so shuffle
    rows are hash-narrow; the histogram side is at most
    max-cluster-size rows."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.select(
        "doc_id", "text",
        F.explode(F.sequence(F.lit(0), F.col("doc_id") % 4)).alias("k"),
    ).select((F.col("doc_id") * 4 + F.col("k")).alias("vid"), "text")
    clusters = corpus.groupBy("text").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    return clusters.groupBy(
        F.col("cluster_size").cast("int").alias("cluster_size")
    ).agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("cluster_size").alias("n_docs"),
    )
