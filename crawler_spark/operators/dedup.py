"""Near-duplicate detection at scale (SURVEY.md §7 M5 / the
training-data-pipeline extensions): MinHash+LSH, SimHash, and
LSH-bucketed embedding near-dup.

Design for 100 TB: every method here avoids the O(n²) pair space by
construction —
  * MinHash LSH: per-doc signatures (one groupBy over exploded
    shingles), banded so only docs sharing a band bucket are paired;
    the band join shuffles on (band_id, band_hash) — high cardinality,
    uniform, no skew.
  * SimHash: 64-bit signature per doc (one vectorized pass), candidate
    pairs from 16-bit band buckets (pigeonhole: hamming ≤ 3 ⇒ at least
    one of 4 bands equal), verified with bit_count(xor).
  * Embedding LSH: random-hyperplane sign bits bucket the vectors;
    exact cosine re-rank only within buckets.

Exact baselines these approximate: dedup_ngram_jaccard and
simsearch_cosine_pairs (oracle-checked in plans/) — tests compare
recall against them.
"""

from __future__ import annotations

import functools

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from crawler_spark.functions import text as X


def long_id(df: DataFrame, id_col: str) -> F.Column:
    """The LONG id column these operators key on — failing fast when the
    id type isn't integral. A silent ``cast("long")`` turns string ids
    into NULLs, collapsing every row onto one key (or dropping them)
    with no error; callers with string ids must derive a numeric key
    explicitly, e.g. ``df.withColumn("id64", F.xxhash64("doc_id"))``."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    dt = df.schema[id_col].dataType
    if not isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
        raise TypeError(
            f"id column {id_col!r} has type {dt.simpleString()}, but this operator "
            "keys on an integral id. Derive one first (deterministic for strings): "
            f"df.withColumn('id64', F.xxhash64('{id_col}'))."
        )
    return F.col(id_col).cast("long")


# ---------------------------------------------------------------- MinHash
def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, signature array<long>) — minimum of xxhash64 over the doc's
    distinct k-word shingles under ``num_hashes`` salted hash functions.
    One explode + one groupBy with num_hashes min-aggregates: map-side
    combine keeps the shuffle at one row per (doc, shingle-free) —
    no signature matrix materialized."""
    grams = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(X.word_shingles(text_col, shingle_k))).alias("g"),
    )
    # SQL text, not F.* builders: the same analyzed plan in one Py4J
    # call per aggregate instead of ~8 (the per-element construction
    # cost was most of this operator's driver time)
    aggs = [F.expr(f"min(xxhash64(concat('mh{i}|', g))) AS h{i}")
            for i in range(num_hashes)]
    sig = grams.groupBy("id").agg(*aggs)
    hs = ", ".join(f"h{i}" for i in range(num_hashes))
    return sig.selectExpr("id", f"array({hs}) AS signature")


def _stream_bucket_pairs(groups: DataFrame, make_pair, pair_filter=None):
    """The in-bucket pair streamer shared by the MinHash and hamming
    band machineries: over a packed ``rows`` array column, posexplode
    + per-row slice emits each unordered pair exactly once, with each
    generated row holding O(|bucket|) state instead of one
    O(|bucket|²) flat pair array (a genuine duplicate cluster's pairs
    are still the output, but they materialize row-at-a-time, never as
    a single in-memory value). ``make_pair(x, y)`` builds the pair
    struct from two packed elements; ``pair_filter`` optionally prunes
    pairs INSIDE the per-row expression, before any row is generated."""
    arr = F.transform(
        F.slice("rows", F.col("i") + 2, F.size("rows") - F.col("i") - 1),
        lambda y: make_pair(F.col("x"), y),
    )
    if pair_filter is not None:
        arr = F.filter(arr, pair_filter)
    return (
        groups.select("rows", F.posexplode("rows").alias("i", "x"))
        .select(F.explode(arr).alias("p"))
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    est_threshold: float = 0.5,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH, scored by
    estimated Jaccard (fraction of agreeing signature components).

    rows-per-band = num_hashes/bands; a pair becomes a candidate iff
    some band's slice of the signature matches exactly. With 32 hashes
    in 8 bands of 4, P(candidate) ≈ 1-(1-j⁴)⁸ — steep around j≈0.5.
    """
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    # cache note: the signature frame is CORPUS-sized (num_hashes longs
    # per doc) and consumed 3× (banding + both verify sides); the cache
    # spills to disk and is pinned for the session — a production
    # pipeline persists the signature table to the lake once and reads
    # it back, which releases the executor-storage pin and survives
    # restarts. Recomputing instead would re-run the shingle fold 3×.
    sig = minhash_signatures(docs, text_col, id_col, num_hashes, shingle_k).cache()

    # candidate generation: ONE groupBy(band, bucket) packs each
    # bucket's ids (only the ids — signatures would bloat the shuffle
    # ×bands); singleton buckets — the overwhelming majority under a
    # 64-bit bucket hash — are dropped JVM-side before any pair work.
    # No banded self-join, no distinct over a candidate blow-up.
    # one SQL expression for the band structs (same analyzed plan as
    # the F.* form, a few Py4J calls instead of hundreds)
    structs = ", ".join(
        f"struct({b} AS band, xxhash64(concat_ws(',', "
        + ", ".join(
            f"CAST(element_at(signature, {b * rows_per_band + r + 1}) AS STRING)"
            for r in range(rows_per_band))
        + ")) AS bucket)"
        for b in range(bands)
    )
    banded = sig.selectExpr(
        "id", f"explode(array({structs})) AS bb",
    ).select("id", "bb.band", "bb.bucket")

    groups = (
        banded.groupBy("band", "bucket")
        .agg(F.collect_list("id").alias("rows"))
        .filter(F.size("rows") >= 2)
    )
    candidates = (
        _stream_bucket_pairs(
            groups,
            lambda x, y: F.struct(
                F.least(x, y).alias("id_a"),
                F.greatest(x, y).alias("id_b"),
            ),
        )
        .select("p.id_a", "p.id_b")
        .distinct()  # over surviving pairs only, not the banded blow-up
    )

    sa = sig.select(F.col("id").alias("id_a"), F.col("signature").alias("sig_a"))
    sb = sig.select(F.col("id").alias("id_b"), F.col("signature").alias("sig_b"))
    est = (
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                        lambda eq: eq)).cast("double") / num_hashes
    )
    return (
        candidates.join(sa, "id_a").join(sb, "id_b")
        .select("id_a", "id_b", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= est_threshold)
    )


# ---------------------------------------------------------------- SimHash
def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, simhash long): 64-bit bit-majority over xxhash64 of the
    doc's tokens. For each bit i, the signature bit is 1 iff more
    tokens have bit i set than not.

    Tokenization and hashing stay JVM-side (codegen); the 64-counter
    majority vote runs as an Arrow-batched numpy kernel
    (unpackbits → column sums → packbits). A pure-expression fold was
    tried twice — 64 array-filter passes, then a single zip_with
    aggregate — and both were dominated not by runtime but by
    whole-stage-codegen COMPILING the 64-wide expression (~10 s one-off
    per plan); the vectorized kernel beats them on both axes, and the
    bit layout (bit i == 1<<i of the signed long, little-endian) is
    identical."""
    import numpy as np
    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def _majority_sig(hash_arrays: pd.Series) -> pd.Series:
        out = []
        for h in hash_arrays:
            if h is None or len(h) == 0:
                out.append(0)
                continue
            a = np.asarray(h, dtype=np.int64).view(np.uint8)
            bits = np.unpackbits(a, bitorder="little").reshape(len(h), 64)
            maj = bits.sum(axis=0) * 2 > len(h)
            out.append(int(np.packbits(maj, bitorder="little").view(np.int64)[0]))
        return pd.Series(out, dtype="int64")

    hashes = F.transform(X.tokenize(text_col), lambda t: F.xxhash64(t))
    return docs.select(F.col(id_col).alias("id"), _majority_sig(hashes).alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming.

    Candidates from (max_hamming+1) band buckets (pigeonhole — see
    hamming_pairs_from_signatures), verified by bit_count(a xor b).

    Pair generation is ONE groupBy(band, bucket) that packs each
    bucket's (id, simhash) rows and explodes the in-bucket pairs with
    pure expressions — no banded self-join, no distinct over candidate
    rows; the final dedup groupBy runs over surviving pairs only.
    Bucket sizes are tiny by construction (2^16 buckets per band at
    the default max_hamming=3) except for genuine duplicate clusters,
    whose pairs are the output anyway.

    Token-less documents (empty/whitespace/NULL text) are EXCLUDED
    before signing, mirroring the MinHash path (no shingles → no
    signature): they would all hash to signature 0 and form one
    corpus-wide mutual "near-dup" cluster — N·(N-1)/2 hamming-0 pairs
    and one N-element aggregation buffer per band for what is really
    an emptiness predicate, not similarity (review-found). Route empty
    docs with a length filter upstream (corpus_clean) instead.

    ``sig`` is cached: without the materialization boundary Catalyst
    collapses the projection and re-evaluates the (large) signature
    fold once per band bucket expression — 5× the per-row cost. The
    cache is corpus-sized and session-pinned; a production pipeline
    persists the signature table instead (same note as
    minhash_lsh_pairs)."""
    nonempty = docs.filter(F.size(X.tokenize(text_col)) > 0)
    sig = simhash(nonempty, text_col, id_col).cache()
    return hamming_pairs_from_signatures(sig, max_hamming)


def hamming_pairs_from_signatures(
    sig: DataFrame,
    max_hamming: int = 3,
) -> DataFrame:
    """Banded hamming-pair machinery over ANY (id, simhash) 64-bit
    signature frame — shared by text SimHash (``simhash_pairs``) and
    image perceptual hashes (operators/multimodal.py phash_images).

    Band count DERIVES from ``max_hamming``: splitting 64 bits into
    ``max_hamming + 1`` bands guarantees (pigeonhole) that a pair with
    ≤ max_hamming differing bits shares at least one untouched band —
    a FIXED 4-band split would silently miss pairs whose ≥4 diffs
    spread across all four bands the moment max_hamming exceeds 3.
    max_hamming=3 reproduces the classic 4×16-bit geometry exactly.
    Candidates verify by bit_count(xor); pairs stream out of each
    bucket via posexplode + per-row slice (each generated row holds
    O(|bucket|) state, never the O(|bucket|²) flat pair array — a
    genuine duplicate cluster's pairs are still the output, but they
    materialize row-at-a-time, not as one in-memory value)."""
    if not 0 <= max_hamming <= 31:
        raise ValueError("max_hamming must be in [0, 31] (banding needs "
                         "max_hamming+1 bands of >=2 bits over 64)")
    bands = max_hamming + 1
    base, rem = divmod(64, bands)
    widths = [base + 1] * rem + [base] * (bands - rem)
    offsets = [sum(widths[:b]) for b in range(bands)]
    def _bucket(b: int) -> F.Column:
        col = F.shiftrightunsigned("simhash", offsets[b])
        if widths[b] < 64:
            col = col.bitwiseAND(F.lit((1 << widths[b]) - 1))
        # width == 64 (max_hamming = 0, one band): no mask needed, and
        # (1 << 64) - 1 would overflow the long literal (review-found
        # crash on the guard's own advertised lower bound)
        return col

    banded = sig.select(
        "id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"), _bucket(b).alias("bucket"))
            for b in range(bands)
        ])).alias("bb"),
    ).select("id", "simhash", "bb.band", "bb.bucket")

    groups = banded.groupBy("band", "bucket").agg(
        F.collect_list(F.struct("id", "simhash")).alias("rows")
    ).filter(F.size("rows") >= 2)
    pairs = _stream_bucket_pairs(
        groups,
        lambda x, y: F.struct(
            F.least(x["id"], y["id"]).alias("id_a"),
            F.greatest(x["id"], y["id"]).alias("id_b"),
            F.bit_count(x["simhash"].bitwiseXOR(y["simhash"]))
            .alias("hamming"),
        ),
        pair_filter=lambda p: p["hamming"] <= F.lit(max_hamming),
    )
    return (
        pairs.select("p.id_a", "p.id_b", "p.hamming")
        .groupBy("id_a", "id_b")
        # first() is safe here, unlike a float score: hamming is the
        # SAME exact integer in every band that finds the pair
        .agg(F.first("hamming").alias("hamming"))
    )


# ------------------------------------------------- Embedding LSH (ANN path)
def _murmur3_int32(value: int, seed: int) -> int:
    """Spark's Murmur3_x86_32.hashInt — bit-exact Python replica
    (mixK1 → mixH1 → fmix with length 4), returning the SIGNED int32
    Spark's ``hash`` expression yields. Locked against F.hash by
    tests/test_dedup.py::test_murmur3_matches_spark_hash; exists so the
    Arrow projection kernel below can derive the SAME pseudo-random
    plane components as the original in-expression
    ``hash(seed, plane, j)`` without a JVM round-trip."""
    M = 0xFFFFFFFF
    k1 = (value * 0xCC9E2D51) & M
    k1 = ((k1 << 15) | (k1 >> 17)) & M
    k1 = (k1 * 0x1B873593) & M
    h1 = (seed ^ k1) & M
    h1 = ((h1 << 13) | (h1 >> 19)) & M
    h1 = (h1 * 5 + 0xE6546B64) & M
    h = h1 ^ 4  # fmix(h1 ^ len), len = 4 bytes
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & M
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & M
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


# (num_planes, dims, seed) → matrix, built once per worker process
# (guide §4.3) — the murmur replica is pure Python, ~1k calls per
# build. Bounded by functools.lru_cache, as sources/tables.py bounds
# its schema cache: a long-lived worker serving many dimensionalities
# would otherwise keep every matrix it ever built.
PLANE_MATRIX_CACHE_ENTRIES = 32


@functools.lru_cache(maxsize=PLANE_MATRIX_CACHE_ENTRIES)
def _plane_matrix(num_planes: int, dims: int, seed: int):
    """The (num_planes × dims) hyperplane component matrix, each entry
    exactly ``hash(seed, plane, j) / 2^31`` as the in-expression form
    computes it (F.hash seeds murmur3 at 42 and folds the three ints
    left to right)."""
    import numpy as np

    out = np.empty((num_planes, dims), dtype=np.float64)
    for p in range(num_planes):
        hp = _murmur3_int32(p, _murmur3_int32(seed, 42))
        for j in range(dims):
            out[p, j] = _murmur3_int32(j, hp) / 2147483648.0
    return out


def hyperplane_projections(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    num_planes: int = 16,
    seed: int = 42,
) -> DataFrame:
    """(id, v, proj array<double>) — the raw hyperplane projections the
    sign-bit buckets derive from. Exposed separately so multi-probe can
    rank bit flips by |projection| (margin): a projection near zero
    means that sign bit is unreliable, making its flipped bucket the
    best next probe. Plane components derive from hash(seed, plane,
    dim-index) — symmetric pseudo-random in [-1, 1), still adapting to
    whatever dimensionality each row has (no dims probe, no driver
    matrix, no broadcast).

    Round 13 (guide §4): the normalization + 16 projections used to be
    17 ``aggregate``/``transform`` higher-order folds per row —
    CodegenFallback, so every element of every plane paid the
    expression interpreter (~100 µs/row measured at 64 dims; the
    dominant cost of every banded-index build/append and per-query LSH
    banding). They are now ONE Arrow kernel over the raw (cast-only)
    vector: the plane matrix is the bit-exact murmur3 replica above
    (``_plane_matrix``, locked against F.hash), norm and projections
    fold via ``np.cumsum`` — sequential left-to-right addition, the
    exact summation order of the old folds — and the per-element
    multiplies/divides are the same IEEE-double ops, so the normalized
    vector, every projection, sign bit, bucket, and pinned histogram
    downstream are bit-identical (locked by
    tests/test_dedup.py::test_hyperplane_projection_kernel_bit_identical),
    up to the sign of a zero: the expression form's fold starts from
    +0.0 (0.0 + p₁) while ``np.cumsum`` starts at p₁, so a projection
    whose products are all −0.0 is −0.0 here and +0.0 there, which the
    lock test's ``==`` cannot tell apart. That needs every product to be
    zero — a zero plane component wherever the vector is non-zero, or a
    zero vector against an all-negative plane — and has not been seen;
    downstream reads only ``>= 0`` (sign bits) and ``abs`` (multi-probe
    margins), which treat ±0.0 alike. The UDF's input is a bare cast
    (no lambda in its child), so Python-UDF extraction works in every consumer, including the
    1-row query-banding probe. NULL semantics reproduced exactly: a
    NULL vector yields NULL v and all-NULL projections; any NULL
    element yields an all-NULL v of the same length and all-NULL
    projections; an empty vector passes through with projections at
    the 0.0 fold seed; a zero-norm vector passes through unscaled."""
    import pandas as pd

    from crawler_spark.functions import vector as V

    @F.pandas_udf("struct<v: array<double>, proj: array<double>>")
    def _norm_proj_kernel(vs: pd.Series) -> pd.DataFrame:
        import numpy as np

        n = len(vs)
        v_out: list = [None] * n
        p_out: list = [None] * n
        by_d: dict[int, list[int]] = {}
        vals = list(vs)
        for i, v in enumerate(vals):
            if v is None:
                p_out[i] = [None] * num_planes
            elif len(v) == 0:
                v_out[i] = []
                p_out[i] = [0.0] * num_planes
            elif any(e is None for e in v):
                v_out[i] = [None] * len(v)
                p_out[i] = [None] * num_planes
            else:
                by_d.setdefault(len(v), []).append(i)
        for d, idxs in by_d.items():
            M = _plane_matrix(num_planes, d, seed)
            # bound the (rows × planes × dims) cumsum intermediate to
            # ~16 MB regardless of batch size or dimensionality (guide
            # §5 — executor memory; chunking across ROWS cannot change
            # any per-row result)
            chunk = max(1, 2_000_000 // max(1, num_planes * d))
            for lo in range(0, len(idxs), chunk):
                part = idxs[lo:lo + chunk]
                mat = np.asarray([vals[i] for i in part],
                                 dtype=np.float64)
                # ||v||: sequential sum of squares (cumsum ≡ the old
                # fold), zero-norm passthrough exactly as l2_normalize
                nrm = np.sqrt(np.cumsum(mat * mat, axis=1)[:, -1])
                zero = nrm == 0.0
                denom = np.where(zero, 1.0, nrm)[:, None]
                vn = np.where(zero[:, None], mat, mat / denom)
                prod = vn[:, None, :] * M[None, :, :]
                proj = np.cumsum(prod, axis=2)[:, :, -1]
                for k, i in enumerate(part):
                    v_out[i] = vn[k].tolist()
                    p_out[i] = proj[k].tolist()
        return pd.DataFrame({"v": v_out, "proj": p_out})

    raw = df.select(long_id(df, id_col).alias("id"),
                    V.to_double_array(vec_col).alias("r"))
    return raw.select("id", _norm_proj_kernel("r").alias("s")).select(
        "id", F.col("s.v").alias("v"), F.col("s.proj").alias("proj"))


def hyperplane_bands(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    num_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """(id, v, band, bucket) rows: random-hyperplane sign bits grouped
    into ``bands`` integer buckets, one output row per (vector, band).

    Plane components derive from hash(seed, plane, dim-index) —
    symmetric pseudo-random entries in [-1, 1) computed INSIDE the
    expression, so the plan needs no dims probe (no eager ``first()``
    job at build time), no numpy matrix, no broadcast, and adapts to
    whatever dimensionality each row has. Shared by the pair search
    (embedding_lsh_pairs) and the top-k query search (knn_topk_lsh) —
    both sides of a lookup MUST use identical (num_planes, bands,
    seed) for buckets to align."""
    assert num_planes % bands == 0, (
        "num_planes must divide evenly into bands — leftover planes "
        "would be projected then silently dropped from every bucket")
    rows_per_band = num_planes // bands
    proj = hyperplane_projections(df, vec_col, id_col, num_planes, seed)
    sig = proj.select(
        "id", "v",
        *[(F.element_at("proj", i + 1) >= 0).cast("int").alias(f"b{i}")
          for i in range(num_planes)],
    )
    return sig.select(
        "id", "v",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                sum(
                    F.col(f"b{b * rows_per_band + r}") * (1 << r)
                    for r in range(rows_per_band)
                ).alias("bucket"),
            )
            for b in range(bands)
        ])).alias("bb"),
    ).select("id", "v", "bb.band", "bb.bucket")


def embedding_lsh_pairs(
    df: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine near-dup pairs: random-hyperplane sign bits →
    band buckets → exact cosine re-rank inside buckets only.

    The scale path for simsearch_cosine_pairs: the full pair space is
    never touched. Shuffle is ONE groupBy on (band, bucket); inside
    each bucket a vectorized BLAS product (applyInPandas) emits only
    the above-threshold pairs — candidates never materialize as rows,
    so there is no candidate join and no post-hoc distinct over them.
    A pair found by several bands is deduped by a final groupBy over
    the (tiny) surviving pair set. Recall depends on threshold vs
    num_planes/bands (sign-bit agreement falls with angle).

    The hyperplanes are derived per-component from hash(seed, plane,
    dim-index) — symmetric pseudo-random entries in [-1, 1) computed
    INSIDE the expression, so the plan needs no dims probe (no eager
    ``first()`` job at build time), no numpy matrix, no broadcast, and
    adapts to whatever dimensionality each row has.

    Skew note: a bucket of near-identical vectors concentrates in one
    group; its COMPUTE is quadratic in bucket size, but peak memory is
    bounded: the similarity product runs in 1024-row tiles (tile×|bucket|
    floats at a time), never the full |bucket|² gram — at the default
    16-planes/4-bands geometry a band has only 2^4 buckets, so an
    untiled gram would be (n/16)² and OOM a worker on ~10⁶ rows of
    DEFAULT-CONFIG input, not just on adversarial skew. Raise
    num_planes for large corpora (selectivity) and salt oversized
    buckets with an extra plane (skew).
    """
    import numpy as np
    import pandas as pd

    thr = float(threshold)
    # NULL vectors are excluded up front: they band into the NULL
    # bucket of every band, and ≥2 of them reach bucket_pairs where
    # np.stack on a [None, ...] batch degrades to a 1-D object array
    # and the nonzero unpack raises at RUNTIME, aborting the whole job
    # (review-found). A vector-less row has no similarity semantics
    # here — same contract as the MinHash path's shingle-less docs.
    banded = hyperplane_bands(
        df.filter(F.col(vec_col).isNotNull()),
        vec_col, id_col, num_planes, bands, seed)
    _TILE = 1024

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": np.array([], dtype=np.int64),
                              "id_b": np.array([], dtype=np.int64),
                              "cosine": np.array([], dtype=np.float64)})
        if len(pdf) < 2:
            return empty
        chunks = []
        # group by dimensionality: hyperplane_bands adapts per row, so
        # a bucket CAN mix dims — cosine across different dims is
        # undefined and a ragged np.stack crashes; pairs are emitted
        # within equal-dim groups only
        for _, sub in pdf.groupby(pdf["v"].map(len), sort=True):
            n = len(sub)
            if n < 2:
                continue
            ids = sub["id"].to_numpy()
            mat = np.stack(sub["v"]).astype(np.float64, copy=False)
            for s0 in range(0, n, _TILE):
                block = mat[s0:s0 + _TILE]
                sims = block @ mat.T  # tile×n, never n×n
                ii, jj = np.nonzero(sims >= thr)
                gi = ii + s0
                keep = jj > gi  # strict upper triangle in global indices
                if not keep.any():
                    continue
                gi, jj2 = gi[keep], jj[keep]
                ida, idb = ids[gi], ids[jj2]
                lo, hi = np.minimum(ida, idb), np.maximum(ida, idb)
                chunks.append(pd.DataFrame(
                    {"id_a": lo, "id_b": hi, "cosine": sims[ii[keep], jj2]}))
        return pd.concat(chunks, ignore_index=True) if chunks else empty

    pairs = banded.groupBy("band", "bucket").applyInPandas(
        bucket_pairs, schema="id_a long, id_b long, cosine double"
    )
    # dedupe pairs found by several bands (cosine identical per pair)
    return pairs.groupBy("id_a", "id_b").agg(F.max("cosine").alias("cosine"))


# Edge-count gate for the driver-side small-graph fast path shared by
# canonical_closure and connected_components_star: at or below this
# many (two-column) edge rows the component labels are computed with a
# single union-find on the driver instead of the iterative distributed
# loop. 100k edge rows is a few MB collected — the same size class the
# engine already ships driver-ward for a broadcast side — while a
# corpus-scale dup graph (millions+ edges) takes the distributed loop
# exactly as before. The labels are identical by construction (union
# by minimum root ≡ min-label fixed point), locked by
# tests/test_dedup.py::test_small_graph_fast_path_matches_distributed.
SMALL_GRAPH_EDGE_LIMIT = 100_000


def _driver_component_labels(edges: DataFrame) -> DataFrame:
    """Union-find (path compression + union-by-minimum) over a BOUNDED
    collected edge list — the small-graph fast path. Attaching the
    larger root under the smaller makes every root its component's
    minimum, so ``find`` yields exactly the min-label fixed point the
    distributed loops converge to. Returns (id, lbl) for every node
    that occurs in some edge; duplicate and symmetric edge rows are
    harmless (union is idempotent). The measured row count is the
    caller's responsibility (SMALL_GRAPH_EDGE_LIMIT)."""
    from pyspark.sql.types import StructField, StructType

    spark = edges.sparkSession
    u_type = edges.schema[0].dataType
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for row in edges.collect():
        u, v = row[0], row[1]
        if u is None or v is None:
            continue
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    out = [(n, find(n)) for n in parent]
    schema = StructType([
        StructField("id", u_type, True), StructField("lbl", u_type, True),
    ])
    return spark.createDataFrame(out, schema)


def canonical_closure(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str,
    max_iterations: int = 50,
    small_graph_limit: int | None = None,
) -> DataFrame:
    """Full transitive closure: every id maps to the MINIMUM id of its
    connected component in the near-dup pair graph — the complete
    union-find, not the 1-hop approximation below.

    Iterative min-label propagation ACCELERATED with a pointer-jump
    (path-halving) step: each round every node takes the min of its own
    label and its neighbors' labels (the propagate step), then
    additionally adopts the CURRENT label of the node its new label
    points at (the jump step — labels are always node ids inside the
    same component, so the lookup never leaves the component and the
    value only decreases toward the component minimum). Propagation
    alone moves a component's minimum one hop per round — O(diameter)
    rounds; the jump shortcuts along already-discovered label paths and
    roughly halves the remaining distance, the classic union-find
    path-halving trade (measured on the sf0.1 semantic dup graph:
    17 rounds → 8, identical labels — round-12 optimization, guide
    §1.2: fix the distributed algorithm's round structure first).
    Same fixed point either way: labels decrease monotonically within
    the component and stop exactly at the component minimum.

    Per-round ``localCheckpoint`` truncates lineage so the plan stays
    flat; the convergence flag is computed IN the same plan (a ``chg``
    column comparing new to old label), so the per-round driver sync is
    a trivial limit-1 scan of the just-checkpointed frame instead of a
    separate join job (round-12: the old join-per-round convergence
    check re-shuffled both label frames every round).

    The iteration runs over the NEAR-DUP SUBGRAPH only — nodes that
    appear in no pair are singleton components by definition and join
    back (label = own id) after convergence. At corpus scale the dup
    subgraph is orders of magnitude smaller than the corpus, so each
    round shuffles O(edges) instead of O(all ids).

    When the measured edge count is at or below ``small_graph_limit``
    the loop is skipped entirely for a driver-side union-find over the
    collected (bounded) edge list — identical labels, one job instead
    of a scheduler round-trip per stretch (round 13; see
    ``SMALL_GRAPH_EDGE_LIMIT``). Pass ``small_graph_limit=0`` to force
    the distributed path (tests do, to prove label equality)."""
    edges_fwd = pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    edges = (
        edges_fwd.unionByName(
            edges_fwd.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).localCheckpoint(eager=False)
    )
    # the count below materializes the lazy checkpoint, executing the
    # (possibly heavy) upstream pair generation ONCE at the ambient
    # parallelism; everything after reads the checkpointed two-column
    # edge frame
    n_edges = edges.count()
    if small_graph_limit is None:
        small_graph_limit = SMALL_GRAPH_EDGE_LIMIT
    if n_edges <= small_graph_limit:
        # small-graph fast path (round 13, guide §1/§5): the measured
        # dup subgraph fits the driver comfortably, and the iterative
        # loop's per-round sync jobs (checkpoint + changed-scan, ~6-10
        # scheduler round-trips even on a 3-round graph) dominate its
        # actual work — one bounded collect + a driver union-find
        # replaces the whole loop with identical labels
        labels = _driver_component_labels(edges)
    else:
        labels = _closure_distributed(edges, max_iterations)
    # singletons (no edges) rejoin with their own id as the label
    return (
        all_ids.select(F.col(id_col).alias("id"))
        .join(labels, "id", "left")
        .select("id", F.coalesce("lbl", F.col("id")).alias("canonical_id"))
    )


def _closure_distributed(edges: DataFrame, max_iterations: int) -> DataFrame:
    """The distributed min-label-propagation loop of
    ``canonical_closure`` (see its docstring) — the path taken when the
    measured edge count exceeds ``small_graph_limit``. Returns the
    (id, lbl) label frame over edge-touched nodes."""
    # seed labels with the 1-hop minimum (saves a full propagation
    # round) over ONLY the nodes that occur in some edge
    labels = (
        edges.groupBy(F.col("u").alias("id"))
        .agg(F.min("v").alias("nb_min"))
        .select("id", F.least("id", "nb_min").alias("lbl"))
        .localCheckpoint(eager=True)
    )
    # the ROUND loop below shuffles only the two-long-column
    # label/edge frames, so size its partitions to the measured edge
    # count (guide §2 scale-adaptive); min aggregations keep labels
    # identical at any partition count.
    from crawler_spark.session import loop_conf

    spark = edges.sparkSession
    converged = False
    # shrunk-regime decision + conf scope centralized in
    # session.loop_conf (see its docstring for the regime rationale;
    # a concurrent scope on the same session raises)
    with loop_conf(spark, edges.count()) as (_loop_parts, shrunk):

        def one_round(lbls: DataFrame) -> DataFrame:
            # lbls: (id, lbl, old) — old is the stretch-start label,
            # carried through so the convergence flag needs no extra
            # join at materialization time.
            # propagate: min over own + neighbor labels
            nb_min = (
                edges.join(lbls, edges.v == lbls.id)
                .groupBy("u")
                .agg(F.min("lbl").alias("nbm"))
            )
            stepped = (
                lbls.join(nb_min, lbls.id == nb_min.u, "left")
                .select(
                    lbls.id.alias("id"),
                    F.col("old").alias("old"),
                    F.least("lbl", F.coalesce("nbm", "lbl")).alias("mid"),
                )
            )
            # jump: adopt the current label OF the node the new label
            # names (mid is a node id in the same component; its label
            # is ≤ mid)
            hop = lbls.select(
                F.col("id").alias("mid_id"), F.col("lbl").alias("mid_lbl")
            )
            return stepped.join(hop, stepped.mid == hop.mid_id, "left").select(
                "id", "old",
                F.least("mid", F.coalesce("mid_lbl", "mid")).alias("lbl"),
            )

        # a SHRUNK loop composes 2 rounds lazily per materialization:
        # the sync (checkpoint + changed-scan) dominates a tiny round,
        # and the worst case is one extra all-no-op stretch before
        # convergence is detected — labels are already at the fixed
        # point, so the extra lazy rounds change nothing. Full-scale
        # loops keep stretch 1: there an extra round is a real shuffle
        # pass, and the sync is amortized by genuine work.
        stretch = 2 if shrunk else 1
        rounds_run = 0
        while rounds_run < max_iterations:
            steps = min(stretch, max_iterations - rounds_run)
            new = labels.select("id", "lbl", F.col("lbl").alias("old"))
            for _ in range(steps):
                new = one_round(new)
            rounds_run += steps
            new_labels = (
                new.select(
                    "id", "lbl", (F.col("lbl") != F.col("old")).alias("chg")
                )
                .localCheckpoint(eager=True)
            )
            changed = new_labels.filter("chg").limit(1).count()
            labels = new_labels.select("id", "lbl")
            if changed == 0:
                converged = True
                break
    if not converged:
        # exhausting the rounds without convergence means a component
        # of diameter > max_iterations: the partial labels SPLIT that
        # component (wrong canonical ids, duplicates kept) — fail loud
        # rather than silently under-merge (review-found); long-chain
        # graphs should use connected_components_star (O(log d) rounds)
        raise RuntimeError(
            f"canonical_closure: min-label propagation did not converge "
            f"within max_iterations={max_iterations}; the near-dup graph "
            f"has a component of diameter > {max_iterations}. Raise "
            f"max_iterations or use connected_components_star."
        )
    return labels


def connected_components_star(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str,
    max_iterations: int = 25,
    small_graph_limit: int | None = None,
) -> DataFrame:
    """Connected components by the alternating large-star / small-star
    algorithm (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC 2014) — the named upgrade over ``canonical_closure``'s
    min-label propagation for graphs with long chains.

    Min-label propagation moves a component's minimum one hop per
    round, so a duplicate CHAIN of length d (doc A ≈ B ≈ C ≈ …, each
    adjacent pair near-dup but the ends unrelated — common for serially
    edited boilerplate) costs O(d) shuffle rounds. The star operations
    rewire the graph itself toward its fixed point — a union of stars
    centered at each component's minimum — and converge in O(log d)
    rounds:

    * large-star(u): every neighbor LARGER than u re-links to
      m = min(Γ(u) ∪ {u}) — strictly-larger nodes hop toward the
      minimum without ever creating an edge between two large nodes;
    * small-star(u): u and its SMALLER neighbors all re-link to
      m = min(Γ_small(u) ∪ {u}) — flattening the small side into a
      star.

    Both are one groupBy (per-node min) + one equi-join + distinct —
    everything shuffles on node id, no driver-side graph state, and the
    edge multiset provably never grows (distinct keeps it a set).
    Convergence is detected by an order-independent (count, hash-sum)
    signature of the edge set — one tiny aggregate per round.
    Intermediate edges are kept in the larger→smaller orientation,
    which is exactly the form small-star consumes and large-star's
    output produces, so no re-orientation pass is needed between the
    two. Per-round ``localCheckpoint`` truncates lineage.

    Output schema matches ``canonical_closure``: (id, canonical_id)
    over ALL ids, singletons labeled with themselves. Same contract,
    same tests — a drop-in replacement whose round count is logarithmic
    where it matters.
    """
    base = pairs.select(
        F.greatest("id_a", "id_b").alias("u"), F.least("id_a", "id_b").alias("v")
    ).filter(F.col("u") != F.col("v"))
    edges = base.distinct().localCheckpoint(eager=True)

    # same small-graph fast path as canonical_closure (round 13): a
    # sub-limit dup graph resolves with one driver union-find instead
    # of O(log d) star rounds of ~3 jobs each — identical labels (the
    # star fixed point IS every node pointing at its component min)
    if small_graph_limit is None:
        small_graph_limit = SMALL_GRAPH_EDGE_LIMIT
    if edges.count() <= small_graph_limit:
        labels = _driver_component_labels(edges)
        return (
            all_ids.select(F.col(id_col).alias("id"))
            .join(labels, "id", "left")
            .select(
                "id",
                F.least(F.col("id"), F.coalesce("lbl", F.col("id"))).alias(
                    "canonical_id"
                ),
            )
        )

    def signature(ed: DataFrame) -> tuple:
        # XOR fold: order-independent over the (distinct) edge set and,
        # unlike SUM, cannot overflow under ANSI mode
        row = ed.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).first()
        return (row["n"], row["h"])

    # same round-12 loop regime as canonical_closure: star rounds
    # shuffle only the two-long-column edge set, so size the loop to
    # the measured edge count, and a shrunk loop drops AQE + codegen
    # (per-round throwaway plans over tiny frames). The XOR-signature
    # convergence check is partitioning-independent, and every star
    # operation is a min/distinct — labels are identical at any
    # partition count.
    from crawler_spark.session import loop_conf

    spark = pairs.sparkSession
    converged = False
    sig = signature(edges)
    with loop_conf(spark, edges.count()):
        for _round in range(max_iterations):
            # large-star: symmetric view; larger neighbors re-link to
            # the min
            sym = edges.unionByName(
                edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
            lmin = sym.groupBy("u").agg(
                F.least(F.col("u"), F.min("v")).alias("m")
            )
            large = (
                sym.join(lmin, "u")
                .filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .distinct()
            )
            # small-star: u and its smaller neighbors all re-link to
            # their min
            smin = large.groupBy("u").agg(F.min("v").alias("m"))
            small = (
                smin.select("u", F.col("m").alias("v"))
                .unionByName(
                    large.join(smin, "u")
                    .filter(F.col("v") != F.col("m"))
                    .select(F.col("v").alias("u"), F.col("m").alias("v"))
                )
                .distinct()
                .localCheckpoint(eager=True)
            )
            edges = small
            new_sig = signature(edges)
            if new_sig == sig:
                converged = True
                break
            sig = new_sig
    if not converged:
        # log-round convergence makes this effectively unreachable at
        # the default 25, but the same silent-split hazard as
        # canonical_closure applies if it ever trips — fail loud
        raise RuntimeError(
            f"connected_components_star: edge set did not reach its "
            f"fixed point within max_iterations={max_iterations}."
        )
    # fixed point = stars: every non-root points at its component min
    labels = edges.groupBy(F.col("u").alias("id")).agg(F.min("v").alias("lbl"))
    return (
        all_ids.select(F.col(id_col).alias("id"))
        .join(labels, "id", "left")
        .select(
            "id",
            F.least(F.col("id"), F.coalesce("lbl", F.col("id"))).alias(
                "canonical_id"
            ),
        )
    )


def dedup_repeated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 50,
) -> DataFrame:
    """Corpus-level repeated-span removal (C4's three-sentence rule /
    RefinedWeb exact-substring dedup, rewritten over token windows):
    partition every document into non-overlapping ``span_tokens``-word
    spans, keep the FIRST corpus-wide occurrence of each span (ordered
    by (id, span index) — deterministic on any cluster), drop later
    occurrences, and reassemble the surviving spans per document.

    Unlike ``decontaminate``/``contaminated_spans`` (which flag or
    locate overlap against a separate eval set), this is corpus
    SELF-dedup that rewrites the text — the boilerplate-killer step
    (repeated headers, licence blocks, templated paragraphs) that
    document-level near-dup cannot express.

    Returns (id_col, text_clean, n_spans, n_removed).

    Scale shape: three shuffles, all keyed fine-grained —
      * first-occurrence selection is a ``groupBy(span)`` struct-min
        (NOT a row_number window: the hottest span is by premise the
        boilerplate block repeated across a huge share of documents,
        and because every span row needs a kept/dropped VERDICT — not
        a survivors-only filter — no rank-filter pushdown exists, so
        a window would buffer the entire hot span class in one
        WindowExec task; the groupBy's partial aggregation collapses
        it to one row per map partition — the dedup_exact skew story
        at span granularity). Keys are the span STRING itself, not a
        64-bit hash: a hash collision here would delete a unique
        span, the unsafe direction for a destructive rewrite, and the
        span text must travel to the reassembly anyway;
      * the null-safe join-back distributing each class's winner to
        its rows — the probe side stays skewed on the hot span, but
        AQE skew-join splits oversized partitions, a mitigation
        windows never get;
      * reassembly shuffles on the doc id (high-card, uniform).
    The per-doc state is one (idx, kept, span) struct per span —
    bounded by document length, never corpus-global.
    """
    w = int(span_tokens)
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    # explode(array(toks)) is a Generate barrier: `ts` becomes a plain
    # attribute, so the chunking lambda's slice indexes a materialized
    # array instead of re-running split per span position (the
    # CollapseProject O(len²) inlining trap — see functions/text.py
    # word_shingles).
    tokd = df.select(F.col(id_col), F.explode(F.array(toks)).alias("ts"))
    n_spans = (
        F.greatest(F.ceil(F.size("ts") / F.lit(w)), F.lit(1)).cast("int")
    )
    spans = tokd.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_spans - 1),
                lambda i: F.slice(F.col("ts"), i * w + 1, w),
            )
        ).alias("span_idx", "span_toks"),
    ).select(
        id_col, "span_idx", F.array_join("span_toks", " ").alias("span")
    )
    firsts = spans.groupBy("span").agg(
        F.min(F.struct(F.col(id_col), F.col("span_idx"))).alias("fo")
    )
    marked = (
        spans.alias("s")
        .join(firsts.alias("f"),
              F.col("s.span").eqNullSafe(F.col("f.span")))
        .select(
            F.col(f"s.{id_col}").alias(id_col),
            F.col("s.span_idx").alias("span_idx"),
            F.col("s.span").alias("span"),
            # eqNullSafe on the id: with a plain ==, a NULL doc id
            # winning the struct-min makes `kept` NULL for EVERY row
            # of the class, F.filter treats NULL as false, and the
            # whole span class — first occurrence included — is
            # silently deleted corpus-wide with n_removed = 0
            # (review-found, destructive direction)
            (F.col(f"s.{id_col}").eqNullSafe(F.col(f"f.fo.{id_col}"))
             & (F.col("s.span_idx") == F.col("f.fo.span_idx")))
            .alias("kept"),
        )
    )
    assembled = F.array_join(
        F.transform(
            F.filter(
                F.array_sort(
                    F.collect_list(F.struct("span_idx", "kept", "span"))
                ),
                lambda s: s["kept"],
            ),
            lambda s: s["span"],
        ),
        " ",
    )
    return marked.groupBy(id_col).agg(
        assembled.alias("text_clean"),
        F.count(F.lit(1)).alias("n_spans"),
        F.count(F.when(~F.col("kept"), 1)).alias("n_removed"),
    )
