"""Vector operator queries (SURVEY.md §2.8): k-NN top-k, distance
filters, normalize/pad invariants, exact cosine near-dup pairs.

The query vector is produced by the deterministic StubEmbedder at
import time and embedded as a literal in BOTH the Spark plan and the
oracle SQL — float literals round-trip exactly through repr(), so the
two engines compute over bit-identical inputs. Outputs are rounded to
6 decimals (ordering/filters always use the unrounded value plus an
id tie-break).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawler_spark.functions import vector as V
from crawler_spark.functions.embedding import DEFAULT_DIMS, StubEmbedder, normalize_pad
from crawler_spark.operators.similarity import cosine_pairs_exact, knn_topk
from crawler_spark.plans.oracle_pins import pin_kwargs as _PINS_KW
from crawler_spark.plans.registry import register
from crawler_spark.session import scratch_dir

_EMB = StubEmbedder(DEFAULT_DIMS)
QUERY_TEXT = "fast hash join merge"
QUERY_VEC = normalize_pad(_EMB.embed_text(QUERY_TEXT), DEFAULT_DIMS)
_QV_SQL = "[" + ", ".join(repr(x) for x in QUERY_VEC) + "]::DOUBLE[]"

# normalized stored vector, as SQL (zero-norm guard matches V.l2_normalize)
_NORM_V_SQL = """
    CASE WHEN sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) = 0
         THEN embedding::DOUBLE[]
         ELSE list_transform(embedding::DOUBLE[],
                  x -> x / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])))
    END
"""


# --- O3+V1: exact top-k by negative-inner-product distance ----------------
@register(
    "o3_knn_topk",
    oracle=f"""
        SELECT vec_id, round(distance, 6) AS distance FROM (
            SELECT vec_id,
                   -list_dot_product({_NORM_V_SQL}, {_QV_SQL}) AS distance
            FROM embeddings
        ) ORDER BY distance, vec_id LIMIT 5
    """,
)
def o3_knn_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawler_spark.sources import load_table

    top = knn_topk(load_table(spark, sf_dir, "embeddings"), QUERY_VEC, k=5)
    return top.select("vec_id", F.round("distance", 6).alias("distance"))


# --- O3 batch serving: many queries, one corpus pass ----------------------
_BATCH_TEXTS = ["fast hash join merge", "broadcast nested loop",
                "stream watermark late data"]
_BATCH_VECS = [
    normalize_pad(_EMB.embed_text(t), DEFAULT_DIMS) for t in _BATCH_TEXTS
]
_BATCH_VALUES_SQL = ", ".join(
    f"({i}, [" + ", ".join(repr(x) for x in v) + "]::DOUBLE[])"
    for i, v in enumerate(_BATCH_VECS)
)


@register(
    "knn_topk_batch",
    oracle=f"""
        WITH q(query_id, qv) AS (VALUES {_BATCH_VALUES_SQL}),
        d AS (
            SELECT query_id, vec_id,
                   -list_dot_product({_NORM_V_SQL}, qv) AS distance
            FROM embeddings CROSS JOIN q
        )
        SELECT query_id, vec_id, round(distance, 6) AS distance
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY distance, vec_id) AS rn
            FROM d
        )
        WHERE rn <= 5
        ORDER BY query_id, distance, vec_id
    """,
)
def knn_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched k-NN serving: Q queries answered in ONE corpus pass —
    the shape a search tier actually runs (amortizes the scan across
    the query batch instead of Q single-query scans).

    Scale shape: the Q-row query frame broadcasts into a cross join
    (corpus ×Q rows, Q is the batch size — bounded fan-out), and the
    per-query top-k is a row_number window WHOSE rn<=k FILTER Spark
    rewrites into WindowGroupLimit: each input partition keeps only
    its local top-k per query BEFORE the shuffle, so the exchange
    carries k·partitions·Q rows, never the corpus (plan-locked in
    tests/test_plan_shapes.py). Same result as Q knn_topk calls;
    distances round to 6 with vec_id tie-break, as the whole family
    does."""
    from crawler_spark.sources import load_table

    queries = spark.createDataFrame(
        list(enumerate(_BATCH_VECS)), "query_id long, qv array<double>"
    )
    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.crossJoin(F.broadcast(queries)).select(
        "query_id", "vec_id",
        V.neg_dot(V.l2_normalize("embedding"), F.col("qv")).alias("distance"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy("distance", "vec_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "vec_id", F.round("distance", 6).alias("distance"))
        .orderBy("query_id", "distance", "vec_id")
    )


# seeded-deterministic, partition-independent — sf0.01
# REGRESSION pin (tools/pin_oracles.py); was: rows-only: batched probe of the IVF index
@register("knn_topk_batch_ivf", **_PINS_KW("knn_topk_batch_ivf"))
def knn_topk_batch_ivf_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch×index serving: the Q-query batch probes the IVF inverted
    lists in one partition-pruned pass (operators/similarity.py
    knn_topk_batch_ivf) — reads the union of probed lists instead of
    Q corpus scans or one corpus×Q cross join; per-query top-k via the
    WindowGroupLimit rewrite exactly like the exact batch. Serves from
    the same cached index as knn_topk_ivf."""
    from crawler_spark.operators.similarity import knn_topk_batch_ivf

    path, cents = _ensure_ivf_index(spark, sf_dir)
    return (
        knn_topk_batch_ivf(spark, path, cents, _BATCH_VECS, k=5, nprobe=6)
        .select("query_id", "vec_id",
                F.round("distance", 6).alias("distance"))
    )


# --- O3 scale path: LSH-pruned approximate top-k --------------------------
# seeded-deterministic, partition-independent — sf0.01
# REGRESSION pin (tools/pin_oracles.py); was: rows-only: approximate (band-bucket pruned) top-k
@register("o3_knn_topk_lsh", **_PINS_KW("o3_knn_topk_lsh"))
def o3_knn_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB path for POST /search: hyperplane band buckets prune
    the scan before the exact distance re-rank (recall measured against
    the exact knn in tests/test_vector_functions.py)."""
    from crawler_spark.operators.similarity import knn_topk_lsh
    from crawler_spark.sources import load_table

    top = knn_topk_lsh(load_table(spark, sf_dir, "embeddings"), QUERY_VEC, k=5)
    return top.select("vec_id", F.round("distance", 6).alias("distance"))


# --- O3 scale path: int8-quantized first pass + exact re-rank -------------
# seeded-deterministic, partition-independent — sf0.01
# REGRESSION pin (tools/pin_oracles.py); was: rows-only: SQ8 approximate top-k
@register("o3_knn_topk_sq8", **_PINS_KW("o3_knn_topk_sq8"))
def o3_knn_topk_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IO-bound 100 TB path: the first-pass scan reads int8 vectors
    (4x less storage bandwidth than f32), exact re-rank only on the
    top k*rerank_factor candidates (tests pin top-k equality with the
    exact path on the testdata)."""
    from crawler_spark.operators.similarity import knn_topk_sq8
    from crawler_spark.sources import load_table

    top = knn_topk_sq8(load_table(spark, sf_dir, "embeddings"), QUERY_VEC, k=5)
    return top.select("vec_id", F.round("distance", 6).alias("distance"))


# --- O3 serving shape: precomputed banded index + partition-pruned probe --
def _ensure_ann_index(spark: SparkSession, sf_dir: str) -> str:
    """The banded ANN index over ``sf_dir``'s embeddings, built once per
    process."""
    from crawler_spark.operators.similarity import build_banded_index
    from crawler_spark.sources import load_table

    def build(path: str) -> None:
        build_banded_index(load_table(spark, sf_dir, "embeddings"), path)

    return scratch_dir("ann_banded_", key=sf_dir, populate=build)


@register(
    "knn_index_build",
    # seeded hyperplane banding: deterministic, no independent closed
    # form — REGRESSION pin of the (band, bucket) histogram at sf0.01
    # (tools/pin_oracles.py); recall floors live in tests/test_vector
    **_PINS_KW("knn_index_build"),
)
def knn_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build (or rebuild) the hyperplane-banded ANN index — the ONE-OFF
    cost the per-query path amortizes at 100 TB. Returns per-partition
    row counts so the bucket distribution is inspectable (skewed buckets
    → raise num_planes or salt)."""
    from crawler_spark.operators.similarity import build_banded_index
    from crawler_spark.sources import load_table

    # a fresh build, so the query prices the build, not the process's index
    path = scratch_dir("ann_banded_")
    build_banded_index(load_table(spark, sf_dir, "embeddings"), path)
    return (
        spark.read.parquet(path)
        .groupBy("band", "bucket").count()
        .orderBy("band", "bucket")
    )


# seeded-deterministic, partition-independent — sf0.01
# REGRESSION pin (tools/pin_oracles.py); was: rows-only: query-time serving path
@register("knn_probe_precomputed", **_PINS_KW("knn_probe_precomputed"))
def knn_probe_precomputed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actual 100 TB serving shape for POST /search: partition-pruned
    bucket probe of the precomputed index + exact re-rank — no per-query
    banding of the table (contrast o3_knn_topk_lsh, which bands the
    whole table per query; results are identical for matching knobs)."""
    from crawler_spark.operators.similarity import knn_topk_precomputed

    path = _ensure_ann_index(spark, sf_dir)
    top = knn_topk_precomputed(spark, path, QUERY_VEC, k=5)
    return top.select("vec_id", F.round("distance", 6).alias("distance"))


# --- O3 alternative scale path: IVF (coarse-quantizer inverted lists) -----
_IVF_CENTROIDS: dict[str, list[list[float]]] = {}


def _ensure_ivf_centroids(
    spark: SparkSession, sf_dir: str
) -> list[list[float]]:
    """Train JUST the k-means coarse quantizer for ``sf_dir`` —
    deterministic (seeded sample), once per process. Split from
    ``_ensure_ivf_index`` because the centroid-only consumers
    (``dedup_semantic``'s cluster assignment) shouldn't pay for the
    inverted-list parquet build they never read."""
    from crawler_spark.operators.similarity import train_ivf_centroids
    from crawler_spark.sources import load_table

    if sf_dir not in _IVF_CENTROIDS:
        _IVF_CENTROIDS[sf_dir] = train_ivf_centroids(
            load_table(spark, sf_dir, "embeddings"), n_centroids=16)
    return _IVF_CENTROIDS[sf_dir]


def _ensure_ivf_index(
    spark: SparkSession, sf_dir: str, payload_cols: tuple[str, ...] = ()
) -> tuple[str, list[list[float]]]:
    """The IVF index over ``sf_dir``'s embeddings (with ``payload_cols``
    stored beside each vector), built once per process."""
    from crawler_spark.operators.similarity import build_ivf_index
    from crawler_spark.sources import load_table

    # the shared quantizer: all payload variants index against the SAME
    # centroids (trained once, cached), so lists are comparable across
    # variants and the train cost is paid exactly once per sf_dir
    centroids = _ensure_ivf_centroids(spark, sf_dir)

    def build(path: str) -> None:
        build_ivf_index(load_table(spark, sf_dir, "embeddings"), path,
                        centroids, payload_cols=list(payload_cols))

    path = scratch_dir("ann_ivf_", key=(sf_dir, payload_cols), populate=build)
    return path, centroids


# seeded-deterministic, partition-independent — sf0.01
# REGRESSION pin (tools/pin_oracles.py); was: rows-only: IVF coarse-quantizer ANN (vs LSH banding)
@register("knn_topk_ivf", **_PINS_KW("knn_topk_ivf"))
def knn_topk_ivf_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF flavor of the ANN scale path: k-means coarse quantizer
    (trained on a bounded deterministic sample), inverted lists as
    partition directories, query probes the nprobe nearest lists only.
    Complements the hyperplane-LSH path — IVF adapts to the data's
    cluster structure where LSH is data-oblivious."""
    from crawler_spark.operators.similarity import knn_topk_ivf

    path, centroids = _ensure_ivf_index(spark, sf_dir)
    top = knn_topk_ivf(spark, path, centroids, QUERY_VEC, k=5, nprobe=4)
    return top.select("vec_id", F.round("distance", 6).alias("distance"))


# pinnable since the Lloyd steps moved to DECIMAL(38,18)-exact sums
# (operators/similarity.py refine_centroids): the refined centroids —
# and the argmax assignments and probe results downstream — are
# bit-reproducible on any partitioning, so a cross-session VALUES pin
# can no longer flake on partial-sum order; probe equality vs the
# sample-trained index is additionally covered in tests
@register("knn_topk_ivf_refined", **_PINS_KW("knn_topk_ivf_refined"))
def knn_topk_ivf_refined_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with the full-corpus refinement pass: sample-seeded
    centroids (the bounded-driver recipe) refined by distributed Lloyd
    iterations (operators/similarity.py refine_centroids — one
    k-row-output groupBy per iteration, corpus never leaves the
    executors). The scale path when a 10k sample under-represents a
    100 TB distribution; same serving plan as knn_topk_ivf."""
    import shutil

    from crawler_spark.operators.similarity import (
        build_ivf_index,
        knn_topk_ivf,
        refine_centroids,
        train_ivf_centroids,
    )
    from crawler_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    seeded = train_ivf_centroids(emb, n_centroids=16)
    refined = refine_centroids(emb, seeded, iters=2)
    path = scratch_dir("ivf_refined_")
    try:
        build_ivf_index(emb, path, refined)
        top = knn_topk_ivf(spark, path, refined, QUERY_VEC, k=5, nprobe=4)
        out = top.select("vec_id", F.round("distance", 6).alias("distance"))
        out = spark.createDataFrame(out.collect(), out.schema)  # outlive path
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return out


# --- O3+P: filtered vector search (predicate + top-k) ---------------------
@register(
    "o3_knn_filtered",
    oracle=f"""
        SELECT vec_id, round(distance, 6) AS distance FROM (
            SELECT vec_id,
                   -list_dot_product({_NORM_V_SQL}, {_QV_SQL}) AS distance
            FROM embeddings WHERE label = 3
        ) ORDER BY distance, vec_id LIMIT 5
    """,
)
def o3_knn_filtered_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search, PRE-FILTER arm (the exact-recall path a
    selective predicate dispatches to — operators/similarity.py
    choose_filtered_strategy): predicate pushed to the parquet scan,
    exact top-k over the survivors. Every vector store's
    metadata-filter + ANN combination; reference search.py:77-99 only
    ever filters by distance threshold, so the metadata predicate is
    part of the engine extension surface."""
    from crawler_spark.operators.similarity import knn_topk_filtered
    from crawler_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    top = knn_topk_filtered(emb, QUERY_VEC, "label = 3", k=5)
    return top.select("vec_id", F.round("distance", 6).alias("distance"))


# seeded-deterministic, partition-independent — sf0.01
# REGRESSION pin (tools/pin_oracles.py); was: rows-only: IVF post-filter dispatch arm
@register("o3_knn_filtered_ivf", **_PINS_KW("o3_knn_filtered_ivf"))
def o3_knn_filtered_ivf_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search, POST-FILTER arm: the ~10%-selectivity
    label predicate exceeds the pre-filter threshold, so the dispatcher
    probes the payload-carrying IVF index (nprobe lists, directory-
    pruned, cached across queries like the unfiltered probe) and
    evaluates the predicate inside the probed lists before the top-k —
    reads nprobe/C of the corpus instead of 10% of it, the winning
    trade at 100 TB."""
    from crawler_spark.operators.similarity import knn_topk_filtered
    from crawler_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    path, cents = _ensure_ivf_index(spark, sf_dir, payload_cols=("label",))
    top = knn_topk_filtered(
        emb, QUERY_VEC, "label = 3", k=5,
        index_path=path, centroids=cents, nprobe=6)
    return top.select("vec_id", F.round("distance", 6).alias("distance"))


# --- P3+V1: vector-distance range predicate (db.py:82) --------------------
@register(
    "p3_distance_filter",
    oracle=f"""
        SELECT vec_id, round(distance, 6) AS distance FROM (
            SELECT vec_id,
                   -list_dot_product({_NORM_V_SQL}, {_QV_SQL}) AS distance
            FROM embeddings
        ) WHERE distance <= -0.2
    """,
)
def p3_distance_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawler_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    dist = V.neg_dot(V.l2_normalize("embedding"), V.vector_lit(QUERY_VEC))
    return (
        emb.select("vec_id", dist.alias("distance"))
        .filter(F.col("distance") <= -0.2)
        .select("vec_id", F.round("distance", 6).alias("distance"))
    )


# --- V2: L2 normalize invariant -------------------------------------------
@register(
    "v2_l2_normalize",
    oracle="""
        SELECT vec_id,
               round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6)
                   AS raw_norm,
               round(CASE WHEN sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) = 0
                          THEN embedding[1]::DOUBLE
                          ELSE embedding[1]::DOUBLE /
                               sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                     END, 6) AS first_elem_normalized
        FROM embeddings
    """,
)
def v2_l2_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawler_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.round(V.l2_norm("embedding"), 6).alias("raw_norm"),
        F.round(F.element_at(V.l2_normalize("embedding"), 1), 6)
        .alias("first_elem_normalized"),
    )


# --- V3/V4: truncate-or-pad invariant -------------------------------------
@register(
    "v3_truncate_or_pad",
    oracle="""
        WITH v AS (
            SELECT vec_id, embedding::DOUBLE[] AS e,
                   CASE WHEN len(embedding) >= 128 THEN (embedding::DOUBLE[])[1:128]
                        ELSE list_concat(embedding::DOUBLE[],
                                 list_transform(generate_series(1, 128 - len(embedding)),
                                                x -> 0.0))
                   END AS padded,
                   (embedding::DOUBLE[])[1:16] AS trunc
            FROM embeddings
        )
        SELECT vec_id,
               len(padded) AS padded_len,
               round(list_sum(padded), 6) AS checksum,
               len(trunc) AS truncated_len,
               round(list_sum(trunc), 6) AS trunc_checksum
        FROM v
    """,
)
def v3_truncate_or_pad(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawler_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")

    def checksum(col: F.Column) -> F.Column:
        return F.round(
            F.aggregate(col, F.lit(0.0).cast("double"), lambda a, x: a + x), 6
        )

    padded = V.truncate_or_pad("embedding", 128)
    trunc = V.truncate_or_pad("embedding", 16)
    return emb.select(
        "vec_id",
        F.size(padded).alias("padded_len"),
        checksum(padded).alias("checksum"),
        F.size(trunc).alias("truncated_len"),
        checksum(trunc).alias("trunc_checksum"),
    )


# --- near-dup pairs by exact cosine (correctness baseline for ANN) --------
@register(
    "simsearch_cosine_pairs",
    oracle=f"""
        WITH n AS (
            SELECT vec_id, {_NORM_V_SQL} AS v FROM embeddings
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_dot_product(a.v, b.v), 6) AS cosine
        FROM n a JOIN n b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.v, b.v) >= 0.35
    """,
)
def simsearch_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawler_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = cosine_pairs_exact(emb, threshold=0.35)
    return pairs.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


# --- k-NN per label group (top-k within partition, windowed) --------------
@register(
    "knn_topk_per_label",
    oracle=f"""
        SELECT label, vec_id, round(distance, 6) AS distance FROM (
            SELECT label, vec_id, distance,
                   row_number() OVER (PARTITION BY label
                                      ORDER BY distance, vec_id) AS rn
            FROM (
                SELECT label, vec_id,
                       -list_dot_product({_NORM_V_SQL}, {_QV_SQL}) AS distance
                FROM embeddings
            )
        ) WHERE rn <= 3
    """,
)
def knn_topk_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from crawler_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    dist = V.neg_dot(V.l2_normalize("embedding"), V.vector_lit(QUERY_VEC))
    w = Window.partitionBy("label").orderBy(F.col("distance").asc(), F.col("vec_id").asc())
    return (
        emb.select("label", "vec_id", dist.alias("distance"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("label", "vec_id", F.round("distance", 6).alias("distance"))
    )


@register(
    "dedup_semantic",
    # deterministic (seeded k-means centroids, exact cosine, ordered
    # closure) but with no closed form: REGRESSION pin at sf0.01
    # (tools/pin_oracles.py); recall vs exact all-pairs is the test
    # suite's floor, the pin catches silent drift
    **_PINS_KW("dedup_semantic"),
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup over the embeddings table: the
    shared IVF centroids cluster the space, exact cosine runs within
    clusters only, and the canonical closure turns surviving pairs into
    a keep list. Reuses the cached IVF quantizer — the cluster
    assignment that serves ANN probes is the same one that scopes
    dedup, as in a real corpus pipeline. Recall vs the exact all-pairs
    baseline is measured in tests/test_dedup.py."""
    from crawler_spark.operators.similarity import semantic_dedup_keep
    from crawler_spark.sources import load_table

    centroids = _ensure_ivf_centroids(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    keep = semantic_dedup_keep(emb, centroids, threshold=0.35)
    return keep.select(
        F.col("id").alias("vec_id"), "canonical_id", "keep"
    ).orderBy("vec_id")


# --- O3 scale path: product quantization (ADC) + exact re-rank ------------
_PQ_CODEBOOKS: dict[str, list[list[list[float]]]] = {}


def _pq_codebooks(spark: SparkSession, sf_dir: str) -> list[list[list[float]]]:
    """The 8-subspace, 32-code PQ codebooks for ``sf_dir``'s embeddings,
    trained once per process (seeded, deterministic)."""
    from crawler_spark.operators.similarity import train_pq_codebooks
    from crawler_spark.sources import load_table

    if sf_dir not in _PQ_CODEBOOKS:
        _PQ_CODEBOOKS[sf_dir] = train_pq_codebooks(
            load_table(spark, sf_dir, "embeddings"), n_subspaces=8, n_codes=32)
    return _PQ_CODEBOOKS[sf_dir]


# seeded-deterministic, partition-independent — sf0.01
# REGRESSION pin (tools/pin_oracles.py); was: rows-only: PQ/ADC approximate top-k
@register("o3_knn_topk_pq", **_PINS_KW("o3_knn_topk_pq"))
def o3_knn_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bandwidth-extreme ANN path (Jégou et al. TPAMI 2011): 8
    subspace codebooks compress each 64-dim f32 vector to 8 code ids
    (32× smaller than the float column, vs SQ8's 4×); the query builds
    an 8×32 lookup table driver-side and scoring is 8 constant-folded
    array lookups per row — whole-stage codegen, codes-only scan.
    Exact re-rank on the ADC survivors; tests pin recall@5 against
    the exact path. The synthetic embeddings are near-uniform (PQ's
    worst case), hence 32 codes and a generous re-rank here; clustered
    real embeddings hit the same recall with less. Compose with the
    IVF coarse quantizer for IVFPQ at full scale."""
    from crawler_spark.operators.similarity import knn_topk_pq
    from crawler_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    top = knn_topk_pq(emb, _pq_codebooks(spark, sf_dir), QUERY_VEC, k=5,
                      rerank_factor=20)
    return top.select("vec_id", F.round("distance", 6).alias("distance"))


# --- JL random projection (embedding compression) -------------------------
# Hyperparameters shared with tools/pin_oracles.py (a retune here must
# flow into a regenerated pin, not silently diverge — same rule as the
# BPE constants)
_JL_OUT_DIMS = 16
_JL_SEED = 42
@register(
    "embed_random_projection",
    # the seeded Gaussian matrix is not SQL, but it IS reproducible:
    # VALUES pin at sf0.01 derived INDEPENDENTLY (same rng recipe +
    # one numpy dgemm over the raw parquet — tools/pin_oracles.py),
    # so the Arrow-batched distributed projection is what's verified
    **_PINS_KW("embed_random_projection"),
)
def embed_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compress 64-dim embeddings to 16 dims through a seeded JL
    projection (operators/similarity.py random_projection) — the
    pre-ANN compression step. Output is scalar-only for the driver
    hash (array columns break its canonicalizer): projected norm and
    first two coordinates, rounded. JL distance preservation itself
    is pinned by tests/test_vector_functions.py."""
    from crawler_spark.operators.similarity import random_projection
    from crawler_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    proj = random_projection(emb, out_dims=_JL_OUT_DIMS, seed=_JL_SEED)
    norm = F.sqrt(F.aggregate(
        "projected", F.lit(0.0).cast("double"), lambda a, x: a + x * x))
    return proj.select(
        "vec_id",
        F.lit(16).alias("proj_dim"),
        F.round(norm, 6).alias("proj_norm"),
        F.round(F.element_at("projected", 1), 6).alias("proj_x0"),
        F.round(F.element_at("projected", 2), 6).alias("proj_x1"),
    )


# --- O3 composed scale path: IVF partition pruning × PQ codes-only scan ---
# seeded-deterministic, partition-independent — sf0.01
# REGRESSION pin (tools/pin_oracles.py); was: rows-only: composed ANN (IVF lists + PQ/ADC)
@register("knn_topk_ivfpq", **_PINS_KW("knn_topk_ivfpq"))
def knn_topk_ivfpq_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ: the coarse quantizer prunes the scan to nprobe inverted
    lists (directory pruning), ADC prunes candidates within them with
    a codes-only pass, exact re-rank last. The multiplicative pruning
    (~nprobe/C of rows × ~m bytes/vector) is THE billion-vector
    serving shape; recall vs exact pinned in tests."""
    from crawler_spark.operators.similarity import knn_topk_ivfpq

    path, centroids = _ensure_ivf_index(spark, sf_dir)
    top = knn_topk_ivfpq(
        spark, path, centroids, _pq_codebooks(spark, sf_dir), QUERY_VEC,
        k=5, nprobe=8, rerank_factor=20,
    )
    return top.select("vec_id", F.round("distance", 6).alias("distance"))


# --- ANN index incremental maintenance ------------------------------------
@register(
    "knn_index_append",
    # deterministic seeded probe endpoint: REGRESSION pin at sf0.01
    # (tools/pin_oracles.py) — a silently broken append (stale files,
    # wrong banding) stops returning the appended vector at -1
    **_PINS_KW("knn_index_append"),
)
def knn_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous-crawl index story end-to-end: build the banded
    index, append a new batch banded with the SAME hyperplanes (cost
    O(batch), no rebuild — operators/similarity.py
    append_banded_index), probe and see old+new together. The appended
    vector is the query itself, so the probe returning it at distance
    -1 proves the appended files are live. The base index comes from
    ``_ensure_ann_index`` (the build ``knn_index_build`` prices, made
    once per process) and is FILE-COPIED to a fresh scratch dir each
    run — repeated driver runs stay idempotent without re-paying the
    build job."""
    import shutil

    from crawler_spark.operators.similarity import (
        append_banded_index,
        knn_topk_precomputed,
    )

    path = scratch_dir("ann_append_")
    shutil.copytree(_ensure_ann_index(spark, sf_dir), path, dirs_exist_ok=True)
    new = spark.createDataFrame(
        [(1_000_000, [float(x) for x in QUERY_VEC])],
        "vec_id long, embedding array<double>",
    )
    append_banded_index(new, path)
    top = knn_topk_precomputed(spark, path, QUERY_VEC, k=5)
    return top.select("vec_id", F.round("distance", 6).alias("distance"))


# --- IVFPQ materialized serving index (build + probe split) ---------------
def _ensure_ivfpq_index(spark: SparkSession, sf_dir: str):
    """The IVFPQ index over ``sf_dir``'s embeddings with its centroids
    and codebooks, built once per process."""
    from crawler_spark.operators.similarity import build_ivfpq_index
    from crawler_spark.sources import load_table

    centroids = _ensure_ivf_centroids(spark, sf_dir)
    books = _pq_codebooks(spark, sf_dir)

    def build(path: str) -> None:
        build_ivfpq_index(
            load_table(spark, sf_dir, "embeddings"), path, centroids, books)

    pq_path = scratch_dir("ann_ivfpq_", key=sf_dir, populate=build)
    return pq_path, centroids, books


@register(
    "ivfpq_index_build",
    # seeded k-means lists: deterministic, no independent closed form
    # — REGRESSION pin of the list-size histogram at sf0.01
    # (tools/pin_oracles.py)
    **_PINS_KW("ivfpq_index_build"),
)
def ivfpq_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the materialized IVFPQ index (operators/similarity.py
    build_ivfpq_index) and report per-list row counts — the inverted-
    list size distribution is the knob check (empty/huge lists → bad
    centroids). One-off cost the probe amortizes, exactly like
    `knn_index_build` for the banded family."""
    from crawler_spark.operators.similarity import build_ivfpq_index
    from crawler_spark.sources import load_table

    # a fresh build, so the query prices the build, not the process's index
    pq_path = scratch_dir("ann_ivfpq_")
    build_ivfpq_index(load_table(spark, sf_dir, "embeddings"), pq_path,
                      _ensure_ivf_centroids(spark, sf_dir),
                      _pq_codebooks(spark, sf_dir))
    back = spark.read.parquet(pq_path)
    return (
        back.groupBy("list_id").agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("list_id")
    )


# seeded-deterministic, partition-independent — sf0.01
# REGRESSION pin (tools/pin_oracles.py); was: rows-only: codes-only ADC probe + re-rank join
@register("knn_probe_ivfpq", **_PINS_KW("knn_probe_ivfpq"))
def knn_probe_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve top-k from the materialized IVFPQ index: directory-pruned
    nprobe read, ADC over the stored CODES column (float column pruned
    out of the first-pass scan — plan-locked), id-keyed exact re-rank
    join for the survivors only."""
    from crawler_spark.operators.similarity import knn_topk_ivfpq_indexed

    pq_path, centroids, books = _ensure_ivfpq_index(spark, sf_dir)
    top = knn_topk_ivfpq_indexed(
        spark, pq_path, centroids, books, QUERY_VEC,
        k=5, nprobe=8, rerank_factor=20,
    )
    return top.select("vec_id", F.round("distance", 6).alias("distance"))


# --- embedding-space decontamination (semantic eval overlap) --------------
_SEMDECON_EVAL_MOD = 37
_SEMDECON_THRESHOLD = 0.95


@register(
    "decontam_semantic",
    oracle=f"""
        WITH ev AS (
            SELECT {_NORM_V_SQL} AS evec FROM embeddings
            WHERE vec_id % {_SEMDECON_EVAL_MOD} = 0
        ),
        corpus AS (
            SELECT vec_id, {_NORM_V_SQL} AS cvec FROM embeddings
            WHERE vec_id % {_SEMDECON_EVAL_MOD} <> 0
        ),
        m AS (
            SELECT c.vec_id, max(list_dot_product(cvec, evec)) AS mc
            FROM corpus c CROSS JOIN ev GROUP BY c.vec_id
        )
        SELECT vec_id, round(mc, 6) AS max_eval_cos,
               mc >= {_SEMDECON_THRESHOLD} AS contaminated
        FROM m
    """,
)
def decontam_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space train/eval decontamination — the semantic
    complement to the n-gram family (`decontaminate_eval_overlap`,
    `decontam_exact_spans`): paraphrased benchmark items share no
    13-gram but sit next to the eval point in embedding space, so
    contamination audits also flag training docs whose max cosine
    against ANY eval embedding crosses a threshold. Eval membership
    here is a deterministic id slice standing in for a benchmark
    suite.

    Scale shape: the eval side is SMALL BY NATURE (benchmark suites —
    thousands of rows), so broadcasting it is the correct plan — the
    opposite call from `cosine_pairs_exact`, where both sides are
    corpus-sized and broadcasting was the round-2 scale bug. One
    corpus pass, per-row max over the broadcast side, one map-side-
    combined agg. For eval sets too big to broadcast, prune candidates
    with the banded-LSH index first (`knn_probe_precomputed`) and
    exact-check survivors only — same two-tier shape as the dedup
    family."""
    from crawler_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    ev = emb.filter(F.col("vec_id") % _SEMDECON_EVAL_MOD == 0).select(
        V.l2_normalize("embedding").alias("evec"))
    corpus = emb.filter(F.col("vec_id") % _SEMDECON_EVAL_MOD != 0).select(
        "vec_id", V.l2_normalize("embedding").alias("cvec"))
    pairs = corpus.crossJoin(F.broadcast(ev)).select(
        "vec_id", V.dot("cvec", F.col("evec")).alias("cos"))
    return (
        pairs.groupBy("vec_id")
        .agg(F.max("cos").alias("mc"))
        .select(
            "vec_id",
            F.round("mc", 6).alias("max_eval_cos"),
            (F.col("mc") >= _SEMDECON_THRESHOLD).alias("contaminated"),
        )
    )


# --- ANN recall diagnostic: every approximate tier vs the exact answer ----
@register(
    "diag_ann_recall",
    # the tiers are seeded-deterministic, so the scorecard pins as a
    # REGRESSION oracle at sf0.01 (tools/pin_oracles.py): a tier's
    # recall drifting is now a driver FAILURE, not just a visible row
    **_PINS_KW("diag_ann_recall"),
)
def diag_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible recall@k scorecard for the ANN tiers against the
    exact top-k — the measurement behind every "approximate is good
    enough" claim in SCALING.md, surfaced as data instead of living
    only in unit tests. Each tier's candidate set is the bounded top-k
    (k rows per tier via TakeOrderedAndProject); the intersection is
    computed on those k-row lists, never corpus-side. A tier's recall
    dropping in a future round is a regression this row makes visible."""
    from crawler_spark.operators.similarity import (
        knn_topk, knn_topk_lsh, knn_topk_sq8,
    )
    from crawler_spark.sources import load_table

    from concurrent.futures import ThreadPoolExecutor

    k = 10
    emb = load_table(spark, sf_dir, "embeddings")

    plans = {
        "exact": knn_topk(emb, QUERY_VEC, k=k),
        "lsh": knn_topk_lsh(emb, QUERY_VEC, k=k),
        "sq8": knn_topk_sq8(emb, QUERY_VEC, k=k),
    }
    path, centroids = _ensure_ivf_index(spark, sf_dir)
    from crawler_spark.operators.similarity import knn_topk_ivf

    plans["ivf"] = knn_topk_ivf(spark, path, centroids, QUERY_VEC, k=k, nprobe=4)

    # the four top-k jobs are independent — submit them concurrently so
    # the scorecard costs ~max(tier) wall-clock, not the sum (each
    # collect blocks its own thread; Spark's scheduler interleaves the
    # jobs; results are per-plan, so concurrency can't affect values)
    with ThreadPoolExecutor(max_workers=len(plans)) as pool:
        ids = dict(zip(plans, pool.map(
            lambda df: {r.vec_id for r in df.collect()}, plans.values())))
    exact = ids.pop("exact")
    rows = [
        (tier, round(len(ids[tier] & exact) / k, 6), k)
        for tier in sorted(ids)
    ]
    return spark.createDataFrame(rows, "tier string, recall double, k long")


@register(
    "dedup_semantic_incremental",
    # seeded centroids have no SQL closed form — REGRESSION pin at the
    # driver's sf0.01 (tools/pin_oracles.py), same epistemics as
    # dedup_semantic; an independent numpy sequential reference pins
    # the values in tests/test_dedup.py
    **_PINS_KW("dedup_semantic_incremental"),
)
def dedup_semantic_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELF-GROWING semantic dedup — the full production ingest loop
    (the composition ``streaming_semantic_dedup_e2e`` documents): the
    embeddings table arrives in 4 deterministic waves (vec_id mod 4,
    processed in order) against an index that starts EMPTY; each wave
    probes its 2 nearest shared IVF centroids, takes exact max cosine
    against only those inverted lists of the accepted-so-far index,
    dedups the survivors among themselves with the same cluster-scoped
    closure, and APPENDS its accepted uniques into the index
    (operators/similarity.py semantic_dedup_ingest_step +
    append_ivf_index) — so wave k dedups against every acceptance from
    waves < k, exactly how a crawl pipeline accumulates its corpus.

    Scale shape: per-wave cost is O(batch × probed-list rows) + the
    C-governed intra-batch grams — never O(index); the index grows but
    every read of it stays directory-pruned to the probed lists, and
    appends are O(batch) file adds into the fixed list_id layout (the
    FAISS add vs re-train split). Earlier-arrival-wins is the
    SEMANTICS of ingest dedup; the fixed wave order is what makes this
    registrable and pinnable where a free-running stream would not be."""
    from crawler_spark.operators.similarity import semantic_dedup_ingest_step
    from crawler_spark.sources import load_table

    centroids = _ensure_ivf_centroids(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # fresh per construction: the step APPENDS — a memoized dir would
    # double-append when the same process constructs the query twice
    idx = scratch_dir("semdedup_incr_idx_")

    # the wave loop runs MANY small jobs (closure rounds, appends,
    # probe collects) whose shuffles are a handful of rows each —
    # size the shuffle to the MEASURED wave, not a constant (round-12:
    # derived from the row count per guide §2's scale-adaptive rule;
    # embedding rows are ~0.5 KB so ~100k rows ≈ a 50 MB partition).
    # Identical values at any partition count (max/min aggregations
    # only — measured hash-identical at 1/2/8 partitions)
    from crawler_spark.session import loop_shuffle_partitions, scoped_conf

    wave_parts = loop_shuffle_partitions(
        spark, emb.count() // 4, rows_per_partition=100_000)
    wave_conf = {"spark.sql.shuffle.partitions": str(wave_parts)}
    if wave_parts == 1:
        # sized-down waves: every per-wave job (normalize, probe,
        # verdict, closure round, append) is a fresh small plan —
        # whole-stage codegen compiles more than it executes
        # (measured round 12: ~16 s → ~12.7 s for the 4-wave loop,
        # hash-identical output). Production-sized waves keep it.
        wave_conf["spark.sql.codegen.wholeStage"] = "false"
    waves = []
    with scoped_conf(spark, wave_conf):
        for k in range(4):
            batch = emb.filter(F.col("vec_id") % 4 == k)
            waves.append(
                semantic_dedup_ingest_step(
                    spark, batch, idx, centroids, threshold=0.35, nprobe=2))
    out = waves[0]
    for w in waves[1:]:
        out = out.unionByName(w)
    return out.select(
        F.col("id").alias("vec_id"), "max_cos", "dup_of_corpus",
        "intra_dup", "accepted",
    ).orderBy("vec_id")
