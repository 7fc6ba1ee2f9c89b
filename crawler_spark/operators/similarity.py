"""Similarity search operators: exact k-NN and scale-path variants.

Exact top-k is a single Catalyst ``TakeOrderedAndProject`` over a
distance expression — no shuffle of the full table, each partition
keeps its local top-k and only k rows per partition reach the driver.
That is the right physical plan up to billions of rows; past that, the
IVF/LSH-bucketed variants later in this module prune candidates first.

Reference semantics: ``POST /search`` — distance = -(e . q) (pgvector
``<#>``), filter distance <= 1 - similarity_threshold, ORDER BY
distance LIMIT k (reference backend/src/db.py:78-87, search.py:77-99).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawler_spark.functions import vector as V


def knn_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    vec_col: str = "embedding",
    id_cols: Sequence[str] = ("vec_id",),
    max_distance: float | None = None,
    normalize: bool = True,
) -> DataFrame:
    """Exact top-k by negative-inner-product distance.

    ``normalize=True`` applies the ingest invariant (stored vectors are
    L2-normalized — reference tasks.py:87-88) at query time, which the
    raw testdata requires. Ties broken by the first id column so the
    result set is deterministic.
    """
    q = V.vector_lit(query_vec)
    emb = V.l2_normalize(vec_col) if normalize else V.to_double_array(vec_col)
    out = df.select(*id_cols, V.neg_dot(emb, q).alias("distance"))
    if max_distance is not None:
        out = out.filter(F.col("distance") <= F.lit(float(max_distance)))
    return _topk(out, k, id_cols)


# ------------------------------------------------ shared probe skeleton
# Every ANN probe below is prune → (approximate score →) exact re-rank:
# the pruning differs (band buckets, IVF lists, SQ8/PQ first passes),
# the tail is these helpers. Their Column calls are part of every
# probe's analyzed plan, which tools/plan_ledger.py and the plan-shape
# locks pin: change them only with the ledger in view.
def _topk(
    df: DataFrame, k: int, id_cols: Sequence[str], dist: str = "distance",
) -> DataFrame:
    """The ordered top-k: ``dist`` ascending with NULLs last (a NULL
    distance never displaces a real neighbor), ties broken by the id
    columns in order, LIMIT k — one TakeOrderedAndProject, no shuffle
    of the scored rows."""
    order = [F.col(dist).asc_nulls_last()] + [F.col(c).asc() for c in id_cols]
    return df.orderBy(*order).limit(k)


def _exact_scores(
    cand: DataFrame,
    query_vec: Sequence[float],
    id_col: str,
    src_id: str | None = None,
) -> DataFrame:
    """(id_col, distance) with the exact distance -(v · q) of a
    candidate frame carrying the normalized vector ``v``, against the
    RAW query vector — the exact path (``knn_topk``) normalizes only the
    stored side, so a normalized query would scale every distance by
    1/||q|| and shift any max_distance-style threshold. ``src_id``
    names the frame's id column when it is not ``id_col`` (the index
    layouts store it as ``id``)."""
    ident = F.col(id_col) if src_id is None else F.col(src_id).alias(id_col)
    dist = V.neg_dot(F.col("v"), V.vector_lit(query_vec))
    return cand.select(ident, dist.alias("distance"))


def _dedup_topk(
    scored: DataFrame, k: int, id_col: str, fanout: int,
) -> DataFrame:
    """Top-k over a scored frame in which an id can repeat up to
    ``fanout`` times with an IDENTICAL (distance, id) row — a candidate
    matching several probed buckets. The top k·fanout rows (one
    TakeOrderedAndProject, no shuffle of the candidate set) must hold
    ≥ k distinct ids; only those few rows are deduplicated, then cut
    to k. A dropDuplicates before the top-k would shuffle the whole
    candidate set."""
    wide = _topk(scored, k * max(fanout, 1), (id_col,))
    return _topk(wide.dropDuplicates([id_col]), k, (id_col,))


def _nearest_lists(
    centroids: Sequence[Sequence[float]],
    query_vec: Sequence[float],
    nprobe: int,
) -> list[int]:
    """Driver-side IVF list ranking: the ``nprobe`` (at least 1)
    centroids nearest the normalized query by descending dot product
    (a tiny C×d matmul)."""
    import numpy as np

    cmat = np.asarray(centroids, dtype=np.float64)
    q = np.asarray(list(map(float, query_vec)), dtype=np.float64)
    qn = q / np.linalg.norm(q) if np.linalg.norm(q) > 0 else q
    return [int(p) for p in np.argsort(-(cmat @ qn))[: max(1, nprobe)]]


def _write_partitioned(
    df: DataFrame, path: str, part_cols: Sequence[str], mode: str,
) -> None:
    """The one partitioned parquet write of the ANN index layouts
    (banded, IVF, IVFPQ — builds, appends and compaction): repartition
    by the partition columns, then ``partitionBy`` them.

    Without the repartition every input task opens a writer for every
    directory it holds rows of, one after another — measured as the
    dominant cost of a banded build at fixture scale (a file create and
    commit is ~50 ms on a local FS), and ~60% of each append's wall.
    After it each directory's rows hash to ONE task, so directories are
    written in parallel, one file per directory per write (which is
    what lets compaction coalesce a directory to one file). Probe
    results are content-stable across file layouts, so this is
    value-free.

    Skew hazard: one task per IVF list or band bucket. IVF list sizes
    follow the data (hot centroids), so at scale the largest list's
    task serializes the write. The recipe there is a salt column —
    ``repartition(*part_cols, pmod(xxhash64(id), n_salt))`` — which
    bounds the files per directory at n_salt and keeps them parallel;
    the fixtures' lists and 64 even buckets do not need it."""
    (
        df.repartition(*part_cols)
        .write.mode(mode)
        .partitionBy(*part_cols)
        .parquet(path)
    )


def knn_topk_lsh(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k by negative-inner-product distance: the LSH
    scale path for ``knn_topk``. The query's hyperplane band buckets
    (computed IN the plan from a 1-row DataFrame — no driver-side
    replication of Spark's hash) broadcast-join against the table's
    banded rows; only candidates sharing ≥1 band bucket get the exact
    distance and enter the TakeOrderedAndProject.

    At 100 TB the exact scan reads every vector; this prunes the scan
    to ~bands/2^(planes/bands) of the table (band-bucket selectivity)
    at the cost of recall — candidates can miss true neighbors whose
    every band differs. Same knobs and seed MUST match any precomputed
    banding. Recall vs the exact path is measured in tests.
    """
    from crawler_spark.operators.dedup import hyperplane_bands

    spark = df.sparkSession
    qdf = spark.createDataFrame([(0, list(map(float, query_vec)))],
                                f"qid long, {vec_col} array<double>")
    q_bands = hyperplane_bands(qdf, vec_col, "qid", num_planes, bands, seed)
    q_keys = q_bands.select("band", "bucket")  # ≤ bands rows

    banded = hyperplane_bands(df, vec_col, id_col, num_planes, bands, seed)
    candidates = banded.join(F.broadcast(q_keys), ["band", "bucket"]).select(
        "id", "v")
    # a candidate matching m ≤ bands buckets appears m times
    scored = _exact_scores(candidates, query_vec, id_col, src_id="id")
    return _dedup_topk(scored, k, id_col, bands)


def build_banded_index(
    df: DataFrame,
    index_path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
) -> None:
    """Materialize the hyperplane-banded table ONCE, partitioned by
    (band, bucket) — the 100 TB serving shape for ANN top-k. Query-time
    work (``knn_topk_precomputed``) is then a partition-pruned probe of
    ≤ ``bands`` directories plus an exact re-rank of the candidates,
    instead of re-banding the whole table per query the way
    ``knn_topk_lsh`` does. Partition count = bands · 2^(planes/bands)
    (4·16 = 64 with the defaults) — coarse enough that files stay large,
    selective enough that a probe touches ~1/16th of the data per band.

    The index MUST be probed with the same (num_planes, bands, seed).
    Written by ``_write_partitioned`` (one file per bucket)."""
    from crawler_spark.operators.dedup import hyperplane_bands

    banded = hyperplane_bands(df, vec_col, id_col, num_planes, bands, seed)
    _write_partitioned(banded, index_path, ("band", "bucket"), "overwrite")


def knn_topk_precomputed(
    spark,
    index_path: str,
    query_vec: Sequence[float],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
    multiprobe: int = 0,
) -> DataFrame:
    """Approximate top-k against a ``build_banded_index`` table: compute
    the query's hyperplane projections (a 1-row job using the SAME
    expression-derived hyperplanes as the index), derive its ≤ ``bands``
    (band, bucket) keys, probe ONLY those partitions (literal equality
    on the partition columns → directory-level pruning at file
    listing), then exact re-rank against the raw query vector.
    Identical results to ``knn_topk_lsh`` with matching knobs; the
    per-query banding of the full table is gone.

    ``multiprobe`` = extra buckets probed beyond the query's own: the
    ``multiprobe`` sign bits with the SMALLEST |projection| (the
    query's least reliable bits — a projection near zero flips with
    the smallest perturbation) are flipped one at a time, each adding
    its band's neighboring bucket. Recall rises monotonically with
    ``multiprobe`` at a linear cost in partitions read — the standard
    multi-probe LSH trade (Lv et al., VLDB'07)."""
    import functools
    import operator

    from crawler_spark.operators.dedup import hyperplane_projections

    qdf = spark.createDataFrame(
        [(0, list(map(float, query_vec)))], f"qid long, {vec_col} array<double>"
    )
    proj = (
        hyperplane_projections(qdf, vec_col, "qid", num_planes, seed)
        .select("proj")
        .collect()[0][0]
    )
    rpb = num_planes // bands
    base = {
        b: sum((1 if proj[b * rpb + r] >= 0 else 0) << r for r in range(rpb))
        for b in range(bands)
    }
    keys = {(b, bucket) for b, bucket in base.items()}
    if multiprobe > 0:
        flips = sorted(
            (abs(proj[b * rpb + r]), b, r)
            for b in range(bands)
            for r in range(rpb)
        )[: int(multiprobe)]
        keys |= {(b, base[b] ^ (1 << r)) for _, b, r in flips}
    cond = functools.reduce(
        operator.or_,
        [(F.col("band") == b) & (F.col("bucket") == v) for b, v in sorted(keys)],
    )
    candidates = spark.read.parquet(index_path).filter(cond)
    # a candidate matching m ≤ len(keys) probed buckets appears m times
    scored = _exact_scores(candidates, query_vec, id_col, src_id="id")
    return _dedup_topk(scored, k, id_col, len(keys))


def _bounded_hash_sample(
    df: DataFrame, vec_col: str, id_col: str, max_sample: int,
):
    """Deterministic bounded training sample, shared by the IVF and PQ
    trainers: survivors chosen by an xxhash64(id) fraction, truncated
    by ORDERED (hash, id) rank — an ``orderBy().limit()`` that compiles
    to TakeOrdered (per-partition top-n + driver merge, never a global
    sort shuffle) — and returned sorted by id. Every step is a pure
    function of the DATA, so the positional kmeans++ RNG picks
    reference the same physical rows on any cluster size, partitioning,
    or input-split layout. (Review-found: the former bare
    ``.limit().collect()`` returned rows in input-split order, so a
    different split layout silently trained different centroids while
    the docstring claimed invariance — shuffle-partition-only tests
    could never catch it.)"""
    from crawler_spark.operators.dedup import long_id

    n = df.count()
    frac_denom = 1_000_000
    keep = min(frac_denom, max(1, int(frac_denom * max_sample / max(n, 1))))
    rows = (
        df.select(long_id(df, id_col).alias("id"),
                  V.l2_normalize(vec_col).alias("v"))
        .filter(F.pmod(F.xxhash64("id"), F.lit(frac_denom)) < keep)
        .orderBy(F.xxhash64("id").asc(), F.col("id").asc())
        .limit(max_sample)
        .collect()
    )
    return sorted(rows, key=lambda r: r.id)


def _kmeanspp_seed(x, k: int, rng):
    """Shared kmeans++ seeding (Arthur & Vassilvitskii, SODA 2007) over
    a driver-side sample matrix: squared-L2 D² weighting, positional
    picks from ``rng`` — deterministic given (x row order, seed)."""
    import numpy as np

    cents = [x[rng.integers(len(x))]]
    for _ in range(1, min(k, len(x))):
        d2 = np.min([np.sum((x - c) ** 2, axis=1) for c in cents], axis=0)
        probs = d2 / d2.sum() if d2.sum() > 0 else None
        cents.append(x[rng.choice(len(x), p=probs)])
    return np.stack(cents)


def train_ivf_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    max_sample: int = 10_000,
    iters: int = 10,
    seed: int = 42,
) -> list[list[float]]:
    """Coarse quantizer for the IVF ANN path: k-means (Lloyd) over a
    BOUNDED deterministic hash-sample of the normalized vectors.

    The sample — not the table — comes to the driver (``max_sample``
    rows hard cap; see ``_bounded_hash_sample`` for why selection AND
    order are pure functions of the data, which is what makes "the
    same rows train the same centroids on any cluster size or
    partitioning" actually true). Training a coarse quantizer on a
    sample is the standard IVF recipe (FAISS trains on ~30-256 points
    per centroid); the full table never leaves the executors."""
    import numpy as np

    sample = _bounded_hash_sample(df, vec_col, id_col, max_sample)
    x = np.stack([r.v for r in sample]).astype(np.float64)
    rng = np.random.default_rng(seed)
    c = _kmeanspp_seed(x, n_centroids, rng)
    for _ in range(iters):
        assign = np.argmax(x @ c.T, axis=1)  # unit vectors: max dot = min angle
        for j in range(len(c)):
            members = x[assign == j]
            if len(members):
                m = members.mean(axis=0)
                nrm = np.linalg.norm(m)
                if nrm > 0:
                    c[j] = m / nrm
    return [list(map(float, row)) for row in c]


def nearest_centroid_udf(centroids: Sequence[Sequence[float]]):
    """Arrow-batched nearest-centroid assignment (max dot product on
    normalized vectors): one (batch × dims) @ (dims × C) product per
    batch — a C-way codegen branch would compile wide and run slower.
    Broadcast of the centroid matrix is a few KB."""
    import numpy as np
    import pandas as pd

    cmat = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf("int")
    def _nearest(vs: pd.Series) -> pd.Series:
        mat = np.stack(vs).astype(np.float64, copy=False)
        return pd.Series(np.argmax(mat @ cmat.T, axis=1).astype(np.int32))

    return _nearest


def top_centroids_udf(centroids: Sequence[Sequence[float]], n: int):
    """Arrow-batched top-``n`` centroid assignment (descending dot
    product on normalized vectors) — the multi-assign/multi-probe form
    of ``nearest_centroid_udf``, shared by SemDeDup's boundary-recall
    multi-assignment and the streaming semantic-dedup probe."""
    import numpy as np

    cmat = np.asarray(centroids, dtype=np.float64)
    n_top = max(1, min(int(n), len(cmat)))

    @F.pandas_udf("array<int>")
    def _top(vs: pd.Series) -> pd.Series:
        mat = np.stack(vs).astype(np.float64, copy=False)
        order = np.argsort(-(mat @ cmat.T), axis=1)[:, :n_top].astype(np.int32)
        return pd.Series(list(order))

    return _top


def refine_centroids(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    vec_col: str = "embedding",
    iters: int = 2,
) -> list[list[float]]:
    """Distributed Lloyd refinement of a coarse quantizer over the FULL
    corpus — the scale path past sample-only training: seed with
    ``train_centroids`` (bounded driver sample), then refine where the
    sample may under-represent the distribution at 100 TB. Each
    iteration is one executor-side assignment (the Arrow-batched
    nearest-centroid matmul) plus ONE groupBy shuffle whose output is
    exactly ``n_centroids`` rows of per-dimension sums — the corpus
    never moves to the driver, only k×(dims+1) numbers do. The
    per-dimension sums stay JVM-side with map-side combine (dims is
    small and fixed), so no per-row Python runs outside the assignment
    matmul. Empty clusters keep their previous centroid, matching the
    driver-side trainer.

    The per-dimension reductions sum DECIMAL(38,18) casts, not raw
    doubles (operators/graph.py ``_exact_sum`` convention): decimal
    addition is exact and associative, so the refined centroids — and
    everything downstream of them (list assignments, probe results,
    the knn_topk_ivf_refined pinned oracle) — are bit-reproducible on
    any partitioning and cluster size. Components are ≤ 1 in
    magnitude (unit vectors), so 20 integer digits can never
    overflow; the 1e-18 truncation per term is the deterministic
    price."""
    import numpy as np

    dims = len(centroids[0])
    cur = [list(map(float, c)) for c in centroids]
    norm = df.select(V.l2_normalize(vec_col).alias("v"))
    for _ in range(iters):
        assigned = norm.withColumn("list_id", nearest_centroid_udf(cur)("v"))
        rows = assigned.groupBy("list_id").agg(
            *[F.sum(F.col("v")[i].cast("decimal(38,18)")).cast("double")
              .alias(f"s{i}") for i in range(dims)],
            F.count(F.lit(1)).alias("n"),
        ).collect()  # ≤ n_centroids rows by construction
        nxt = [list(c) for c in cur]
        for r in rows:
            m = np.asarray([r[f"s{i}"] for i in range(dims)],
                           dtype=np.float64) / r["n"]
            nrm = float(np.linalg.norm(m))
            if nrm > 0:
                nxt[r["list_id"]] = [float(x) for x in m / nrm]
        cur = nxt
    return cur


def build_ivf_index(
    df: DataFrame,
    index_path: str,
    centroids: Sequence[Sequence[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    payload_cols: Sequence[str] = (),
) -> None:
    """Assign every vector to its nearest centroid and write the table
    partitioned by ``list_id`` — FAISS's inverted lists as parquet
    directories. ``payload_cols`` are metadata columns carried INTO the
    index verbatim so filtered probes (``knn_topk_ivf`` with a
    ``predicate``) can evaluate them on the pruned lists without a join
    back to the base table — the inline-payload layout every filtered
    vector store uses."""
    from crawler_spark.operators.dedup import long_id

    norm = df.select(
        long_id(df, id_col).alias("id"), V.l2_normalize(vec_col).alias("v"),
        *payload_cols,
    )
    lists = norm.withColumn("list_id", nearest_centroid_udf(centroids)("v"))
    _write_partitioned(lists, index_path, ("list_id",), "overwrite")


def _probe_filter(
    centroids: Sequence[Sequence[float]],
    query_vec: Sequence[float],
    nprobe: int,
) -> F.Column:
    """Driver-side IVF probe selection, shared by every list-probing
    reader (single-query IVF, IVFPQ in-plan, IVFPQ indexed): rank
    centroids against the normalized query (a tiny C×d matmul) and
    return the partition-pruning predicate for the ``nprobe`` nearest
    lists — an IN on the partition column, directory-level pruning at
    file listing, same physics as the ==-chain it replaces."""
    return F.col("list_id").isin(_nearest_lists(centroids, query_vec, nprobe))


def knn_topk_ivf(
    spark,
    index_path: str,
    centroids: Sequence[Sequence[float]],
    query_vec: Sequence[float],
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    predicate=None,
) -> DataFrame:
    """IVF probe: rank centroids against the query DRIVER-SIDE (the
    centroid matrix is tiny), read only the ``nprobe`` nearest inverted
    lists (directory-pruned on the partition column), exact re-rank
    against the raw query. Recall rises with nprobe; nprobe = C scans
    everything and equals the exact path.

    ``predicate`` (a Column/SQL string over the index's payload
    columns) makes this the POST-FILTER arm of filtered vector search:
    the predicate is applied to every row of the probed lists BEFORE
    the top-k, so unlike overfetch-style post-filtering it loses no
    recall beyond what nprobe already concedes — candidate count never
    caps out under a selective filter. Payload predicates also push
    down into the parquet scan of the probed lists."""
    scan = spark.read.parquet(index_path).filter(
        _probe_filter(centroids, query_vec, nprobe))
    if predicate is not None:
        scan = scan.filter(predicate)
    return _topk(_exact_scores(scan, query_vec, id_col, src_id="id"),
                 k, (id_col,))


def knn_topk_batch_ivf(
    spark,
    index_path: str,
    centroids: Sequence[Sequence[float]],
    query_vecs: Sequence[Sequence[float]],
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """Batched IVF serving: Q queries answered in ONE pass over the
    UNION of their probed inverted lists — the missing cell of the
    serving matrix (single×exact `knn_topk`, batch×exact
    `knn_topk_batch`, single×index `knn_topk_ivf`). Centroid ranking
    for all Q queries is one driver-side Q×C matmul (tiny); the scan
    reads only the probed-list directories (partition-pruned by
    ``list_id``); each index row is replicated only to the queries
    that probed its list (≤ Q·nprobe/C on average, never a full
    cross join); and the per-query top-k goes through the
    row_number→WindowGroupLimit rewrite, so the shuffle carries
    k·partitions·Q rows. Distances are exact against the raw query
    vectors — recall is governed by nprobe exactly as in the
    single-query probe (nprobe = C ≡ exact, test-pinned)."""
    pairs = [
        (qid, p)
        for qid, qv in enumerate(query_vecs)
        for p in _nearest_lists(centroids, qv, nprobe)
    ]
    probe_df = spark.createDataFrame(pairs, "query_id long, list_id int")
    queries = spark.createDataFrame(
        [(i, list(map(float, v))) for i, v in enumerate(query_vecs)],
        "query_id long, qv array<double>",
    )
    lists = sorted({l for _, l in pairs})
    scan = spark.read.parquet(index_path).filter(
        F.col("list_id").isin(lists))  # partition-pruned read
    d = (
        scan.join(F.broadcast(probe_df), "list_id")
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id", F.col("id").alias(id_col),
            V.neg_dot(F.col("v"), F.col("qv")).alias("distance"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy("distance", id_col)
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", id_col, "distance")
        .orderBy("query_id", "distance", id_col)
    )


def choose_filtered_strategy(
    selectivity: float, prefilter_max_selectivity: float = 0.05
) -> str:
    """The pre-vs-post filter decision of filtered vector search, as a
    pure function so the policy is unit-testable. A SELECTIVE predicate
    (few survivors) favors PRE-filtering: scan survivors exactly —
    perfect recall, and at 100 TB the predicate pushes down to the
    parquet scan so the read is proportional to survivors, while an
    index probe would read nprobe lists mostly full of rows the filter
    discards. A BROAD predicate favors the IVF probe with the filter
    applied inside the probed lists (post-filter): reads nprobe/C of
    the corpus instead of selectivity·corpus."""
    if not 0.0 <= selectivity <= 1.0:
        raise ValueError(f"selectivity must be in [0,1], got {selectivity}")
    return ("prefilter" if selectivity <= prefilter_max_selectivity
            else "ivf_postfilter")


def knn_topk_filtered(
    df: DataFrame,
    query_vec: Sequence[float],
    predicate,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    index_path: str | None = None,
    centroids: Sequence[Sequence[float]] | None = None,
    nprobe: int = 4,
    selectivity: float | None = None,
    prefilter_max_selectivity: float = 0.05,
) -> DataFrame:
    """Filtered vector search: top-k nearest among rows satisfying
    ``predicate``, dispatched between the two physical strategies every
    vector store must choose from (see ``choose_filtered_strategy``).
    ``selectivity`` comes from catalog statistics in a real deployment;
    when absent it is estimated with one column-pruned JVM aggregate
    over the predicate column (never the vectors). Without an index the
    pre-filter exact path is used unconditionally — correct, just not
    the scale path for broad predicates."""
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    if index_path is None or centroids is None:
        strategy = "prefilter"
    else:
        if selectivity is None:
            # coalesce NULL predicate rows to False first: avg over a
            # bare cast skips NULLs, overestimating selectivity (a 90%-
            # NULL column with pred true on the rest reads as 1.0, not
            # 0.1) and misdispatching to the recall-lossy post-filter
            selectivity = float(
                df.agg(F.avg(F.coalesce(pred, F.lit(False)).cast("int")))
                .first()[0] or 0.0
            )
        strategy = choose_filtered_strategy(
            selectivity, prefilter_max_selectivity)
    if strategy == "prefilter":
        pre = df.filter(pred)
        if index_path is not None and centroids is not None:
            from crawler_spark.operators.dedup import long_id

            # both arms are dispatchable: cast the id to long to MATCH
            # the IVF arm (whose index bakes in long_id), else the
            # output schema would flip with the data-dependent
            # selectivity estimate (review-found). The index-less path
            # keeps the caller's column untouched — string ids are
            # valid there and only there.
            pre = pre.withColumn(id_col, long_id(df, id_col))
        return knn_topk(pre, query_vec, k=k, vec_col=vec_col,
                        id_cols=(id_col,))
    return knn_topk_ivf(df.sparkSession, index_path, centroids, query_vec,
                        k=k, nprobe=nprobe, id_col=id_col, predicate=pred)


# cosine_pairs_exact's default blocking: estimated input bytes per
# block, and a ceiling on the block count (B blocks are B(B+1)/2
# block-pair tasks)
COSINE_BLOCK_BYTES = 1 << 20
COSINE_MAX_BLOCKS = 64


def cosine_pairs_exact(
    df: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_blocks: int | None = None,
) -> DataFrame:
    """All pairs (a < b) with cosine similarity >= threshold — exact.

    Physical strategy: block-nested-loop matrix product. Rows hash into
    B blocks; each block is packed into ONE row (ids + matrix) by a
    groupBy; each packed block then explodes to the B pair keys
    (min(blk, partner), max(blk, partner)) it participates in, and ONE
    groupBy on the pair key brings the (at most two) blocks of each of
    the B(B+1)/2 block pairs into the same task, where a vectorized
    mapInPandas computes the BLAS product and emits only the
    above-threshold pairs. No O(n²)-row shuffle ever materializes, no
    driver collect, and nothing is broadcast — the ×B replication of
    each block (the unavoidable cost of exact all-pairs) travels
    through the executor shuffle, never through driver memory or the
    broadcast-table size ceiling. The plan is lazy (constructing it
    triggers zero Spark jobs) and every stage is distributed.

    Memory per task = two blocks (2·(n/B)·d·8 bytes) plus a chunked
    similarity tile. B defaults to the input's plan-estimated size in
    COSINE_BLOCK_BYTES units (from file sizes, no job), between 2 and
    COSINE_MAX_BLOCKS: a block stays near that size as n grows, and the
    plan is the same on any core count. ``id_col`` must be integral (fail-fast
    otherwise); hash string ids with xxhash64 first. For data too large
    even blocked, the LSH variant (operators/dedup.py) prunes
    candidates instead of touching the full pair space.
    """
    import numpy as np
    import pandas as pd

    from crawler_spark.operators.dedup import long_id

    thr = float(threshold)
    if num_blocks is None:
        from crawler_spark.session import estimated_partitions

        num_blocks = min(COSINE_MAX_BLOCKS,
                         max(2, estimated_partitions(df, COSINE_BLOCK_BYTES)))
    B = num_blocks

    norm = df.select(
        long_id(df, id_col).alias("id"), V.l2_normalize(vec_col).alias("v")
    )
    packed = (
        norm.withColumn("blk", F.pmod(F.xxhash64("id"), F.lit(B)).cast("int"))
        .groupBy("blk")
        .agg(F.collect_list(F.struct("id", "v")).alias("rows"))
        # unzip struct list into parallel arrays: Arrow hands the UDF
        # numeric numpy arrays directly (no per-row dict extraction)
        .select(
            "blk",
            F.transform("rows", lambda r: r["id"]).alias("ids"),
            F.transform("rows", lambda r: r["v"]).alias("vecs"),
        )
    )
    # Block i serves every pair key (min(i,p), max(i,p)), p ∈ [0,B) —
    # one explode (narrow) + one shuffle on the pair key. sort_array
    # orders the two sides by blk, so sides[0] is the ka block.
    block_pairs = (
        packed.select(
            "blk", "ids", "vecs",
            F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("p"),
        )
        .select(
            F.least("blk", "p").alias("ka"),
            F.greatest("blk", "p").alias("kb"),
            F.struct("blk", "ids", "vecs").alias("side"),
        )
        .groupBy("ka", "kb")
        .agg(F.sort_array(F.collect_list("side")).alias("sides"))
    )

    def product(batches):
        for pdf in batches:
            for ka, kb, sides in zip(pdf["ka"], pdf["kb"], pdf["sides"]):
                same = ka == kb
                if not same and len(sides) < 2:
                    continue  # partner block hashed empty: no cross pairs
                sa, sb = sides[0], sides[0] if same else sides[1]
                ids_a = np.asarray(sa["ids"], dtype=np.int64)
                ids_b = np.asarray(sb["ids"], dtype=np.int64)
                mat_a = np.stack(sa["vecs"]).astype(np.float64, copy=False)
                mat_b = np.stack(sb["vecs"]).astype(np.float64, copy=False)
                # tile rows of A so the sims buffer stays bounded
                for lo in range(0, len(ids_a), 4096):
                    hi = lo + 4096
                    sims = mat_a[lo:hi] @ mat_b.T
                    ii, jj = np.nonzero(sims >= thr)
                    ida, idb = ids_a[lo:hi][ii], ids_b[jj]
                    cos = sims[ii, jj]
                    if same:
                        keep = ida < idb  # in-block: drop self + mirror
                        ida, idb, cos = ida[keep], idb[keep], cos[keep]
                    else:  # cross-block: each pair once, normalize order
                        swap = ida > idb
                        ida2 = np.where(swap, idb, ida)
                        idb = np.where(swap, ida, idb)
                        ida = ida2
                    yield pd.DataFrame({"id_a": ida, "id_b": idb, "cosine": cos})

    return block_pairs.mapInPandas(
        product, schema="id_a long, id_b long, cosine double"
    )


def knn_topk_sq8(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    rerank_factor: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k via int8 scalar quantization (SQ8) + exact
    re-rank — the IO-bound scale path: an int8 index is 4× smaller
    than f32 on disk, and a 100 TB ANN scan is storage-bandwidth-bound
    long before it is FLOP-bound. FAISS's SQ8 flat index is this exact
    recipe (quantized first pass, small exact re-rank).

    Stage 1 scans quantized vectors only (integer dot, exact in LONG,
    one rescale — see functions/vector.py sq8_neg_dot) and keeps the
    top k·rerank_factor by approximate distance; stage 2 re-ranks that
    candidate set against the raw float vectors. Everything is
    whole-stage-codegen expressions. Here the quantized columns are
    derived in-plan; a deployment materializes (qv, scale) once,
    column-pruned so stage 1 never reads the float column at all.
    """
    import numpy as np

    q = np.asarray(list(map(float, query_vec)), dtype=np.float64)
    qs = float(np.abs(q).max() / 127.0) if len(q) else 0.0
    qq = (np.round(q / qs).astype(np.int64) if qs > 0
          else np.zeros(len(q), dtype=np.int64))
    query_q = F.array(*[F.lit(int(v)).cast("tinyint") for v in qq])

    norm = df.select(
        id_col,
        V.l2_normalize(vec_col).alias("v"),
    ).withColumn("qv", V.sq8_quantize("v")).withColumn("scale", V.sq8_scale("v"))

    approx = V.sq8_neg_dot("qv", "scale", query_q, F.lit(qs))
    cand = _topk(norm.select(id_col, "v", approx.alias("approx_distance")),
                 max(k, k * rerank_factor), (id_col,), "approx_distance")
    return _topk(_exact_scores(cand, query_vec, id_col), k, (id_col,))


def semantic_dedup_pairs(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_assign: int = 2,
) -> DataFrame:
    """SemDeDup-style near-dup pairs (Abbas et al. 2023, arXiv:
    2303.09540): assign every normalized vector to its ``n_assign``
    nearest k-means centroids, then compute EXACT pairwise cosine only
    WITHIN each cluster — one shuffle on cluster id, one BLAS gram
    matrix per cluster, the full n² pair space never touched.

    Compared to the hyperplane-LSH pair family (operators/dedup.py):
    LSH buckets are random projections (recall tunable via bands),
    SemDeDup clusters follow the data's own density — near-dups
    co-locate because they embed together. Misses only the pairs whose
    ``n_assign`` cluster sets are disjoint: multi-assignment is the
    standard recall remedy for boundary pairs (the same trade as IVF's
    nprobe — ×n_assign compute for each recall step; measured in
    tests/test_dedup.py). Precision stays exact (real cosine inside
    clusters, duplicates merged by the pair groupBy). Cluster size
    ~n·n_assign/C bounds the per-group gram matrix; size C so a
    cluster's (m × dims) block fits an executor (FAISS sizing rule).
    """
    import numpy as np
    import pandas as pd

    from crawler_spark.operators.dedup import long_id

    top_lists = top_centroids_udf(centroids, n_assign)
    norm = df.select(
        long_id(df, id_col).alias("id"), V.l2_normalize(vec_col).alias("v")
    ).select("id", "v", F.explode(top_lists("v")).alias("list_id"))

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        mat = np.stack(pdf["v"]).astype(np.float64, copy=False)
        ids = pdf["id"].to_numpy()
        sims = mat @ mat.T
        ia, ib = np.nonzero(np.triu(sims >= threshold, k=1))
        lo = np.minimum(ids[ia], ids[ib])
        hi = np.maximum(ids[ia], ids[ib])
        return pd.DataFrame({
            "id_a": lo, "id_b": hi,
            "cos": np.round(sims[ia, ib], 6),
        })

    pairs = norm.groupBy("list_id").applyInPandas(
        _pairs, "id_a long, id_b long, cos double")
    # a pair sharing several clusters is found several times
    # F.max, not F.first: a pair sharing several clusters has its
    # cosine computed by different BLAS tiles (different shapes →
    # different float summation order); if the rounded values straddle
    # a 0.5e-6 boundary, first() returns whichever task finished first
    # — max() is order-free, keeping the pinned oracle deterministic
    return pairs.groupBy("id_a", "id_b").agg(F.max("cos").alias("cos"))


def semantic_dedup_keep(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The deliverable of semantic dedup: the KEEP list. Pairs feed the
    same canonical-closure used by the text dedup family; the minimum
    id of each near-dup component survives, all ids map to their
    keeper. Output: (id, canonical_id, keep)."""
    from crawler_spark.operators.dedup import canonical_closure, long_id

    pairs = semantic_dedup_pairs(df, centroids, threshold, vec_col, id_col)
    ids = df.select(long_id(df, id_col).alias(id_col))
    labels = canonical_closure(pairs, ids, id_col)
    return labels.select(
        "id", "canonical_id", (F.col("id") == F.col("canonical_id")).alias("keep")
    )


# ------------------------------------------------------------- PQ (ADC)
def train_pq_codebooks(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_subspaces: int = 8,
    n_codes: int = 16,
    max_sample: int = 10_000,
    iters: int = 10,
    seed: int = 42,
) -> list[list[list[float]]]:
    """Product-quantization codebooks (Jégou et al. TPAMI 2011): split
    the (L2-normalized) vector into ``n_subspaces`` contiguous slices
    and k-means each slice independently to ``n_codes`` centroids.
    A d-dim float vector compresses to n_subspaces code ids —
    n_subspaces BYTES at n_codes ≤ 256, a 32× storage cut at d=64 —
    while ADC scoring still approximates the full inner product.

    Training uses the SHARED bounded deterministic hash-sample
    (``_bounded_hash_sample`` — selection and order both pure
    functions of the data) so any cluster size/partitioning/split
    layout trains identical codebooks; the table itself never leaves
    the executors.

    Returns codebooks[j][c] = centroid c of subspace j.
    """
    import numpy as np

    sample = _bounded_hash_sample(df, vec_col, id_col, max_sample)
    x = np.stack([r.v for r in sample]).astype(np.float64)
    d = x.shape[1]
    if d % n_subspaces:
        raise ValueError(f"dim {d} not divisible by n_subspaces {n_subspaces}")
    sub = d // n_subspaces
    rng = np.random.default_rng(seed)
    books: list[list[list[float]]] = []
    for j in range(n_subspaces):
        xj = x[:, j * sub : (j + 1) * sub]
        # kmeans++ seeding, then Lloyd with L2 on the raw subvectors
        c = _kmeanspp_seed(xj, n_codes, rng)
        for _ in range(iters):
            assign = np.argmin(
                ((xj[:, None, :] - c[None, :, :]) ** 2).sum(axis=2), axis=1
            )
            for ci in range(len(c)):
                members = xj[assign == ci]
                if len(members):
                    c[ci] = members.mean(axis=0)
        books.append([list(map(float, row)) for row in c])
    return books


def pq_encode_udf(codebooks: Sequence[Sequence[Sequence[float]]]):
    """Arrow-batched PQ encoder: normalized vector → array of
    ``n_subspaces`` code ids (nearest codebook centroid per slice,
    L2). One (batch×codes) distance matrix per subspace per batch."""
    import numpy as np
    import pandas as pd

    mats = [np.asarray(b, dtype=np.float64) for b in codebooks]
    sub = mats[0].shape[1]

    @F.pandas_udf("array<int>")
    def _encode(vs: pd.Series) -> pd.Series:
        x = np.stack(vs).astype(np.float64, copy=False)
        codes = np.empty((len(x), len(mats)), dtype=np.int32)
        for j, cm in enumerate(mats):
            xj = x[:, j * sub : (j + 1) * sub]
            # argmin ||x - c||² = argmin (||c||² - 2 x·c) per row
            d2 = (cm * cm).sum(axis=1)[None, :] - 2.0 * (xj @ cm.T)
            codes[:, j] = np.argmin(d2, axis=1)
        return pd.Series(list(codes))

    return _encode


def _adc_table(
    codebooks: Sequence[Sequence[Sequence[float]]],
    query_vec: Sequence[float],
) -> list[float]:
    """Flattened ADC lookup table, subspace-major (flat[j*n_codes + c],
    zero-padded to the largest codebook) with
    t[j][c] = Σ_{i even} cm[c,i]·q_j[i] + Σ_{i odd} cm[c,i]·q_j[i]:
    every product rounded on its own (no FMA), each lane summed left to
    right from 0.0. The order is fixed here rather than left to a BLAS
    product because these doubles become plan literals: a kernel picked
    from the CPU (FMA or not, lane width, threads) would move the plan
    hash from machine to machine."""
    import numpy as np

    q = np.asarray(list(map(float, query_vec)), dtype=np.float64)
    mats = [np.asarray(b, dtype=np.float64) for b in codebooks]
    sub = mats[0].shape[1]
    n_codes = max(m.shape[0] for m in mats)
    flat: list[float] = []
    for j, cm in enumerate(mats):
        prod = cm * q[j * sub : (j + 1) * sub]
        lanes = [np.zeros(len(cm)), np.zeros(len(cm))]
        for i in range(sub):
            lanes[i % 2] = lanes[i % 2] + prod[:, i]
        flat.extend(float(v) for v in lanes[0] + lanes[1])
        flat.extend(0.0 for _ in range(n_codes - cm.shape[0]))
    return flat


def pq_adc_distance(
    codes_col: str,
    codebooks: Sequence[Sequence[Sequence[float]]],
    query_vec: Sequence[float],
):
    """ADC distance expression: the driver computes the per-subspace
    lookup table t[j][c] = q_j · codebook[j][c] (n_subspaces × n_codes
    floats — bytes, constant-folded into the plan), and scoring a
    stored vector is n_subspaces array lookups over its code ids:
    distance ≈ -Σ_j t[j][code_j]. Pure expression, codegen.

    The table's doubles are plan literals, so ``_adc_table`` sums each
    dot product in one fixed order (even-index and odd-index lanes,
    each left to right, no FMA) instead of a BLAS product, whose
    CPU-picked kernel would make the plan hash depend on the CPU."""
    n_codes = max(len(b) for b in codebooks)
    table = F.array(
        *[F.lit(v).cast("double") for v in _adc_table(codebooks, query_vec)])
    j_idx = F.sequence(F.lit(0), F.lit(len(codebooks) - 1))
    return -F.aggregate(
        j_idx,
        F.lit(0.0).cast("double"),
        lambda acc, j: acc
        + F.element_at(
            table,
            (j * n_codes + F.element_at(F.col(codes_col), j + 1) + 1).cast("int"),
        ),
    )


def knn_topk_pq(
    df: DataFrame,
    codebooks: Sequence[Sequence[Sequence[float]]],
    query_vec: Sequence[float],
    k: int = 5,
    rerank_factor: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k via PQ asymmetric-distance computation (ADC)
    + exact re-rank. The query is NOT quantized: the driver computes
    the per-subspace lookup table t[j][c] = q_j · codebook[j][c]
    (n_subspaces × n_codes floats — bytes, constant-folded into the
    plan), and scoring a stored vector is n_subspaces array lookups
    over its code ids: distance ≈ -Σ_j t[j][code_j]. Pure expression,
    whole-stage codegen, and the scan reads CODES ONLY — at d=64/m=8
    that is 32× less bandwidth than the float column, past SQ8's 4×.

    Stage 2 re-ranks the k·rerank_factor ADC survivors against the
    raw float vectors (carried alongside here; a deployment keys the
    re-rank by id against the raw table). FAISS's IndexPQ + refine is
    this exact recipe; compose with the IVF coarse quantizer for
    IVFPQ at the full 100 TB scale.

    The lookup table comes from ``pq_adc_distance``: each entry sums
    its even-index and odd-index products in two left-to-right lanes,
    no BLAS, because the table's doubles go into the plan and a BLAS
    kernel picked from the CPU would make the plan hash CPU-dependent.
    """
    norm = df.select(
        id_col, V.l2_normalize(vec_col).alias("v")
    ).withColumn("codes", pq_encode_udf(codebooks)("v"))

    adc = pq_adc_distance("codes", codebooks, query_vec)
    cand = _topk(norm.select(id_col, "v", adc.alias("approx_distance")),
                 max(k, k * rerank_factor), (id_col,), "approx_distance")
    return _topk(_exact_scores(cand, query_vec, id_col), k, (id_col,))


# ------------------------------------------- random projection (JL)
def random_projection(
    df: DataFrame,
    out_dims: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction: project each
    vector through a seeded Gaussian matrix R (d × out_dims, entries
    N(0, 1/out_dims)) so pairwise distances are preserved within
    (1±ε) w.h.p. for out_dims = O(ε⁻² log n) — the standard
    pre-compression before ANN indexing or all-pairs similarity when
    the raw dimensionality is the cost driver.

    The matrix is generated from ``seed`` driver-side (d·out_dims
    floats — KBs), closed over by an Arrow-batched pandas UDF, and
    shipped once per executor: one (batch × d) @ (d × out_dims) BLAS
    product per Arrow batch, no shuffle, no per-row Python. The same
    seed yields the same matrix on any cluster size, so projections
    are reproducible and two tables projected separately remain
    comparable.

    Returns (id_col, projected) with ``projected`` an
    array<double> of length out_dims.
    """
    import numpy as np
    import pandas as pd

    first = df.select(F.size(vec_col).alias("d")).where(
        F.col("d").isNotNull()).first()
    if first is None:
        raise ValueError(
            "random_projection: cannot infer input dimensionality — "
            "the frame is empty or every vector is NULL")
    d = int(first.d)
    rng = np.random.default_rng(seed)
    r = rng.standard_normal((d, out_dims)) / math.sqrt(out_dims)

    @F.pandas_udf("array<double>")
    def _project(vs: pd.Series) -> pd.Series:
        x = np.stack(vs).astype(np.float64, copy=False)
        return pd.Series(list(x @ r))

    return df.select(F.col(id_col), _project(F.col(vec_col)).alias("projected"))


def knn_topk_ivfpq(
    spark,
    index_path: str,
    centroids: Sequence[Sequence[float]],
    codebooks: Sequence[Sequence[Sequence[float]]],
    query_vec: Sequence[float],
    k: int = 5,
    nprobe: int = 4,
    rerank_factor: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """IVFPQ — the standard billion-vector serving recipe (FAISS
    ``IVFx,PQy``): the IVF coarse quantizer prunes the SCAN to the
    ``nprobe`` nearest inverted lists (directory-level partition
    pruning), PQ/ADC prunes the CANDIDATES inside those lists with a
    codes-only first pass, and the k·rerank_factor survivors get an
    exact re-rank. The two prunings compose multiplicatively: at
    C lists / m-byte codes, a probe touches ~nprobe/C of the data and
    reads ~m bytes per touched vector — the shape that serves 10⁹+
    vectors from object storage.

    Here codes are derived in-plan from the stored vectors; a
    deployment materializes them into the index once (build-time cost,
    like ``build_ivf_index``) so the first pass never reads floats.
    """
    probed = (
        spark.read.parquet(index_path)
        .filter(_probe_filter(centroids, query_vec, nprobe))
        .withColumn("codes", pq_encode_udf(codebooks)("v"))
    )
    adc = pq_adc_distance("codes", codebooks, query_vec)
    cand = _topk(
        probed.select(F.col("id").alias(id_col), "v",
                      adc.alias("approx_distance")),
        max(k, k * rerank_factor), (id_col,), "approx_distance")
    return _topk(_exact_scores(cand, query_vec, id_col), k, (id_col,))


def append_banded_index(
    df: DataFrame,
    index_path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
) -> None:
    """Incremental maintenance for a ``build_banded_index`` table: band
    ONLY the new batch with the same hyperplanes (same knobs + seed —
    the expression-derived planes are deterministic, so old and new
    rows land in consistent buckets) and append its files into the
    existing (band, bucket) partition directories. The continuous-
    crawl shape: each ingest wave costs O(batch), never a rebuild;
    probes see old+new immediately with unchanged pruning.

    The partition layout never changes (bucket set is fixed by the
    knobs), so appends only ADD part-files inside existing directories.
    Like every multi-file append, a mid-write crash can leave orphan
    part-files; production puts this behind the same atomic manifest
    commit the streaming upsert uses (streaming/ingest_stream.py), or
    Delta when available. Every append adds ≥1 file per touched
    bucket — run ``compact_partitioned_index`` periodically to restore
    one-file-per-bucket.
    """
    from crawler_spark.operators.dedup import hyperplane_bands

    banded = hyperplane_bands(df, vec_col, id_col, num_planes, bands, seed)
    _write_partitioned(banded, index_path, ("band", "bucket"), "append")


def compact_partitioned_index(
    spark,
    index_path: str,
    partition_cols: Sequence[str],
    min_files: int = 2,
) -> int:
    """OPTIMIZE for the plain-parquet ANN index layouts: rewrite every
    leaf partition directory holding ≥ ``min_files`` part-files into
    one coalesced file. Each ``append_banded_index`` / ``knn_index_append``
    wave adds ≥1 file per touched bucket, so file count — and probe
    open() cost — grows linearly with waves; periodic compaction
    restores one-file-per-bucket. Works for any of the index layouts by
    naming their partition columns: ``("band", "bucket")`` for the LSH
    index, ``("list_id",)`` for IVF/IVFPQ.

    One Spark job rewrites ALL touched directories (repartition by the
    partition key → one task, one output file per directory), staged
    into a SIBLING of the index (never inside it, so concurrent-free
    readers cannot half-see it), then swapped directory-by-directory.
    OFFLINE like the manifest table's compactor
    (streaming/ingest_stream.py compact_pages_table): run from the
    single writer between waves — the manifest/Delta commit documented
    there is the concurrent-reader upgrade. Returns directories
    rewritten."""
    import os
    import shutil

    def leaf_dirs(root: str, depth: int):
        if depth == 0:
            yield root
            return
        for name in sorted(os.listdir(root)):
            p = os.path.join(root, name)
            if os.path.isdir(p) and "=" in name:
                yield from leaf_dirs(p, depth - 1)

    touched = []
    for d in leaf_dirs(index_path, len(partition_cols)):
        nfiles = sum(1 for f in os.listdir(d)
                     if not f.startswith((".", "_")))
        if nfiles >= min_files:
            touched.append(d)
    if not touched:
        return 0

    tmp_root = index_path.rstrip("/") + "__compact_tmp"
    shutil.rmtree(tmp_root, ignore_errors=True)
    _write_partitioned(
        spark.read.option("basePath", index_path).parquet(*touched),
        tmp_root, partition_cols, "overwrite")
    # Displaced originals go to a trash SIBLING, never `<dir>__old`
    # inside the index: a stray dir under the root corrupts partition
    # discovery (a string '2__old' value breaks the int partition
    # column) and nothing would ever sweep it. With the trash outside,
    # the worst crash window leaves one bucket temporarily absent —
    # recovered by _recover_compact_trash on the next run.
    trash_root = index_path.rstrip("/") + "__compact_trash"
    _recover_compact_trash(index_path, trash_root)
    for d in touched:
        rel = os.path.relpath(d, index_path)
        src = os.path.join(tmp_root, rel)
        trash = os.path.join(trash_root, rel)
        os.makedirs(os.path.dirname(trash), exist_ok=True)
        os.rename(d, trash)
        os.rename(src, d)
        shutil.rmtree(trash)
    shutil.rmtree(trash_root, ignore_errors=True)
    shutil.rmtree(tmp_root, ignore_errors=True)
    return len(touched)


def _recover_compact_trash(index_path: str, trash_root: str) -> None:
    """Crash recovery for compact_partitioned_index's directory swap:
    any trash entry whose live directory is MISSING was displaced by a
    run that died between its two renames — move it back; entries whose
    live directory exists are already-replaced leftovers — drop them."""
    import os
    import shutil

    if not os.path.isdir(trash_root):
        return
    for root, dirs, files in os.walk(trash_root):
        if files:  # a leaf partition directory holding part-files
            rel = os.path.relpath(root, trash_root)
            live = os.path.join(index_path, rel)
            if not os.path.isdir(live):
                os.makedirs(os.path.dirname(live), exist_ok=True)
                os.rename(root, live)
            dirs[:] = []
    shutil.rmtree(trash_root, ignore_errors=True)


def build_ivfpq_index(
    df: DataFrame,
    index_path: str,
    centroids: Sequence[Sequence[float]],
    codebooks: Sequence[Sequence[Sequence[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Materialize the full IVFPQ serving index ONCE: every vector
    normalized, assigned to its nearest coarse centroid (inverted
    list = partition directory) and PQ-encoded, stored as
    (id, codes, v) partitioned by ``list_id``. Build-time cost,
    amortized over every probe — and because ``codes`` and ``v`` are
    separate parquet columns, the ADC first pass reads codes ONLY
    (column pruning is the 32× bandwidth win; the float column is
    touched just for the k·rerank re-rank rows)."""
    from crawler_spark.operators.dedup import long_id

    norm = df.select(
        long_id(df, id_col).alias("id"), V.l2_normalize(vec_col).alias("v")
    )
    coded = (
        norm.withColumn("list_id", nearest_centroid_udf(centroids)("v"))
        .withColumn("codes", pq_encode_udf(codebooks)("v"))
    )
    _write_partitioned(coded, index_path, ("list_id",), "overwrite")


def knn_topk_ivfpq_indexed(
    spark,
    index_path: str,
    centroids: Sequence[Sequence[float]],
    codebooks: Sequence[Sequence[Sequence[float]]],
    query_vec: Sequence[float],
    k: int = 5,
    nprobe: int = 4,
    rerank_factor: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe a ``build_ivfpq_index`` table: directory-pruned read of
    the ``nprobe`` nearest lists, ADC scoring over the CODES column
    only (the float column is pruned out of the first-pass scan —
    plan-locked in tests), then an id-keyed re-rank join that reads
    floats for just the k·rerank survivors. This is the separated
    build/probe form of ``knn_topk_ivfpq`` (which derives codes
    in-plan): same answers, serving-shaped physics."""
    cond = _probe_filter(centroids, query_vec, nprobe)
    adc = pq_adc_distance("codes", codebooks, query_vec)
    cand = _topk(
        spark.read.parquet(index_path).filter(cond)
        .select("id", adc.alias("approx_distance")),  # codes-only scan
        max(k, k * rerank_factor), ("id",), "approx_distance")
    raw = spark.read.parquet(index_path).filter(cond).select("id", "v")
    survivors = raw.join(F.broadcast(cand.select("id")), "id")
    return _topk(_exact_scores(survivors, query_vec, id_col, src_id="id"),
                 k, (id_col,))


def mmr_rerank(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    fetch_k: int = 50,
    lam: float = 0.7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Maximal-Marginal-Relevance diversified top-k (Carbonell &
    Goldstein, SIGIR 1998): greedily pick the candidate maximising
    ``lam * rel(d) - (1 - lam) * max_{s in selected} sim(d, s)`` so the
    result set trades pure relevance for coverage — the standard rerank
    between retrieval and a RAG context window, which the plain top-k
    (``knn_topk``) cannot express (its k results are routinely k
    paraphrases of the same passage).

    Scale shape: the only corpus-sized work is the top-``fetch_k``
    retrieval — the same TakeOrderedAndProject as ``knn_topk`` (swap in
    any ANN variant upstream for 100 TB serving). The greedy phase is
    inherently sequential (pick i depends on picks 1..i-1), so it runs
    over the BOUNDED fetch_k-row candidate list driver-side — the same
    bounded-collect class as the crawl fetch list and the IVF training
    sample (fetch_k × dim floats, knob-controlled, never corpus-sized).
    Ties break toward the lower id; output is deterministic.

    Returns (rank, id_col, relevance, mmr_score) with rank 1..k.
    """
    import numpy as np

    q = V.vector_lit(query_vec)
    emb = V.l2_normalize(vec_col)
    cand = _topk(
        df.select(F.col(id_col), emb.alias("v"),
                  V.neg_dot(emb, q).alias("distance")),
        fetch_k, (id_col,)).collect()
    spark = df.sparkSession
    # Preserve the caller's id type (string ids are legal here, as in
    # knn_topk) instead of hardcoding long.
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )

    out_schema = StructType([
        StructField("rank", LongType()),
        StructField(id_col, df.schema[id_col].dataType),
        StructField("relevance", DoubleType()),
        StructField("mmr_score", DoubleType()),
    ])
    if not cand:
        return spark.createDataFrame([], out_schema)
    ids = [r[id_col] for r in cand]
    mat = np.asarray([r["v"] for r in cand], dtype=np.float64)
    rel = -np.asarray([r["distance"] for r in cand], dtype=np.float64)
    sim = mat @ mat.T  # rows are L2-normalized → cosine
    selected: list[int] = []
    max_sim = np.full(len(ids), -np.inf)
    out = []
    for rank in range(1, min(k, len(ids)) + 1):
        div = np.where(np.isfinite(max_sim), max_sim, 0.0)
        score = lam * rel - (1.0 - lam) * div
        score[selected] = -np.inf
        best = int(np.argmax(score))  # argmax returns the FIRST max →
        # candidates are relevance-ordered with id tie-break, so ties
        # resolve to the more relevant / lower id deterministically
        selected.append(best)
        max_sim = np.maximum(max_sim, sim[best])
        out.append(
            (rank, ids[best], round(float(rel[best]), 6),
             round(float(score[best]), 6))
        )
    return spark.createDataFrame(out, out_schema)


def append_ivf_index(
    df: DataFrame,
    index_path: str,
    centroids: Sequence[Sequence[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    pre_normalized: bool = False,
) -> None:
    """Incremental maintenance for a ``build_ivf_index`` table — the
    IVF twin of ``append_banded_index``: assign ONLY the new batch to
    the SAME frozen coarse quantizer and append its files into the
    existing ``list_id`` partition directories. Each ingest wave costs
    O(batch), never a rebuild; probes see old+new rows immediately
    with unchanged directory pruning. (Re-training centroids is a
    separate, rarer maintenance job — exactly FAISS's split between
    ``add`` and re-training the coarse quantizer.)

    ``pre_normalized=True`` skips the L2 normalization when ``vec_col``
    already holds unit vectors (the incremental-dedup step normalizes
    once and reuses the result for scoring AND appending)."""
    from crawler_spark.operators.dedup import long_id

    v = (F.col(vec_col) if pre_normalized else V.l2_normalize(vec_col))
    norm = df.select(long_id(df, id_col).alias("id"), v.alias("v"))
    lists = norm.withColumn("list_id", nearest_centroid_udf(centroids)("v"))
    _write_partitioned(lists, index_path, ("list_id",), "append")


def semantic_dedup_ingest_step(
    spark,
    batch: DataFrame,
    index_path: str,
    centroids: Sequence[Sequence[float]],
    threshold: float = 0.95,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ONE ingest wave of self-growing semantic dedup — the full
    production loop the batch-vs-fixed-corpus form
    (``streaming_semantic_dedup_e2e``) documents as its composition
    with index append:

    1. every batch vector probes its ``nprobe`` nearest centroids and
       takes exact max cosine against ONLY those inverted lists of the
       accepted-so-far index (directory-pruned scan, broadcast batch);
       ``max_cos ≥ threshold`` → duplicate of the corpus;
    2. corpus-survivors dedup among THEMSELVES with the same
       cluster-scoped rule (``semantic_dedup_pairs`` restricted to the
       batch + canonical closure — min id survives a connected
       near-dup component);
    3. the accepted uniques APPEND into the index
       (``append_ivf_index``), so the NEXT wave dedups against them.

    Returns the batch verdict frame: (id, max_cos vs corpus rounded to
    6, dup_of_corpus, intra_dup, accepted). Deterministic for a fixed
    batch sequence: max over floats is order-free, the closure is
    seeded by min-id, and the index read-back is content-stable across
    append file layouts. Per-wave cost is O(batch × probed-list rows)
    + O(batch-pair work inside clusters) — never O(index).

    Arrival order is semantics here (earlier arrivals win), which is
    the production contract of an ingest pipeline; the registered
    sequential query fixes the order by vec_id ranges so the driver
    can pin it."""
    import os

    from crawler_spark.operators.dedup import canonical_closure, long_id

    norm = batch.select(
        long_id(batch, id_col).alias("id"), V.l2_normalize(vec_col).alias("vb")
    ).localCheckpoint(eager=True)

    probes = norm.withColumn(
        "list_id", F.explode(top_centroids_udf(centroids, nprobe)("vb")))
    has_index = os.path.isdir(index_path) and any(
        e.startswith("list_id=") for e in os.listdir(index_path))
    if has_index:
        lists = [r[0] for r in probes.select("list_id").distinct().collect()]
        corpus = (
            spark.read.parquet(index_path)
            .filter(F.col("list_id").isin(lists))
            .select("list_id", F.col("v").alias("vc"))
        )
        best = (
            corpus.join(F.broadcast(probes), "list_id")
            .groupBy("id").agg(F.max(V.dot(F.col("vb"), F.col("vc"))).alias("mx"))
        )
    else:
        best = norm.select("id", F.lit(None).cast("double").alias("mx"))
    verdicts = (
        norm.join(best, "id", "left")
        .select(
            "id", "vb",
            F.round(F.coalesce("mx", F.lit(-1.0)), 6).alias("max_cos"),
            F.coalesce(F.col("mx") >= threshold, F.lit(False))
             .alias("dup_of_corpus"),
        )
        .localCheckpoint(eager=True)
    )

    survivors = verdicts.filter(~F.col("dup_of_corpus")).select("id", "vb")
    pairs = semantic_dedup_pairs(
        survivors, centroids, threshold, vec_col="vb", id_col="id",
        n_assign=nprobe)
    labels = canonical_closure(pairs, survivors.select("id"), "id")
    keep = labels.select(
        "id", (F.col("id") == F.col("canonical_id")).alias("keep"))

    out = (
        verdicts.join(keep, "id", "left")
        .select(
            "id", "vb", "max_cos", "dup_of_corpus",
            # intra_dup only defined for corpus-survivors; corpus dups
            # never reached the intra stage
            F.coalesce(~F.col("keep"), F.lit(False)).alias("intra_dup"),
            F.coalesce("keep", F.lit(False)).alias("accepted"),
        )
        .localCheckpoint(eager=True)
    )
    accepted = out.filter(F.col("accepted")).select("id", F.col("vb"))
    append_ivf_index(accepted, index_path, centroids, vec_col="vb",
                     id_col="id", pre_normalized=True)
    return out.select("id", "max_cos", "dup_of_corpus", "intra_dup",
                      "accepted")
