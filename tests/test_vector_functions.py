"""Unit tests for the vector expression builders (SURVEY.md §2.8),
mirroring the reference's embedding-function tests
(backend/tests/test_tasks.py pad/normalize invariants)."""

import math

import pytest
from pyspark.sql import functions as F

from crawler_spark.functions import vector as V


@pytest.fixture(scope="module")
def vec_df(spark):
    return spark.createDataFrame(
        [
            (1, [3.0, 4.0]),
            (2, [0.0, 0.0]),
            (3, [1.0, 0.0]),
        ],
        "id long, v array<double>",
    )


def test_l2_normalize_unit_norm(spark, vec_df):
    rows = vec_df.select("id", V.l2_normalize("v").alias("n")).orderBy("id").collect()
    assert rows[0].n == pytest.approx([0.6, 0.8])
    # zero vector passes through unchanged (reference embeddings.py:68-69)
    assert rows[1].n == [0.0, 0.0]


def test_truncate_or_pad(spark, vec_df):
    rows = (
        vec_df.select("id", V.truncate_or_pad("v", 4).alias("p4"),
                      V.truncate_or_pad("v", 1).alias("p1"))
        .orderBy("id").collect()
    )
    assert rows[0].p4 == [3.0, 4.0, 0.0, 0.0]
    assert rows[0].p1 == [3.0]


def test_dot_and_neg_dot(spark, vec_df):
    q = V.vector_lit([1.0, 1.0])
    rows = vec_df.select("id", V.dot("v", q).alias("d"),
                         V.neg_dot("v", q).alias("nd")).orderBy("id").collect()
    assert rows[0].d == 7.0 and rows[0].nd == -7.0
    assert rows[1].d == 0.0


def test_stub_embedder_deterministic():
    from crawler_spark.functions.embedding import StubEmbedder, normalize_pad

    e = StubEmbedder(dims=64)
    a, b = e.embed_text("hello"), e.embed_text("hello")
    assert a == b and len(a) == 64
    assert e.embed_text("world") != a
    n = math.sqrt(sum(x * x for x in a))
    assert n == pytest.approx(1.0)
    assert normalize_pad([3.0, 4.0], 4) == [0.6, 0.8, 0.0, 0.0]
    assert normalize_pad([0.0], 2) == [0.0, 0.0]


def test_knn_topk_lsh_candidates_are_exact_distances(spark):
    """ANN top-k: every returned distance must equal the EXACT distance
    for that id (the re-rank is exact; only the candidate set is
    approximate), and recall vs the exact top-k stays useful."""
    from crawler_spark.operators.similarity import knn_topk, knn_topk_lsh
    from crawler_spark.plans.queries_vector import QUERY_VEC
    from crawler_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    exact_all = {r.vec_id: r.distance
                 for r in knn_topk(emb, QUERY_VEC, k=500).collect()}
    approx = knn_topk_lsh(emb, QUERY_VEC, k=5).collect()
    assert len(approx) == 5
    for r in approx:
        assert r.distance == pytest.approx(exact_all[r.vec_id], abs=1e-12)
    dists = [r.distance for r in approx]
    assert dists == sorted(dists)
    top5 = list(exact_all)[:5]
    recall = len({r.vec_id for r in approx} & set(top5)) / 5
    assert recall >= 0.2, f"ANN recall {recall} (measured 0.4 on this corpus)"


def test_ivf_recall_and_exact_rerank(spark, tmp_path):
    """IVF path: every returned distance is the exact distance for its
    id; recall vs the exact top-k improves with nprobe and hits 100%
    at nprobe = n_centroids (scanning all inverted lists ≡ exact)."""
    from crawler_spark.operators.similarity import (
        build_ivf_index,
        knn_topk,
        knn_topk_ivf,
        train_ivf_centroids,
    )
    from crawler_spark.plans.queries_vector import QUERY_VEC
    from crawler_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = train_ivf_centroids(emb, n_centroids=8, seed=42)
    assert len(cents) == 8
    # deterministic: same seed + same data → same centroids
    assert train_ivf_centroids(emb, n_centroids=8, seed=42) == cents

    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, cents)

    exact_all = {r.vec_id: r.distance
                 for r in knn_topk(emb, QUERY_VEC, k=500).collect()}
    got = knn_topk_ivf(spark, idx, cents, QUERY_VEC, k=5, nprobe=2).collect()
    assert len(got) == 5
    for r in got:
        assert r.distance == pytest.approx(exact_all[r.vec_id], abs=1e-12)

    # full probe == exact top-k, value for value
    full = knn_topk_ivf(spark, idx, cents, QUERY_VEC, k=5, nprobe=8).collect()
    want = list(exact_all.items())[:5]
    assert [(r.vec_id, round(r.distance, 9)) for r in full] == [
        (i, round(d, 9)) for i, d in want
    ]


def test_refine_centroids_lowers_quantization_error(spark):
    """Distributed Lloyd refinement: mean assignment distance (the
    k-means objective on unit vectors: 1 - max dot) must not get worse
    after full-corpus refinement of sample-seeded centroids, centroids
    stay unit-norm, and the result is deterministic."""
    import numpy as np

    from crawler_spark.operators.similarity import (
        refine_centroids,
        train_ivf_centroids,
    )
    from crawler_spark.functions import vector as V
    from crawler_spark.sources import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")

    def mean_err(cents):
        cmat = np.asarray(cents)
        vs = np.stack([r.v for r in
                       emb.select(V.l2_normalize("embedding").alias("v"))
                       .collect()])
        return float(np.mean(1.0 - (vs @ cmat.T).max(axis=1)))

    # seed deliberately badly (tiny sample) so refinement has room
    seeded = train_ivf_centroids(emb, n_centroids=8, max_sample=40, seed=7)
    refined = refine_centroids(emb, seeded, iters=3)
    assert len(refined) == len(seeded)
    for c in refined:
        assert np.linalg.norm(c) == pytest.approx(1.0, abs=1e-9)
    assert mean_err(refined) <= mean_err(seeded) + 1e-12
    assert refine_centroids(emb, seeded, iters=3) == refined  # deterministic


class TestFilteredKnn:
    """Filtered vector search: pre-filter vs IVF-post-filter dispatch
    (operators/similarity.py knn_topk_filtered)."""

    def test_strategy_policy(self):
        import pytest as _pytest

        from crawler_spark.operators.similarity import (
            choose_filtered_strategy,
        )

        assert choose_filtered_strategy(0.01) == "prefilter"
        assert choose_filtered_strategy(0.05) == "prefilter"
        assert choose_filtered_strategy(0.2) == "ivf_postfilter"
        assert choose_filtered_strategy(1.0) == "ivf_postfilter"
        with _pytest.raises(ValueError):
            choose_filtered_strategy(1.5)

    def test_prefilter_matches_bruteforce(self, spark):
        from crawler_spark.operators.similarity import (
            knn_topk,
            knn_topk_filtered,
        )
        from crawler_spark.plans.queries_vector import QUERY_VEC as _QV
        from crawler_spark.sources import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        got = knn_topk_filtered(emb, _QV, "label = 3", k=5).collect()
        want = knn_topk(emb.filter("label = 3"), _QV, k=5).collect()
        assert [(r.vec_id, round(r.distance, 9)) for r in got] == [
            (r.vec_id, round(r.distance, 9)) for r in want]
        assert all(r.vec_id is not None for r in got)

    def test_full_probe_postfilter_equals_exact_filtered(self, spark,
                                                         tmp_path):
        """nprobe = C probes every inverted list, so the post-filter
        arm must return EXACTLY the pre-filter exact answer — the
        approximation lives only in nprobe, never in the filter."""
        from crawler_spark.operators.similarity import (
            build_ivf_index,
            knn_topk,
            knn_topk_filtered,
            train_ivf_centroids,
        )
        from crawler_spark.plans.queries_vector import QUERY_VEC as _QV
        from crawler_spark.sources import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        cents = train_ivf_centroids(emb, n_centroids=8)
        path = str(tmp_path / "ivf")
        build_ivf_index(emb, path, cents, payload_cols=["label"])
        got = knn_topk_filtered(
            emb, _QV, "label = 3", k=5, index_path=path, centroids=cents,
            nprobe=8, selectivity=0.5).collect()  # forces ivf_postfilter
        want = knn_topk(emb.filter("label = 3"), _QV, k=5).collect()
        assert [(r.vec_id, round(r.distance, 9)) for r in got] == [
            (r.vec_id, round(r.distance, 9)) for r in want]

    def test_payload_predicate_pushed_to_index_scan(self, spark, tmp_path):
        """The label predicate must reach the parquet scan of the
        probed lists (PushedFilters), and the probe must NOT read the
        unprobed list directories (partition pruning on list_id)."""
        from crawler_spark.operators.similarity import (
            build_ivf_index,
            knn_topk_ivf,
            train_ivf_centroids,
        )
        from crawler_spark.plans.queries_vector import QUERY_VEC as _QV
        from crawler_spark.sources import load_table
        from pyspark.sql import functions as F

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        cents = train_ivf_centroids(emb, n_centroids=8)
        path = str(tmp_path / "ivf")
        build_ivf_index(emb, path, cents, payload_cols=["label"])
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            knn_topk_ivf(
                spark, path, cents, _QV, k=5, nprobe=2,
                predicate=F.col("label") == 3,
            ).explain("formatted")
        plan = buf.getvalue()
        pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
        assert pushed and "EqualTo(label,3)" in pushed[0], (
            "label predicate did not push to the index parquet scan")


def test_precomputed_probe_matches_per_query_lsh(spark, tmp_path):
    """The serving path (build_banded_index once + partition-pruned
    probe) must return EXACTLY what the per-query-banding path returns
    for the same knobs — same candidates, same exact re-rank."""
    from crawler_spark.operators.similarity import (
        build_banded_index,
        knn_topk_lsh,
        knn_topk_precomputed,
    )
    from crawler_spark.plans.queries_vector import QUERY_VEC
    from crawler_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = str(tmp_path / "ann_index")
    build_banded_index(emb, idx)

    probe = knn_topk_precomputed(spark, idx, QUERY_VEC, k=5)
    # partition pruning must reach the scan: the probe's plan touches
    # only the query's band/bucket directories, not the whole index
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "band" in plan

    got = [(r.vec_id, round(r.distance, 9)) for r in probe.collect()]
    want = [(r.vec_id, round(r.distance, 9))
            for r in knn_topk_lsh(emb, QUERY_VEC, k=5).collect()]
    assert got == want and len(got) == 5


def test_multiprobe_widens_candidates_never_worsens(spark, tmp_path):
    """Multi-probe LSH: flipping low-margin bits probes MORE buckets,
    so the candidate set only grows — the best distance found is
    non-increasing in `multiprobe`, every distance stays exact, and a
    large probe budget recovers the true top-1."""
    from crawler_spark.operators.similarity import (
        build_banded_index,
        knn_topk,
        knn_topk_precomputed,
    )
    from crawler_spark.plans.queries_vector import QUERY_VEC
    from crawler_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = str(tmp_path / "ann_index")
    build_banded_index(emb, idx)

    exact_all = {r.vec_id: r.distance
                 for r in knn_topk(emb, QUERY_VEC, k=500).collect()}
    best = None
    for mp in (0, 2, 8):
        rows = knn_topk_precomputed(spark, idx, QUERY_VEC, k=5,
                                    multiprobe=mp).collect()
        assert rows
        for r in rows:
            assert r.distance == pytest.approx(exact_all[r.vec_id], abs=1e-12)
        top1 = rows[0].distance
        assert best is None or top1 <= best + 1e-12
        best = top1


class TestSQ8:
    def test_sq8_topk_matches_exact_topk(self, spark):
        """SQ8 + exact re-rank must return the exact path's top-k on
        the testdata (rerank_factor=4 gives the quantized first pass
        plenty of slack), with identical (re-ranked) distances."""
        from crawler_spark.operators.similarity import knn_topk, knn_topk_sq8
        from crawler_spark.plans.queries_vector import QUERY_VEC
        from crawler_spark.sources import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        exact = [(r.vec_id, round(r.distance, 6))
                 for r in knn_topk(emb, QUERY_VEC, k=5).collect()]
        sq8 = [(r.vec_id, round(r.distance, 6))
               for r in knn_topk_sq8(emb, QUERY_VEC, k=5).collect()]
        assert sq8 == exact

    def test_sq8_quantization_bounds(self, spark):
        """Quantized components stay in [-127, 127] and the rescaled
        int dot is within the documented rounding envelope of the float
        dot for every vector."""
        from pyspark.sql import functions as F

        from crawler_spark.functions import vector as V
        from crawler_spark.sources import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        norm = emb.select("vec_id", V.l2_normalize("embedding").alias("v"))
        qd = norm.select(
            "vec_id", "v",
            V.sq8_quantize("v").alias("qv"),
            V.sq8_scale("v").alias("scale"),
        )
        checked = qd.select(
            "vec_id",
            F.array_max(F.transform("qv", lambda x: F.abs(x.cast("int")))).alias("mx"),
            (-V.sq8_neg_dot("qv", "scale", F.col("qv"), F.col("scale"))).alias("approx_sq"),
            V.dot("v", F.col("v")).alias("exact_sq"),
            # envelope: |err| <= (|v|_1 * s + |v|_1 * s) / 2 = |v|_1 * s
            (F.aggregate(F.transform("v", lambda x: F.abs(x)),
                         F.lit(0.0).cast("double"),
                         lambda a, x: a + x) * F.col("scale")).alias("env"),
        ).collect()
        assert checked
        for r in checked:
            assert r.mx <= 127
            assert abs(r.approx_sq - r.exact_sq) <= r.env + 1e-12, r.vec_id


def test_pq_adc_recall_and_exact_rerank(spark):
    """PQ/ADC path: returned distances are the EXACT distances for
    their ids (re-rank is exact; only the ADC candidate set is
    approximate); codebooks train deterministically; recall@5 vs the
    exact top-k is useful on the near-uniform synthetic vectors (the
    PQ worst case) and full re-rank (factor ≥ n/k) is ≡ exact."""
    from crawler_spark.operators.similarity import (
        knn_topk,
        knn_topk_pq,
        train_pq_codebooks,
    )
    from crawler_spark.plans.queries_vector import QUERY_VEC
    from crawler_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    books = train_pq_codebooks(emb, n_subspaces=8, n_codes=32, seed=42)
    assert len(books) == 8 and all(len(b) <= 32 for b in books)
    assert train_pq_codebooks(emb, n_subspaces=8, n_codes=32, seed=42) == books

    exact_all = {r.vec_id: r.distance
                 for r in knn_topk(emb, QUERY_VEC, k=500).collect()}
    got = knn_topk_pq(emb, books, QUERY_VEC, k=5, rerank_factor=20).collect()
    assert len(got) == 5
    for r in got:
        assert r.distance == pytest.approx(exact_all[r.vec_id], abs=1e-12)
    dists = [r.distance for r in got]
    assert dists == sorted(dists)
    top5 = set(list(exact_all)[:5])
    recall = len({r.vec_id for r in got} & top5) / 5
    assert recall >= 0.6, f"PQ recall {recall}"

    # re-ranking every row degenerates to the exact answer
    full = knn_topk_pq(emb, books, QUERY_VEC, k=5, rerank_factor=100).collect()
    assert [r.vec_id for r in full] == list(exact_all)[:5]


_PQ_CHILD = """
import json, sys
from crawler_spark.operators.similarity import _adc_table, train_pq_codebooks
from crawler_spark.plans.queries_vector import QUERY_VEC
from crawler_spark.session import get_spark
from crawler_spark.sources import load_table

spark = get_spark("pq-blas-child", cpus=1)
books = train_pq_codebooks(load_table(spark, sys.argv[1], "embeddings"),
                           n_subspaces=8, n_codes=32)
with open(sys.argv[2], "w") as fh:
    json.dump({"books": books, "table": _adc_table(books, QUERY_VEC)}, fh)
spark.stop()
"""


def test_pq_codebooks_and_adc_table_independent_of_blas_kernel(tmp_path):
    """The ADC table's doubles are plan literals (the PQ plan hashes in
    PLAN_HASHES.json cover them), so they must not depend on the BLAS
    kernel OpenBLAS picks from the CPU or on its thread count. Two
    processes train the codebooks and build the table under different
    kernels and thread settings; both must agree bit for bit, and the
    table must equal a plain-float evaluation of its documented order:
    even-index lane + odd-index lane, each summed left to right, every
    product rounded on its own. A build without DYNAMIC_ARCH ignores
    OPENBLAS_CORETYPE; the test still compares the two processes."""
    import json
    import os
    import subprocess
    import sys

    from crawler_spark.plans.queries_vector import QUERY_VEC

    try:
        with open("/proc/cpuinfo") as fh:
            flags = fh.read()
    except OSError:
        flags = ""
    # a forced kernel the CPU lacks would die on an illegal instruction
    wide = "SkylakeX" if "avx512f" in flags else "Haswell"
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    runs = []
    for core, threads in (("Sandybridge", "1"), (wide, "4")):
        out = tmp_path / f"{core}.json"
        env = dict(os.environ, OPENBLAS_CORETYPE=core,
                   OPENBLAS_NUM_THREADS=threads, SPARK_GRAFT_DRIVER_MEM="1g")
        subprocess.run(
            [sys.executable, "-c", _PQ_CHILD, "/root/testdata/sf0.001",
             str(out)],
            cwd=root, env=env, check=True, timeout=300,
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        )
        runs.append(json.loads(out.read_text()))

    def hexed(xs):
        return [float(x).hex() for x in xs]

    a, b = runs
    assert hexed(x for bk in a["books"] for row in bk for x in row) == \
        hexed(x for bk in b["books"] for row in bk for x in row)
    assert hexed(a["table"]) == hexed(b["table"])

    q = [float(x) for x in QUERY_VEC]
    books = a["books"]
    sub = len(books[0][0])
    n_codes = max(len(bk) for bk in books)
    want = []
    for j, bk in enumerate(books):
        for row in bk:
            lanes = [0.0, 0.0]
            for i, c in enumerate(row):
                lanes[i % 2] += c * q[j * sub + i]
            want.append(lanes[0] + lanes[1])
        want.extend([0.0] * (n_codes - len(bk)))
    assert hexed(a["table"]) == hexed(want)


def test_random_projection_preserves_distances_and_is_deterministic(spark):
    """JL property: relative pairwise-distance distortion at 64→32
    dims stays small on average; same seed → identical projection;
    different seed → different projection."""
    import itertools
    import math

    from crawler_spark.operators.similarity import random_projection
    from crawler_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(40)
    orig = {r.vec_id: r.embedding for r in emb.collect()}
    p1 = {r.vec_id: r.projected
          for r in random_projection(emb, 32, seed=7).collect()}
    p2 = {r.vec_id: r.projected
          for r in random_projection(emb, 32, seed=7).collect()}
    p3 = {r.vec_id: r.projected
          for r in random_projection(emb, 32, seed=8).collect()}
    assert p1 == p2
    assert p1 != p3
    assert all(len(v) == 32 for v in p1.values())

    def dist(a, b):
        return math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))

    errs = []
    ids = sorted(orig)[:20]
    for a, b in itertools.combinations(ids, 2):
        d0, d1 = dist(orig[a], orig[b]), dist(p1[a], p1[b])
        if d0 > 0:
            errs.append(abs(d1 - d0) / d0)
    mean_err = sum(errs) / len(errs)
    assert mean_err < 0.2, f"mean JL distortion {mean_err}"


def test_ann_recall_floors_pinned(spark, tmp_path):
    """Recall@10 FLOORS for the production ANN tiers at the fixture's
    geometry (8 centroids, nprobe=4, rerank 20 — all seeded, so the
    measured numbers are deterministic: IVF 0.9, IVFPQ 0.9 on this
    corpus). A banding/codebook regression must fail HERE loudly
    instead of silently shifting the rows-only diag_ann_recall row
    (VERDICT r5 item 8). Floors sit at/below measured: IVF >= 0.9,
    IVFPQ >= 0.8."""
    from crawler_spark.operators.similarity import (
        build_ivf_index,
        knn_topk,
        knn_topk_ivf,
        knn_topk_ivfpq,
        train_ivf_centroids,
        train_pq_codebooks,
    )
    from crawler_spark.plans.queries_vector import QUERY_VEC
    from crawler_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = train_ivf_centroids(emb, n_centroids=8, seed=42)
    books = train_pq_codebooks(emb, n_subspaces=8, n_codes=32, seed=42)
    idx = str(tmp_path / "floors")
    build_ivf_index(emb, idx, cents)

    exact = {r.vec_id for r in knn_topk(emb, QUERY_VEC, k=10).collect()}
    ivf = {r.vec_id for r in knn_topk_ivf(
        spark, idx, cents, QUERY_VEC, k=10, nprobe=4).collect()}
    ivfpq = {r.vec_id for r in knn_topk_ivfpq(
        spark, idx, cents, books, QUERY_VEC, k=10, nprobe=4,
        rerank_factor=20).collect()}
    r_ivf = len(ivf & exact) / 10
    r_ivfpq = len(ivfpq & exact) / 10
    assert r_ivf >= 0.9, f"IVF recall@10 regressed: {r_ivf} < 0.9"
    assert r_ivfpq >= 0.8, f"IVFPQ recall@10 regressed: {r_ivfpq} < 0.8"


def test_ivfpq_compose_exact_rerank_and_recall(spark, tmp_path):
    """IVFPQ: distances are exact for returned ids; recall rises with
    nprobe and reaches the IVF-only answer at full probe (ADC pruning
    inside lists is recovered by the exact re-rank)."""
    from crawler_spark.operators.similarity import (
        build_ivf_index,
        knn_topk,
        knn_topk_ivfpq,
        train_ivf_centroids,
        train_pq_codebooks,
    )
    from crawler_spark.plans.queries_vector import QUERY_VEC
    from crawler_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = train_ivf_centroids(emb, n_centroids=8, seed=42)
    books = train_pq_codebooks(emb, n_subspaces=8, n_codes=32, seed=42)
    idx = str(tmp_path / "ivfpq")
    build_ivf_index(emb, idx, cents)

    exact_all = {r.vec_id: r.distance
                 for r in knn_topk(emb, QUERY_VEC, k=500).collect()}
    got = knn_topk_ivfpq(
        spark, idx, cents, books, QUERY_VEC, k=5, nprobe=4, rerank_factor=20
    ).collect()
    assert len(got) == 5
    for r in got:
        assert r.distance == pytest.approx(exact_all[r.vec_id], abs=1e-12)
    lo = knn_topk_ivfpq(
        spark, idx, cents, books, QUERY_VEC, k=5, nprobe=1, rerank_factor=20
    ).collect()
    top5 = set(list(exact_all)[:5])
    r_hi = len({r.vec_id for r in got} & top5) / 5
    r_lo = len({r.vec_id for r in lo} & top5) / 5
    assert r_hi >= r_lo, (r_hi, r_lo)
    assert r_hi >= 0.6, f"IVFPQ recall {r_hi}"

    # full probe + full re-rank degenerates to exact
    full = knn_topk_ivfpq(
        spark, idx, cents, books, QUERY_VEC, k=5, nprobe=8, rerank_factor=100
    ).collect()
    assert [r.vec_id for r in full] == list(exact_all)[:5]


@pytest.mark.parametrize("layout", ["banded", "ivf"])
def test_append_index_probe_sees_new_vectors(spark, tmp_path, layout):
    """Incremental index append, for both index layouts: a new
    near-duplicate of the query becomes top-1 after append,
    pre-existing results are otherwise unchanged, and the appended index
    equals a from-scratch rebuild over the unioned data (the IVF probe
    at nprobe = C, so every list is read)."""
    from crawler_spark.operators.similarity import (
        append_banded_index,
        append_ivf_index,
        build_banded_index,
        build_ivf_index,
        knn_topk_ivf,
        knn_topk_precomputed,
        train_ivf_centroids,
    )
    from crawler_spark.plans.queries_vector import QUERY_VEC
    from crawler_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    if layout == "banded":
        build, append = build_banded_index, append_banded_index

        def probe(path):
            return knn_topk_precomputed(spark, path, QUERY_VEC, k=5).collect()
    else:
        cents = train_ivf_centroids(emb, n_centroids=4)

        def build(df, path):
            build_ivf_index(df, path, cents)

        def append(df, path):
            append_ivf_index(df, path, cents)

        def probe(path):
            return knn_topk_ivf(
                spark, path, cents, QUERY_VEC, k=5, nprobe=len(cents)).collect()

    idx = str(tmp_path / layout)
    build(emb, idx)
    before = probe(idx)

    new = spark.createDataFrame(
        [(100_000, [float(x) for x in QUERY_VEC])],
        "vec_id long, embedding array<double>",
    )
    append(new, idx)
    after = probe(idx)
    assert after[0].vec_id == 100_000
    assert after[0].distance == pytest.approx(-1.0, abs=1e-9)
    assert [r.vec_id for r in after[1:]] == [r.vec_id for r in before[:4]]

    # append ≡ rebuild over the unioned data
    idx2 = str(tmp_path / f"{layout}_rebuilt")
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    build(base.unionByName(new), idx2)
    rebuilt = probe(idx2)
    assert [(r.vec_id, r.distance) for r in rebuilt] == [
        (r.vec_id, r.distance) for r in after]


def test_batch_ivf_full_probe_equals_exact_batch(spark, tmp_path):
    """knn_topk_batch_ivf with nprobe = C must return, per query,
    EXACTLY the exact batch answer (same values, same tie-breaks) —
    the approximation lives only in nprobe. With nprobe < C every
    returned distance is still the exact distance for its id, and each
    query's rows are the single-query ``knn_topk_ivf`` rows."""
    from crawler_spark.operators.similarity import (
        build_ivf_index,
        knn_topk,
        knn_topk_batch_ivf,
        knn_topk_ivf,
        train_ivf_centroids,
    )
    from crawler_spark.plans.queries_vector import _BATCH_VECS
    from crawler_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = train_ivf_centroids(emb, n_centroids=8)
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, cents)

    full = knn_topk_batch_ivf(
        spark, idx, cents, _BATCH_VECS, k=5, nprobe=8).collect()
    for qid, qv in enumerate(_BATCH_VECS):
        want = knn_topk(emb, qv, k=5).collect()
        got = [r for r in full if r.query_id == qid]
        assert [(r.vec_id, round(r.distance, 9)) for r in got] == [
            (r.vec_id, round(r.distance, 9)) for r in want], f"query {qid}"

    exact_all = {
        (qid, r.vec_id): r.distance
        for qid, qv in enumerate(_BATCH_VECS)
        for r in knn_topk(emb, qv, k=500).collect()
    }
    part = knn_topk_batch_ivf(
        spark, idx, cents, _BATCH_VECS, k=5, nprobe=2).collect()
    assert len(part) == 5 * len(_BATCH_VECS)
    for r in part:
        assert r.distance == pytest.approx(
            exact_all[(r.query_id, r.vec_id)], abs=1e-12)
    # nprobe < C: the batch ranks each query's lists exactly as the
    # single-query probe does, so its rows are that probe's rows
    for qid, qv in enumerate(_BATCH_VECS):
        single = knn_topk_ivf(spark, idx, cents, qv, k=5, nprobe=2).collect()
        assert [(r.vec_id, r.distance) for r in part if r.query_id == qid] == [
            (r.vec_id, r.distance) for r in single], f"query {qid}"

    # plan: rn<=k must take the WindowGroupLimit rewrite (map-side
    # per-query top-k before the exchange), and the probed-list filter
    # must prune index partitions
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        knn_topk_batch_ivf(
            spark, idx, cents, _BATCH_VECS, k=5, nprobe=2
        ).explain("formatted")
    plan = buf.getvalue()
    assert "WindowGroupLimit" in plan
    assert "PartitionFilters" in plan and "list_id" in plan


def test_compact_banded_index_preserves_probe_results(spark, tmp_path):
    """Compaction (operators/similarity.py compact_partitioned_index):
    after two append waves, touched buckets hold multiple part-files;
    compaction must coalesce each to ONE file and leave every probe
    result byte-identical. Also exercises the IVF (single partition
    col) layout."""
    import os

    from crawler_spark.operators.similarity import (
        append_banded_index,
        build_banded_index,
        build_ivf_index,
        compact_partitioned_index,
        knn_topk_ivf,
        knn_topk_precomputed,
        train_ivf_centroids,
    )
    from crawler_spark.plans.queries_vector import QUERY_VEC
    from crawler_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = str(tmp_path / "banded")
    build_banded_index(emb, idx)
    for batch_id in (1, 2):  # two waves → ≥3 files in touched buckets
        new = spark.createDataFrame(
            [(100_000 + batch_id, [float(x) for x in QUERY_VEC])],
            "vec_id long, embedding array<double>",
        )
        append_banded_index(new, idx)
    before = knn_topk_precomputed(spark, idx, QUERY_VEC, k=5).collect()

    def leaf_file_counts(root, depth):
        out = {}
        for name in sorted(os.listdir(root)):
            p = os.path.join(root, name)
            if not (os.path.isdir(p) and "=" in name):
                continue
            if depth == 1:
                out[p] = sum(1 for f in os.listdir(p)
                             if not f.startswith((".", "_")))
            else:
                out.update(leaf_file_counts(p, depth - 1))
        return out

    pre = leaf_file_counts(idx, 2)
    assert any(n >= 2 for n in pre.values()), "appends made no multi-file dir"
    n_done = compact_partitioned_index(spark, idx, ("band", "bucket"))
    assert n_done == sum(1 for n in pre.values() if n >= 2)
    post = leaf_file_counts(idx, 2)
    assert all(n == 1 for p, n in post.items() if pre[p] >= 2)
    after = knn_topk_precomputed(spark, idx, QUERY_VEC, k=5).collect()
    assert [(r.vec_id, r.distance) for r in after] == [
        (r.vec_id, r.distance) for r in before]
    # idempotent: nothing left to do
    assert compact_partitioned_index(spark, idx, ("band", "bucket")) == 0

    # IVF layout (one partition column)
    ivf = str(tmp_path / "ivf")
    cents = train_ivf_centroids(emb, n_centroids=4)
    build_ivf_index(emb, ivf, cents)
    build_ivf_index(  # second write, append-style small files
        emb.limit(20), ivf + "_extra", cents)
    # append-wave shape: extra part-files land inside existing lists
    spark.read.parquet(ivf + "_extra").write.mode("append").partitionBy(
        "list_id").parquet(ivf)
    b4 = knn_topk_ivf(spark, ivf, cents, QUERY_VEC, k=5, nprobe=4).collect()
    compact_partitioned_index(spark, ivf, ("list_id",), min_files=2)
    aft = knn_topk_ivf(spark, ivf, cents, QUERY_VEC, k=5, nprobe=4).collect()
    assert [(r.vec_id, r.distance) for r in aft] == [
        (r.vec_id, r.distance) for r in b4]


class TestSemanticDecontam:
    def test_planted_duplicate_is_flagged(self, spark):
        """A corpus vector identical to an eval vector must flag at
        cosine 1.0; an orthogonal one must not."""
        import crawler_spark.sources as S
        from crawler_spark.plans.queries_vector import decontam_semantic

        rows = [
            (0, [1.0, 0.0, 0.0, 0.0]),    # eval member (0 % 37 == 0)
            (1, [1.0, 0.0, 0.0, 0.0]),    # exact copy -> contaminated
            (2, [0.0, 1.0, 0.0, 0.0]),    # orthogonal -> clean
            (3, [1.0, 0.05, 0.0, 0.0]),   # cos ~= .9988 -> contaminated
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")
        orig = S.load_table
        try:
            S.load_table = lambda sp, sf, t: df
            got = {r.vec_id: r for r in
                   decontam_semantic(spark, "unused").collect()}
        finally:
            S.load_table = orig
        assert set(got) == {1, 2, 3}  # eval row excluded from output
        assert got[1].contaminated and got[1].max_eval_cos == 1.0
        assert not got[2].contaminated and got[2].max_eval_cos == 0.0
        assert got[3].contaminated


def test_compact_crash_recovery_restores_displaced_bucket(spark, tmp_path):
    """compact_partitioned_index's swap window: a crash after the
    original directory moved to the trash sibling but before its
    replacement landed leaves that bucket missing. The next compaction
    run (or any direct _recover_compact_trash call) must restore the
    displaced original — and the trash lives OUTSIDE the index root so
    a half-finished swap never corrupts partition discovery."""
    import os
    import shutil

    from crawler_spark.operators.similarity import (
        _recover_compact_trash,
        build_banded_index,
        knn_topk_precomputed,
    )
    from crawler_spark.plans.queries_vector import QUERY_VEC
    from crawler_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = str(tmp_path / "banded")
    build_banded_index(emb, idx)
    before = knn_topk_precomputed(spark, idx, QUERY_VEC, k=5).collect()

    # simulate the crash window: displace one leaf dir into the trash
    band = sorted(d for d in os.listdir(idx) if d.startswith("band="))[0]
    bucket = sorted(os.listdir(os.path.join(idx, band)))[0]
    live = os.path.join(idx, band, bucket)
    trash_root = idx + "__compact_trash"
    trash = os.path.join(trash_root, band, bucket)
    os.makedirs(os.path.dirname(trash))
    os.rename(live, trash)
    assert not os.path.isdir(live)

    _recover_compact_trash(idx, trash_root)
    assert os.path.isdir(live), "displaced bucket not restored"
    assert not os.path.isdir(trash_root), "trash not swept"
    after = knn_topk_precomputed(spark, idx, QUERY_VEC, k=5).collect()
    assert [(r.vec_id, r.distance) for r in after] == [
        (r.vec_id, r.distance) for r in before]


def test_knn_null_embedding_never_displaces_real_neighbors(spark):
    """Spark's asc() is NULLS FIRST (Postgres ORDER BY ASC — the
    reference semantics — is NULLS LAST), so a NULL embedding's NULL
    distance used to occupy rank 1 and evict a true neighbor from the
    top-k (review-found). All distance orderings now use
    asc_nulls_last: NULL rows can only appear after every real
    neighbor, and never inside a satisfied top-k."""
    from crawler_spark.operators.similarity import knn_topk, knn_topk_lsh

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, None), (4, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    got = knn_topk(df, [1.0, 0.0], k=2).collect()
    assert [r.vec_id for r in got] == [1, 2], got
    assert all(r.distance is not None for r in got)

    # the LSH path scores candidates the same way; with k covering the
    # full table the NULL row must still sort behind every real one
    lsh = knn_topk_lsh(df, [1.0, 0.0], k=4).collect()
    real = [r for r in lsh if r.distance is not None]
    assert [r.vec_id for r in lsh[:len(real)]] == [r.vec_id for r in real]


def test_partitioned_writes_only_through_write_partitioned():
    """Every index write in operators/similarity.py goes through
    ``_write_partitioned``, so each gets the repartition before
    ``partitionBy`` and one file per directory."""
    import ast
    import inspect

    import crawler_spark.operators.similarity as S

    src = inspect.getsource(S)
    tree = ast.parse(src)
    owners = {}
    for lineno, line in enumerate(src.splitlines(), start=1):
        if ".write" in line:
            fn = next((n.name for n in tree.body
                       if isinstance(n, (ast.FunctionDef, ast.ClassDef))
                       and n.lineno <= lineno <= n.end_lineno), "<module>")
            owners.setdefault(fn, []).append(lineno)
    assert set(owners) == {"_write_partitioned"}, owners
