"""One-off generator for crawler_spark/plans/oracle_pins.py — the
pinned-VALUES oracles of deterministic-but-not-SQL-derivable queries
(registered with ``oracle_sf="0.01"``; see plans/registry.py).

Derivation policy, per query (documented in the generated file too):

* INDEPENDENT pins — expected rows computed here WITHOUT running the
  Spark query, from the raw parquet via a single-node reference
  implementation, so the pin cannot inherit a Spark-plumbing bug:
    - txt_compression_ratio: python zlib over the parquet text
    - tok_bpe_train: python word count (re-tokenized here) feeding the
      driver-side merge learner (the distributed half — the word-count
      shuffle — is what the reference replaces)
    - tok_bpe_encode: the same independent merges applied per document
      in plain python (the Arrow mapInPandas broadcast-closure path is
      what the pin verifies)
    - search_mmr_rerank: numpy retrieval + greedy MMR reference
    - multimodal_clip_filter: StubEmbedder + pure-python cosine over
      reconstructed fake payloads
    - embed_random_projection: the seeded JL matrix regenerated here
      (same rng recipe) and applied by one numpy dgemm over the raw
      parquet vectors
* REGRESSION pins — seeded one-off builds whose stats have no
  independent closed form (k-means / hyperplane / z-order layouts);
  pinned from the Spark output once, so any later drift (seed, plan,
  partitioning nondeterminism) fails the driver gate:
    - knn_index_build, ivfpq_index_build
    - streaming_index_append_e2e: stream-append then probe of the
      seeded banded index; the lockstep batch-equality test plus this
      pin make the endpoint driver-checkable
    - knn_index_append: batch append + probe of the same banded index
    - dedup_semantic: IVF-centroid-scoped cosine closure (seeded
      k-means has no closed form; recall floors live in tests)
    - layout_compact_build: file counts + row conservation of the
      compaction job (round-robin repartition is deterministic since
      SPARK-23207; verified stable across two runs before pinning)
    - layout_zorder_build: pinnable since the round-10 deterministic
      rewrite of write_zordered (exact bounded-histogram file cuts +
      hash-probe partition remap replaced repartitionByRange's
      per-run-seeded sampling, the reason a pin was previously
      REJECTED); verified bit-identical across shuffle confs and
      sessions before pinning
    - diag_ann_recall: the per-tier recall scorecard — pinning it
      turns the "approximate is good enough" measurement into an
      ENFORCED driver gate (seeded tiers, fixed query vector;
      diag_plan_metrics stays rows-only — its partition counts track
      the session's shuffle conf, which the driver owns)
Re-run after changing any pinned query:
    python tools/pin_oracles.py  # rewrites plans/oracle_pins.py
then re-run the sf0.01 parity split to validate.
"""

from __future__ import annotations

import hashlib
import os
import re
import sys
import zlib

# the documented invocation is `python tools/pin_oracles.py` from the
# repo root — make the repo importable regardless of PYTHONPATH
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"
OUT = "crawler_spark/plans/oracle_pins.py"


def _lit(v) -> str:
    import datetime
    import math

    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, datetime.datetime):
        return "'" + v.isoformat(sep=" ") + "'"
    if isinstance(v, float):
        # fail at GENERATION time, not as a DuckDB parse error inside
        # every future parity run: VALUES pins carry finite data only
        if math.isnan(v) or math.isinf(v):
            raise ValueError(f"non-finite pin value {v!r}")
        return repr(v)
    if isinstance(v, (int, bool)):
        return str(v)
    if v is None:
        # NULL is representable, but BEWARE: duckdb's pandas bridge
        # widens a nullable BIGINT column to float64 (NaN), which can
        # never value-hash-match Spark's int64 — prefer a sentinel in
        # the QUERY (streaming_neardup_e2e uses dup_of = -1) and keep
        # NULL pins to genuinely nullable VARCHAR/BOOLEAN columns
        return "NULL"
    raise ValueError(f"unpinnable cell {v!r} ({type(v).__name__}) — "
                     "exotic types need explicit handling")


def values_sql(rows, cols: list[tuple[str, str]]) -> str:
    """VALUES pin with explicit per-column casts (the pandas bridge
    must see the same dtypes Spark produces)."""
    body = ",\n            ".join(
        "(" + ", ".join(_lit(v) for v in r) + ")" for r in rows
    )
    sel = ", ".join(
        f"CAST(c{i} AS {typ}) AS {name}" for i, (name, typ) in enumerate(cols)
    )
    names = ", ".join(f"c{i}" for i in range(len(cols)))
    return (
        f"SELECT {sel} FROM (VALUES\n            {body}\n"
        f"        ) t({names})"
    )


def _docs():
    import duckdb

    return duckdb.sql(
        f"SELECT doc_id, text FROM "
        f"read_parquet('{SF_DIR}/documents.parquet') ORDER BY doc_id"
    ).fetchall()


def pin_compression_ratio() -> str:
    rows = []
    for doc_id, text in _docs():
        raw = (text or "").encode("utf-8")
        n = len(raw)
        rows.append(
            (doc_id, n, round(len(zlib.compress(raw, 6)) / max(n, 1), 6)))
    return values_sql(
        rows, [("doc_id", "BIGINT"), ("n_bytes", "BIGINT"),
               ("compression_ratio", "DOUBLE")])


def _independent_merges() -> list[tuple[str, str]]:
    from collections import Counter

    from crawler_spark.operators.bpe import learn_merges
    # hyperparameters come from the queries under test — a retune
    # there must flow into a regenerated pin, not silently diverge
    from crawler_spark.plans.queries_mlprep import _BPE_MERGES, _BPE_TOP_V

    c: Counter = Counter()
    for _doc_id, text in _docs():
        c.update(t for t in
                 re.split(r"\W+", (text or "").lower(), flags=re.ASCII) if t)
    counts = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:_BPE_TOP_V]
    return learn_merges(counts, _BPE_MERGES)


def pin_bpe_train() -> str:
    merges = _independent_merges()
    rows = [(i, a, b, a + b) for i, (a, b) in enumerate(merges)]
    return values_sql(
        rows, [("rank", "INTEGER"), ("left", "VARCHAR"),
               ("right", "VARCHAR"), ("merged", "VARCHAR")])


def pin_bpe_encode() -> str:
    from crawler_spark.operators.bpe import _py_tokenize, encode_word

    ranks = {p: i for i, p in enumerate(_independent_merges())}
    rows = []
    for doc_id, text in _docs():
        pieces: list[str] = []
        for w in _py_tokenize(text or ""):
            pieces.extend(encode_word(w, ranks))
        rows.append((doc_id, len(pieces), "|".join(pieces[:12])))
    return values_sql(
        rows, [("doc_id", "BIGINT"), ("n_pieces", "BIGINT"),
               ("first_pieces", "VARCHAR")])


def _embeddings():
    import duckdb

    return duckdb.sql(
        f"SELECT vec_id, embedding FROM "
        f"read_parquet('{SF_DIR}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()


def _l2(v: list[float]) -> list[float]:
    import math

    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v] if n else list(v)


def _dot(a, b) -> float:
    s = 0.0
    for x, y in zip(a, b):
        s += x * y
    return s


def pin_mmr_rerank() -> str:
    from crawler_spark.plans.queries_vector import QUERY_VEC

    cand = []
    for vec_id, emb in _embeddings():
        v = _l2([float(x) for x in emb])
        cand.append((-_dot(v, QUERY_VEC), vec_id, v))
    cand.sort(key=lambda t: (t[0], t[1]))
    cand = cand[:30]
    rel = [-d for d, _, _ in cand]
    vecs = [v for _, _, v in cand]
    ids = [i for _, i, _ in cand]
    lam, out, selected = 0.7, [], []
    max_sim = [None] * len(ids)
    for rank in range(1, 11):
        best, best_s = None, None
        for i in range(len(ids)):
            if i in selected:
                continue
            div = max_sim[i] if max_sim[i] is not None else 0.0
            s = lam * rel[i] - (1.0 - lam) * div
            if best_s is None or s > best_s:
                best, best_s = i, s
        selected.append(best)
        for i in range(len(ids)):
            s = _dot(vecs[best], vecs[i])
            if max_sim[i] is None or s > max_sim[i]:
                max_sim[i] = s
        out.append((rank, ids[best], round(rel[best], 6), round(best_s, 6)))
    return values_sql(
        out, [("rank", "BIGINT"), ("vec_id", "BIGINT"),
              ("relevance", "DOUBLE"), ("mmr_score", "DOUBLE")])


def pin_clip_filter() -> str:
    from crawler_spark.functions.embedding import StubEmbedder
    from crawler_spark.operators.multimodal import FAKE_IMAGE_MAGIC

    emb = StubEmbedder(16)
    rows = []
    for doc_id, text in _docs():
        if doc_id % 4 != 0:
            continue
        payload = (
            FAKE_IMAGE_MAGIC
            + f"{64 + doc_id % 256}x{64 + doc_id % 128}:".encode()
            + hashlib.sha256((text or "").encode()).digest()
        )
        cap = _l2(emb.embed_text(text))
        img = _l2(emb.embed_vision(hashlib.sha256(payload).hexdigest()))
        score = _dot(cap, img)
        if score > -0.05:
            rows.append((doc_id, round(score, 6)))
    return values_sql(
        rows, [("doc_id", "BIGINT"), ("clip_score", "DOUBLE")])


def pin_random_projection() -> str:
    import math

    import numpy as np

    from crawler_spark.plans.queries_vector import _JL_OUT_DIMS, _JL_SEED

    rows_in = _embeddings()
    d = len(rows_in[0][1])
    out_dims, seed = _JL_OUT_DIMS, _JL_SEED
    rng = np.random.default_rng(seed)
    r = rng.standard_normal((d, out_dims)) / math.sqrt(out_dims)
    rows = []
    for vec_id, emb in rows_in:
        p = np.asarray(emb, dtype=np.float64) @ r
        norm = math.sqrt(float(p @ p))
        rows.append((vec_id, out_dims, round(norm, 6),
                     round(float(p[0]), 6), round(float(p[1]), 6)))
    return values_sql(
        rows, [("vec_id", "BIGINT"), ("proj_dim", "INTEGER"),
               ("proj_norm", "DOUBLE"), ("proj_x0", "DOUBLE"),
               ("proj_x1", "DOUBLE")])


def _spark():
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


_DUCK_TYPE = {"bigint": "BIGINT", "int": "INTEGER", "double": "DOUBLE",
              "string": "VARCHAR", "boolean": "BOOLEAN",
              "timestamp": "TIMESTAMP"}


def regression_pin(name: str) -> str:
    import __spark_entry__ as E

    df = E.queries()[name](_spark(), SF_DIR)
    cols = [(f.name, _DUCK_TYPE[f.dataType.simpleString()])
            for f in df.schema.fields]
    rows = [tuple(r) for r in df.collect()]
    print(f"  {name}: {len(rows)} rows, cols {cols}")
    return values_sql(rows, cols)


def main() -> None:
    pins: dict[str, str] = {}
    pins["txt_compression_ratio"] = pin_compression_ratio()
    pins["tok_bpe_train"] = pin_bpe_train()
    pins["tok_bpe_encode"] = pin_bpe_encode()
    pins["search_mmr_rerank"] = pin_mmr_rerank()
    pins["multimodal_clip_filter"] = pin_clip_filter()
    pins["embed_random_projection"] = pin_random_projection()
    # Regression-pinned queries, one list (every entry is a
    # deterministic function of seeds+knobs+data AND partition-
    # independent — bucket membership, TakeOrdered with id tiebreaks,
    # HLL max-merge, driver-side sample-trained quantizers; retuning
    # any knob is a pin regeneration). knn_topk_ivf_refined and
    # graph_influence_ppr joined the list once their float reductions
    # moved to DECIMAL(38,18)-exact sums (graph _exact_sum /
    # refine_centroids) — partial-sum order can no longer move a rank
    # or flip a nearest-centroid argmax, so the pins cannot flake.
    regression_names = [
        # index builds + maintenance
        "knn_index_build", "ivfpq_index_build",
        "streaming_index_append_e2e", "knn_index_append",
        "layout_compact_build", "layout_zorder_build",
        # semantic dedup closure + recall scorecard
        "dedup_semantic", "diag_ann_recall",
        # the approximate serving tier
        "o3_knn_topk_lsh", "o3_knn_topk_sq8", "o3_knn_topk_pq",
        "o3_knn_filtered_ivf", "knn_topk_ivf",
        "knn_topk_ivfpq", "knn_topk_batch_ivf",
        "knn_probe_precomputed", "knn_probe_ivfpq",
        # LSH pair generators + the HLL rollup
        "dedup_minhash_lsh", "dedup_simhash_pairs", "simsearch_lsh_pairs",
        "ev_hll_distinct_rollup",
        # decimal-exact iterative ops (see note above)
        "graph_influence_ppr", "knn_topk_ivf_refined",
        # single-trigger streaming replay, deterministic since the
        # state fn sorts each group's trigger rows by doc id
        "streaming_neardup_e2e",
        # incremental SemDeDup at ingest: verdicts are against the
        # FIXED corpus only, so the result is independent of
        # micro-batch boundaries and arrival order (an independent
        # numpy reference pins the values in tests/test_streaming.py)
        "streaming_semantic_dedup_e2e",
        # self-growing semantic dedup: the wave order is FIXED by
        # vec_id ranges, so the earlier-arrival-wins loop is
        # deterministic (independent numpy sequential reference in
        # tests/test_dedup.py)
        "dedup_semantic_incremental",
    ]
    # pins record FRESH index behavior: the IVF/banded/PQ indexes are
    # built in this process's scratch root (session.scratch_dir), never
    # read from another process's build
    for name in regression_names:
        pins[name] = regression_pin(name)

    with open(OUT, "w") as f:
        f.write(
            '"""GENERATED by tools/pin_oracles.py — pinned-VALUES\n'
            "oracles at the driver's sf0.01 (registered with\n"
            "oracle_sf='0.01'; the local parity suite skips them at\n"
            "other SFs). Derivations — independent single-node\n"
            "reference for ratio/BPE/MMR/CLIP, seeded-build regression\n"
            "pins for the index/layout stats — are documented in the\n"
            'generator. Do not edit by hand; re-run the generator."""\n\n'
            "PINS: dict[str, str] = {\n"
        )
        for k, v in pins.items():
            f.write(f"    {k!r}: \"\"\"\n        {v}\n    \"\"\",\n")
        f.write("}\n")
        f.write(
            "\n\ndef pin_kwargs(name: str) -> dict:\n"
            '    """Registration kwargs for a pinned query — empty\n'
            "    (rows-only) when the pin is absent, so\n"
            "    tools/pin_oracles.py can import the registry while\n"
            "    (re)generating this module without a chicken-and-egg\n"
            '    crash."""\n'
            "    if name in PINS:\n"
            "        return {\"oracle\": PINS[name], \"oracle_sf\": \"0.01\"}\n"
            "    return {}\n"
        )
    print("wrote", OUT, "with", len(pins), "pins")


if __name__ == "__main__":
    main()
