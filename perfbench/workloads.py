"""The two benchmark workloads: ``query`` and ``ingest``.

Each workload is driven from one client thread. ``op(i)`` runs one
timed operation through the engine's public functions, checks its
output against an independent expectation, and returns an ``Op``
record; the harness (run.py) decides which ops are warm-up and which
are timed. Every Spark job an op starts runs under the job group
``op<i>`` (``op<i>|<phase>`` for ingest phases), so a traced run can
attribute event-log jobs back to operations.
"""

from __future__ import annotations

import json
import os
import random
import sys
import tempfile
import time
from dataclasses import dataclass, field

import numpy as np

import data


@dataclass
class Op:
    latency_s: float
    ok: bool
    kind: str
    parts: dict[str, float] = field(default_factory=dict)
    error: str | None = None


class Workload:
    """Shared plumbing: the Spark session, job groups and size knobs.
    A run times ``ops_per_10s`` operations per 10 s of ``--seconds``,
    however long they take, after ``warmup_ops`` untimed ones."""

    warmup_ops = 1
    ops_per_10s = 1

    def __init__(self, bench):
        self.bench = bench
        self.spark = bench.spark
        self.sc = bench.spark.sparkContext
        self.tiny = bench.tiny
        self.rng = random.Random(bench.seed)
        # fresh state per workload instance, so a second run in one
        # process never sees the first one's tables
        self.dir = tempfile.mkdtemp(prefix=f"{self.name}-", dir=bench.run_dir)

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def summary(self, ops: list[Op]) -> dict[str, float]:
        """Workload-specific end-to-end figures beyond latency."""
        return {}


# ------------------------------------------------------------------- query
# one registered query per operator family the search requests do not
# already reach (they run operators.similarity's knn_topk)
BATCH_QUERIES = (
    "graph_influence_ppr",         # operators.graph
    "dedup_minhash_lsh",           # operators.dedup / shingles
    "ev_holt_linear",              # operators.temporal
)
# batch tables do not depend on --seed: the expected row counts in
# expected_counts.json are fixed, and the seed orders each pass
BATCH_DATA_SEED = 42


class Query(Workload):
    """Passes over the read tiers. A pass runs, in a seeded order, one
    ``plans.search_api`` request of each kind over a seeded sf0.1 corpus
    (``semantic_search``, ``web_pages`` = FTS term + sort +
    offset/limit, ``rag_chat``; each collected to the driver) and the
    registered batch queries over fixed sf0.01 tables (each written to
    the ``noop`` sink with a row-count observation). Search terms come
    from the corpus vocabulary; a seeded share of requests repeats an
    earlier one verbatim."""

    name = "query"
    ops_per_10s = 2
    repeat_share = 0.25
    kinds = ("semantic", "listing", "rag")

    def __init__(self, bench):
        super().__init__(bench)
        import pyarrow.parquet as pq

        from crawler_spark.plans import registry

        self.sf_dir = os.path.join(self.dir, "search_tables")
        data.write_tables(self.sf_dir, 0.001 if self.tiny else 0.1, bench.seed)
        emb = pq.read_table(os.path.join(self.sf_dir, "embeddings.parquet"))
        vecs = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False))
        vecs = vecs.astype(np.float64)
        self.vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        self.vec_ids = emb.column("vec_id").to_numpy()
        self.docs = pq.read_table(
            os.path.join(self.sf_dir, "documents.parquet")).to_pandas()
        self.docs["tokens"] = [frozenset(t.split()) for t in self.docs.text]
        self.source_of = dict(zip(self.docs.doc_id, self.docs.source))
        self.history: dict[str, list[tuple]] = {k: [] for k in self.kinds}

        registry.load_all()
        self.queries = {q: registry.QUERIES[q] for q in BATCH_QUERIES}
        size = "tiny" if self.tiny else "sf0.01"
        self.batch_dir = os.path.join(self.dir, "batch_tables")
        data.write_tables(self.batch_dir, 0.005 if self.tiny else 0.01,
                          BATCH_DATA_SEED)
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "expected_counts.json")
        with open(path) as f:
            self.expected = json.load(f)[size]

    # -- search requests
    def _request(self, kind: str) -> tuple:
        """Next request of ``kind``: a seeded share repeats an earlier
        request of that kind verbatim."""
        seen = self.history[kind]
        if seen and self.rng.random() < self.repeat_share:
            return self.rng.choice(seen)
        words = data.VOCAB
        if kind == "listing":
            req = (kind, self.rng.choice(words),
                   self.rng.choice(["doc_id", "n_chars"]),
                   self.rng.choice(["asc", "desc"]),
                   10 * self.rng.randrange(0, 5))
        else:
            req = (kind, " ".join(self.rng.sample(words, self.rng.randint(2, 3))))
        seen.append(req)
        return req

    def _call(self, req: tuple):
        from crawler_spark.plans import search_api

        kind = req[0]
        if kind == "semantic":
            return search_api.semantic_search(self.spark, self.sf_dir, req[1])
        if kind == "listing":
            _, term, sort_by, order, offset = req
            return search_api.web_pages(
                self.spark, self.sf_dir, limit=10, offset=offset,
                sort_by=sort_by, sort_order=order, query=term)
        return search_api.rag_chat(self.spark, self.sf_dir, req[1])

    # -- independent expectations (numpy / pandas)
    def _topk(self, query: str, max_distance: float, k: int = 5):
        from crawler_spark.functions.embedding import (
            DEFAULT_DIMS, StubEmbedder, normalize_pad)

        q = np.asarray(normalize_pad(
            StubEmbedder(DEFAULT_DIMS).embed_text(query), DEFAULT_DIMS))
        dist = -(self.vecs @ q)
        keep = np.nonzero(dist <= max_distance)[0]
        order = sorted(keep, key=lambda j: (dist[j], self.vec_ids[j]))[:k]
        return [int(self.vec_ids[j]) for j in order], [float(dist[j]) for j in order]

    def check(self, req: tuple, rows: list) -> bool:
        kind = req[0]
        if kind == "semantic":
            ids, dists = self._topk(req[1], 1.0 - 0.95)
            return ([r.doc_id for r in rows] == ids
                    and all(abs(r.distance - d) <= 1e-9
                            for r, d in zip(rows, dists))
                    and all(r.url == self.source_of[r.doc_id] for r in rows))
        if kind == "listing":
            _, term, sort_by, order, offset = req
            hit = self.docs[[term in t for t in self.docs.tokens]]
            hit = hit.sort_values([sort_by, "doc_id"],
                                  ascending=[order == "asc", True], kind="stable")
            want = hit.doc_id.iloc[offset:offset + 10].tolist()
            return [r.doc_id for r in rows] == want
        ids, _ = self._topk(req[1], 1.0)
        if len(rows) != 1:
            return False
        urls = [line[len("URL: "):] for line in rows[0].context.split("\n")
                if line.startswith("URL: ")]
        return (urls == [self.source_of[i] for i in ids]
                and rows[0].prompt.endswith(f"Question: {req[1]}\nAnswer:")
                and rows[0].answer.startswith("stub-answer-"))

    def _search(self, kind: str, parts: dict, corrupt) -> bool:
        req = self._request(kind)
        t0 = time.perf_counter()
        df = self._call(req)
        t1 = time.perf_counter()
        rows = df.collect()
        parts[f"{kind}_s"] = time.perf_counter() - t0
        parts[f"{kind}_build_s"] = t1 - t0
        if corrupt is not None:
            rows = corrupt(kind, rows)
        return self.check(req, rows)

    def _batch(self, q: str, i: int, parts: dict, corrupt) -> bool:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        obs = Observation(f"rows_{q}_{i}")
        df = self.queries[q](self.spark, self.batch_dir)
        (df.observe(obs, F.count(F.lit(1)).alias("n"))
         .write.format("noop").mode("overwrite").save())
        parts[f"{q}_s"] = time.perf_counter() - t0
        n = obs.get["n"]
        if corrupt is not None:
            n = corrupt(q, n)
        if n != self.expected[q]:
            print(f"query: {q} returned {n} rows, expected {self.expected[q]}",
                  file=sys.stderr)
            return False
        return True

    def op(self, i: int, corrupt=None) -> Op:
        items = list(self.kinds) + list(BATCH_QUERIES)
        self.rng.shuffle(items)
        parts, ok = {}, True
        t0 = time.perf_counter()
        for item in items:
            self.group(f"op{i}|{item}")
            if item in self.kinds:
                ok &= self._search(item, parts, corrupt)
            else:
                ok &= self._batch(item, i, parts, corrupt)
        return Op(time.perf_counter() - t0, ok, "pass", parts)

    def summary(self, ops: list[Op]) -> dict[str, float]:
        return {f"{k}_p50_ms": 1000 * float(np.median([o.parts[f"{k}_s"] for o in ops]))
                for k in self.kinds + BATCH_QUERIES}


# ------------------------------------------------------------------ ingest
class Ingest(Workload):
    """Seeded waves of fetched pages through
    ``streaming.ingest_stream.make_batch_processor`` into a fresh
    bucketed pages table; after each wave one url it wrote is read
    back through ``read_pages_table``."""

    name = "ingest"
    warmup_ops = 2
    ops_per_10s = 10

    def __init__(self, bench):
        super().__init__(bench)
        from crawler_spark.streaming.ingest_stream import make_batch_processor

        self.wave_size = 20 if self.tiny else 200
        root = self.dir
        self.pages_dir = os.path.join(root, "pages")
        self.dead_dir = os.path.join(root, "dead")
        self.waves = data.WaveSource(bench.seed, self.wave_size)
        self.process = make_batch_processor(self.pages_dir, self.dead_dir)
        # warm-up waves go to their own table so the timed table starts empty
        self.warm_waves = data.WaveSource(bench.seed + 1_000_003, self.wave_size)
        self.warm_pages_dir = os.path.join(root, "warm_pages")
        self.warm_process = make_batch_processor(
            self.warm_pages_dir, os.path.join(root, "warm_dead"))

    def op(self, i: int, corrupt=None) -> Op:
        from pyspark.sql import functions as F

        from crawler_spark import schemas
        from crawler_spark.streaming.ingest_stream import read_pages_table

        warm = i < 0
        src = self.warm_waves if warm else self.waves
        rows = src.next_wave()
        probe = self.rng.choice([r[0] for r in rows if r[3] is None])
        df = self.spark.createDataFrame(rows, schemas.FETCHED)
        pages_dir = self.warm_pages_dir if warm else self.pages_dir
        self.group(f"op{i}")
        self.bench.phase_tracer.wave = f"op{i}"
        process = self.warm_process if warm else self.process
        t0 = time.perf_counter()
        process(df, -i - 1 if warm else i)  # epoch ids count up from 0
        t1 = time.perf_counter()
        self.bench.phase_tracer.wave = None
        self.group(f"op{i}|lookup")
        hits = (read_pages_table(self.spark, pages_dir)
                .filter(F.col("url") == probe).select("url").collect())
        t2 = time.perf_counter()
        if corrupt is not None:
            hits = corrupt(probe, hits)
        ok = len(hits) == 1 and hits[0].url == probe
        return Op(t1 - t0, ok, "wave", {"lookup_s": t2 - t1,
                                        **self.bench.phase_tracer.pop(f"op{i}")})

    def final_check(self) -> bool:
        """Live rows == the generator's distinct successful urls, and
        dead-letter rows == the planted failures."""
        from crawler_spark.streaming.ingest_stream import read_pages_table

        self.group("final")
        urls = [r.url for r in read_pages_table(
            self.spark, self.pages_dir).select("url").collect()]
        # an ingest with no dead letters leaves no parquet file to read
        has_files = any(n.endswith(".parquet")
                        for _, _, names in os.walk(self.dead_dir) for n in names)
        dead = self.spark.read.parquet(self.dead_dir).count() if has_files else 0
        return (len(urls) == len(set(urls)) and set(urls) == self.waves.live
                and dead == self.waves.dead)

    def summary(self, ops: list[Op]) -> dict[str, float]:
        wave_s = sum(o.latency_s for o in ops)
        return {
            "pages_per_s": self.wave_size * len(ops) / wave_s,
            "lookup_p50_ms": 1000 * float(np.median([o.parts["lookup_s"] for o in ops])),
            "wave_size": self.wave_size,
        }

    def table_stats(self) -> dict[str, float]:
        """Data files and on-disk bytes of the pages table (every
        version directory) per live row."""
        files, size = 0, 0
        for d, _, names in os.walk(self.pages_dir):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                size += os.path.getsize(os.path.join(d, n))
        return {"files_total": files,
                "bytes_per_page": size / max(len(self.waves.live), 1)}


WORKLOADS = {w.name: w for w in (Query, Ingest)}
