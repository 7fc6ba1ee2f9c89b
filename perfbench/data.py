"""Seeded synthetic inputs for the benchmark.

Writes the three tables the timed paths read (``documents``,
``embeddings``, ``events``) with the column layout of the engine's
test corpus, and builds the fetched-page waves of the ingest
workload. Everything is derived from one integer seed with numpy's
PCG64, so the same seed always yields byte-identical inputs.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from crawler_spark.sources.file_handlers import STUB_PDF_MAGIC

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DIMS = 64

# rows per unit of scale factor, matching the engine's test corpus
# (sf0.1 = 5000 documents, 2000 vectors, 100k events)
DOCS_PER_SF = 50_000
VECS_PER_SF = 20_000
EVENTS_PER_SF = 1_000_000


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    n_words = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=int(n_words.sum()))
    texts, pos = [], 0
    for w in n_words:
        texts.append(" ".join(VOCAB[i] for i in words[pos:pos + w]))
        pos += w
    # 5% planted near-duplicates: a copy of an earlier-or-later doc + " dup"
    for i in rng.choice(n, size=n // 20, replace=False):
        j = int(rng.integers(0, n))
        if j != i:
            texts[i] = texts[j] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, size=n, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.standard_normal((10, DIMS))
    labels = rng.integers(0, 10, size=n).astype(np.int32)
    v = rng.standard_normal((n, DIMS)) + 0.6 * centers[labels]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(v.ravel()), DIMS).cast(pa.list_(pa.float32())),
        "label": labels,
    })


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400 * 1_000_000
    ts = np.sort(start + rng.integers(0, span, size=n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, size=n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, size=n).tolist(),
        "value": np.round(rng.exponential(50.0, size=n), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, size=n)],
    })


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write documents/embeddings/events parquet files for scale ``sf``
    under ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_events = max(int(EVENTS_PER_SF * sf), 1000)
    tables = {
        "documents": _documents(rng, max(int(DOCS_PER_SF * sf), 50)),
        "embeddings": _embeddings(rng, max(int(VECS_PER_SF * sf), 20)),
        "events": _events(rng, n_events, max(n_events // 66, 20)),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# --------------------------------------------------------------- ingest
# content-type mix of fetched pages (web_pages file_type skew 90/7/3)
_KINDS = ["html", "pdf", "image"]
_KIND_P = [0.90, 0.07, 0.03]
_CTYPE = {"html": "text/html; charset=utf-8", "pdf": "application/pdf",
          "image": "image/png"}
_PNG = bytes.fromhex("89504e470d0a1a0a0000000d4948445200000001000000010806"
                     "0000001f15c4890000000d49444154789c6360000002000154a2"
                     "4f5d0000000049454e44ae426082")


def _html(rng: np.random.Generator, domain: str) -> bytes:
    words = " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), size=40))
    title = " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), size=4))
    return (
        f"<html><head><title>{title}</title>"
        f'<meta name="description" content="{title} page">'
        f'<meta property="og:type" content="article"></head><body>'
        f"<script>var x = 1;</script><p>{words}</p>"
        f'<a href="https://{domain}/p{int(rng.integers(0, 999))}">next</a>'
        f'<a href="https://other.test/x">out</a></body></html>'
    ).encode()


class WaveSource:
    """Lazy stream of fetched-page waves (rows of url, content_type,
    body, fetch_error) that tracks the outcome the engine must reach:
    ``live`` = distinct urls that parsed, ``dead`` = rows that must
    dead-letter.

    Domains are Zipf-skewed; ``recrawl_share`` of the rows re-fetch a
    url of an earlier wave (an upsert, not a new row); ``error_share``
    of the rows carry a planted fetch error. A wave holds each url at
    most once, as a wave of the engine's crawl tier does: its frontier
    is made distinct and anti-joined against the visited set
    (``plans.crawl``), so a url comes back only in a later wave."""

    def __init__(self, seed: int, wave_size: int, n_domains: int = 50,
                 recrawl_share: float = 0.1, error_share: float = 0.02):
        self.rng = np.random.default_rng(seed)
        self.wave_size = wave_size
        self.recrawl_share = recrawl_share
        self.error_share = error_share
        zipf = 1.0 / np.arange(1, n_domains + 1) ** 1.1
        self.domain_p = zipf / zipf.sum()
        self.urls: list[str] = []  # every url generated so far
        self.live: set[str] = set()
        self.dead = 0
        self.next_page = 0

    def next_wave(self) -> list[tuple]:
        rng, rows = self.rng, []
        earlier, in_wave = len(self.urls), set()
        for _ in range(self.wave_size):
            url = None
            if earlier and rng.random() < self.recrawl_share:
                url = self.urls[int(rng.integers(0, earlier))]
                if url in in_wave:
                    url = None
            if url is not None:
                domain = url.split("/")[2]
            else:
                domain = f"d{int(rng.choice(len(self.domain_p), p=self.domain_p))}.test"
                url = f"https://{domain}/page/{self.next_page}"
                self.next_page += 1
                self.urls.append(url)
            in_wave.add(url)
            if rng.random() < self.error_share:
                rows.append((url, None, None, "timeout"))
                self.dead += 1
                continue
            kind = _KINDS[int(rng.choice(3, p=_KIND_P))]
            if kind == "html":
                body = _html(rng, domain)
            elif kind == "pdf":
                body = STUB_PDF_MAGIC + " ".join(
                    VOCAB[i] for i in rng.integers(0, len(VOCAB), size=12)).encode()
            else:
                body = _PNG
            rows.append((url, _CTYPE[kind], body, None))
            self.live.add(url)
        return rows
