"""Pluggable embedder interface + deterministic stub.

The reference calls an Ollama model server for text (llama3.2) and
vision (llava) embeddings (reference backend/src/embeddings.py:12-43).
That is a serving concern, not an engine concern: here the engine takes
an ``Embedder`` and wraps it in an Arrow-batched pandas UDF. The
default ``StubEmbedder`` is fully deterministic (seeded SHA-256 →
floats), so the whole pipeline is hermetically testable — the same way
the reference's own tests mock the model calls
(reference backend/tests/test_tasks.py:6-15).
"""

from __future__ import annotations

import hashlib
import math
import struct
from collections.abc import Sequence

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType

from crawler_spark.functions.model_server import post_json

DEFAULT_DIMS = 64  # testdata embedding dimensionality; reference uses 1024


class StubEmbedder:
    """Deterministic text/vision embedder: SHA-256 counter-mode floats
    in [-1, 1], L2-normalized. Same text → same vector, any process."""

    def __init__(self, dims: int = DEFAULT_DIMS, salt: str = "crawler_spark"):
        self.dims = dims
        self.salt = salt

    def _raw(self, key: str) -> list[float]:
        out: list[float] = []
        counter = 0
        while len(out) < self.dims:
            h = hashlib.sha256(f"{self.salt}|{key}|{counter}".encode()).digest()
            # 8 uint32 per digest → floats in [-1, 1]
            for (u,) in struct.iter_unpack(">I", h):
                out.append(u / 2147483647.5 - 1.0)
                if len(out) == self.dims:
                    break
            counter += 1
        return out

    def embed_text(self, text: str) -> list[float]:
        v = self._raw("text:" + (text or ""))
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v] if n else v

    def embed_vision(self, url: str) -> list[float]:
        v = self._raw("vision:" + (url or ""))
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v] if n else v


def normalize_pad(vec: Sequence[float], dims: int) -> list[float]:
    """Driver-side mirror of V2∘V3: L2-normalize then truncate/pad —
    applied to query vectors before building the distance expression
    (reference backend/src/search.py:79-86)."""
    v = list(vec)
    n = math.sqrt(sum(x * x for x in v))
    if n:
        v = [x / n for x in v]
    if len(v) >= dims:
        return v[:dims]
    return v + [0.0] * (dims - len(v))


def text_embed_udf(embedder: StubEmbedder | None = None, dims: int = DEFAULT_DIMS):
    """Arrow-batched pandas UDF: content → embedding (V6), already
    normalized+padded (V2∘V3) — applied Python-side exactly like the
    reference's ingest (tasks.py:87-88); Spark can't nest a Python UDF
    result inside higher-order-function lambdas anyway."""
    emb = embedder or StubEmbedder(dims)

    @F.pandas_udf(ArrayType(DoubleType()))
    def _embed(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: normalize_pad(emb.embed_text(t), dims) if t is not None else None
        )

    return _embed


def vision_embed_udf(
    embedder: StubEmbedder | None = None,
    dims: int = DEFAULT_DIMS,
    fetcher=None,
):
    """Arrow-batched pandas UDF: image url → embedding (V7),
    normalized+padded like text_embed_udf.

    With a ``fetcher`` this is the reference's full vision chain
    (embeddings.py:18-43): GET the image bytes, base64-encode them
    (F8, embeddings.py:29-31 — the PIL re-encode step is where a real
    deployment decodes/JPEGs; the stub passes bytes straight to
    base64), and embed the base64 payload. A fetch failure yields a
    NULL embedding — the row survives, matching the reference's
    None-propagation. Without a fetcher the stub embeds the url
    directly (hermetic default for tests)."""
    import base64 as b64mod

    emb = embedder or StubEmbedder(dims)

    @F.pandas_udf(ArrayType(DoubleType()))
    def _embed(urls: pd.Series) -> pd.Series:
        def go(u):
            if u is None:
                return None
            if fetcher is None:
                return normalize_pad(emb.embed_vision(u), dims)
            _ctype, body, err = fetcher.fetch(u)
            if err is not None or body is None:
                return None
            payload = b64mod.b64encode(body).decode("utf-8")
            return normalize_pad(emb.embed_vision(payload), dims)

        return urls.map(go)

    return _embed


class OllamaEmbedder:
    """HTTP implementation of the Embedder interface against an Ollama
    model server — the reference's real path (backend/src/
    embeddings.py:12-43, config.py:5-7): POST /api/embeddings
    ``{model, prompt}`` for text; the vision model additionally gets
    the base64 image payload via ``images`` (the payload our
    vision_embed_udf chain produces). The engine only ever sees the
    Embedder interface, so swapping the StubEmbedder for this changes
    no plan — exactly SURVEY.md §7 decision 4.

    ``transport`` is an injectable ``(url, json_payload) -> dict`` so
    unit tests exercise request construction hermetically; the default
    is urllib with a bounded timeout. Executors each build their own
    connection (the instance pickles into the UDF closure). Wrap in
    RetryingEmbedder for the reference's D4 retry semantics."""

    def __init__(
        self,
        base_url: str = "http://localhost:11434",
        text_model: str = "llama3.2:latest",
        vision_model: str = "llava",
        timeout_sec: float = 60.0,
        transport=None,
    ):
        self.base_url = base_url.rstrip("/")
        self.text_model = text_model
        self.vision_model = vision_model
        self.timeout = timeout_sec
        self.transport = transport

    def _post(self, path: str, payload: dict) -> dict:
        return post_json(self.base_url + path, payload, self.timeout,
                         self.transport)

    def embed_text(self, text: str) -> list[float]:
        out = self._post(
            "/api/embeddings", {"model": self.text_model, "prompt": text or ""}
        )
        return [float(x) for x in out["embedding"]]

    def embed_vision(self, image_b64: str) -> list[float]:
        out = self._post(
            "/api/embeddings",
            {
                "model": self.vision_model,
                "prompt": "Describe this image",
                "images": [image_b64 or ""],
            },
        )
        return [float(x) for x in out["embedding"]]


class RetryingEmbedder:
    """D4 app-level retry around any Embedder (reference tasks.py:20-25:
    autoretry_for=(Exception,), max_retries=3): bounded re-attempts
    before the row's embedding degrades to an error/None. No sleeping
    inside executors by default (the reference's 60 s countdown is a
    queue-level delay Spark has no analogue for)."""

    def __init__(self, inner, max_retries: int = 3):
        self.inner = inner
        self.max_retries = max_retries

    def _retry(self, fn, *args):
        last_exc: Exception | None = None
        for _ in range(self.max_retries + 1):
            try:
                return fn(*args)
            except Exception as exc:  # noqa: BLE001 — retry semantics
                last_exc = exc
        raise last_exc

    def embed_text(self, text: str) -> list[float]:
        return self._retry(self.inner.embed_text, text)

    def embed_vision(self, url: str) -> list[float]:
        return self._retry(self.inner.embed_vision, url)
