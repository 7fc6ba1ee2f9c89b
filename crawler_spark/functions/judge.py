"""LLM-as-judge batch scoring: the model-based quality gate modern
curation pipelines put after the cheap heuristics (gopher rules,
hashed linear classifier) — send each document to a chat model with a
rubric prompt, parse a structured {score, verdict} back, and filter
on it. Same client architecture as functions/extraction.py (the
reference's Ollama /api/chat path, backend/src/structured_data.py:
57-109): a deterministic stub for hermetic tests/oracles, an HTTP
implementation with an injectable transport, ANY failure degrading to
a null-score JSON rather than a task failure.

Scale: scoring is an Arrow-batched pandas_udf — one model call per
row but batched transfer, and the executor-side client is where a
real deployment points at a local inference sidecar (the only way
model scoring survives 100 TB: the data never moves to a central
endpoint, the model sits next to each executor). Retries belong in
the transport (sources/fetch.py's RetryingFetcher pattern) so a
blip costs one call, not a task.
"""

from __future__ import annotations

import hashlib
import json

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crawler_spark.functions.model_server import ChatJSONClient

JUDGE_SCHEMA = T.StructType([
    T.StructField("score", T.IntegerType()),
    T.StructField("verdict", T.StringType()),
])

KEEP_THRESHOLD = 30  # score >= threshold → "keep"


def judge_prompt(content: str) -> str:
    """Rubric prompt (public-knowledge shape: FineWeb-Edu / Nemotron-CC
    style 0-100 educational-quality scoring)."""
    return (
        "Rate the following document 0-100 for training quality "
        "(coherence, information density, no boilerplate). Reply as "
        'JSON: {"score": <int>, "verdict": "keep"|"drop"}.\n'
        f"Document:\n{content}"
    )


class StubJudge:
    """Deterministic judge: score derived from md5(content) only, so a
    SQL oracle reproduces it exactly (('0x'||substr(md5(text),1,4))
    ::BIGINT % 101 in DuckDB) — the Spark side still exercises the
    full client → JSON → from_json pipeline."""

    def judge(self, content: str | None) -> str:
        if content is None:
            return "{}"
        h = hashlib.md5(content.encode("utf-8")).hexdigest()
        score = int(h[:4], 16) % 101
        verdict = "keep" if score >= KEEP_THRESHOLD else "drop"
        return json.dumps({"score": score, "verdict": verdict})


class OllamaJudge(ChatJSONClient):
    """HTTP judge against an Ollama-compatible /api/chat endpoint —
    the same call shape and degradation contract as OllamaExtractor
    (functions/model_server.py ChatJSONClient)."""

    def judge(self, content: str | None) -> str:
        if content is None:
            return "{}"
        return self._chat_json(judge_prompt(content))


def judge_udf(judge: StubJudge | OllamaJudge | None = None):
    """Arrow-batched scoring UDF → JSON string column; malformed or
    failed judgments yield '{}' (NULL struct after from_json)."""
    j = judge or StubJudge()

    @F.pandas_udf(T.StringType())
    def _judge(contents: pd.Series) -> pd.Series:
        def safe(c):
            try:
                return j.judge(c)
            except Exception:
                return "{}"

        return contents.map(safe)

    return _judge


def parse_judgment(col: Column | str) -> Column:
    """from_json against the judge schema; garbage → NULL struct."""
    c = F.col(col) if isinstance(col, str) else col
    return F.from_json(c, JUDGE_SCHEMA)
