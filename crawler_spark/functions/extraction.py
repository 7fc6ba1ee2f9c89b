"""LLM structured-data extraction (SURVEY.md §2.9 F10-F11).

The reference posts page content to an LLM with ``format:'json'`` and a
per-schema prompt, parses the reply, and stores it in the JSONB
``structured_data`` column; malformed replies degrade to ``{}``
(reference backend/src/structured_data.py:33-109). The two predefined
schemas (``ecommerce``, ``blog`` — structured_data.py:12-28) become
Spark StructTypes parsed with from_json.

The default extractor is a deterministic stub whose output is a pure
function of the content (md5 + length arithmetic) — hermetic tests AND
DuckDB-oracle-expressible, so the whole extract→from_json path sits
under the value-level correctness gate. A real LLM extractor plugs in
through the same interface.
"""

from __future__ import annotations

import hashlib
import json

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crawler_spark.functions.model_server import ChatJSONClient

ECOMMERCE_SCHEMA = T.StructType(
    [
        T.StructField("product_name", T.StringType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("currency", T.StringType()),
        T.StructField("sku", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("category", T.StringType()),
    ]
)

BLOG_SCHEMA = T.StructType(
    [
        T.StructField("post_title", T.StringType()),
        T.StructField("author", T.StringType()),
        T.StructField("publication_date", T.StringType()),
        T.StructField("tags", T.ArrayType(T.StringType())),
        T.StructField("summary", T.StringType()),
    ]
)

EXTRACTION_SCHEMAS: dict[str, T.StructType] = {
    "ecommerce": ECOMMERCE_SCHEMA,
    "blog": BLOG_SCHEMA,
}

CATEGORIES = ["electronics", "clothing", "home", "sports", "books"]


def extraction_prompt(schema_name: str, content: str) -> str:
    """F10 prompt templating (reference structured_data.py:33-54)."""
    schema = EXTRACTION_SCHEMAS[schema_name]
    fields = ", ".join(f.name for f in schema.fields)
    return (
        f"Extract the following fields as JSON: {fields}.\n"
        f"Schema: {schema_name}\nContent:\n{content}"
    )


class StubExtractor:
    """Deterministic extractor: fields derived from md5(content) and
    length(content) only — mirrored 1:1 by SQL in the oracle."""

    def extract(self, schema_name: str, content: str | None) -> str:
        if content is None:
            return "{}"
        h = hashlib.md5(content.encode("utf-8")).hexdigest()
        n = len(content)
        if schema_name == "ecommerce":
            out = {
                "product_name": f"product-{h[:8]}",
                "price": (n * 7 % 9000) / 100.0 + 10.0,
                "currency": "USD",
                "sku": h[8:16].upper(),
                "description": content[:40],
                "category": CATEGORIES[n % 5],
            }
        elif schema_name == "blog":
            out = {
                "post_title": f"post-{h[:8]}",
                "author": f"author-{h[8:12]}",
                "publication_date": f"20{n % 25:02d}-01-01",
                "tags": [CATEGORIES[n % 5], CATEGORIES[(n + 1) % 5]],
                "summary": content[:40],
            }
        else:
            return "{}"
        return json.dumps(out)


class OllamaExtractor(ChatJSONClient):
    """HTTP implementation of the Extractor interface — the reference's
    real path (backend/src/structured_data.py:57-109): POST /api/chat
    with ``format:'json'`` and the F10 prompt; ANY failure (transport,
    non-JSON reply, non-dict JSON) degrades to ``'{}'`` exactly like
    the reference (functions/model_server.py ChatJSONClient)."""

    def extract(self, schema_name: str, content: str | None) -> str:
        if content is None or schema_name not in EXTRACTION_SCHEMAS:
            return "{}"
        return self._chat_json(extraction_prompt(schema_name, content))


def extract_udf(schema_name: str, extractor: StubExtractor | None = None):
    """Arrow-batched extraction UDF → JSON string column. A failed/
    malformed extraction yields '{}' (reference structured_data.py:101-109)."""
    ext = extractor or StubExtractor()

    @F.pandas_udf(T.StringType())
    def _extract(contents: pd.Series) -> pd.Series:
        def safe(c):
            try:
                return ext.extract(schema_name, c)
            except Exception:
                return "{}"

        return contents.map(safe)

    return _extract


def parse_structured(col: Column | str, schema_name: str) -> Column:
    """from_json against the declared extraction schema; malformed JSON
    → NULL struct (Spark PERMISSIVE mode), matching the reference's
    empty-dict degradation."""
    c = F.col(col) if isinstance(col, str) else col
    return F.from_json(c, EXTRACTION_SCHEMAS[schema_name])
