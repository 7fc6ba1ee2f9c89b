"""Vector/embedding expression builders.

Everything here is a pure Column expression over ``array<float|double>``
built from SQL higher-order functions — JVM-side, participates in
whole-stage codegen, needs no Python round-trip. This is deliberately
NOT a pandas UDF: at 100 TB the hot path (distance scans over billions
of vectors) must stay inside Tungsten; Arrow transfer would dominate.

Semantics follow the reference engine's vector pipeline:
  * distance   = negative inner product, pgvector's ``<#>`` operator
                 (reference backend/src/db.py:80-84)
  * normalize  = L2 with zero-vector passthrough
                 (reference backend/src/embeddings.py:65-71)
  * truncate_or_pad to a fixed dimensionality
                 (reference backend/src/embeddings.py:52-56)
Stored vectors are normalized+padded at ingest; queries are normalized
+padded at query time, so for unit vectors -dot == -cosine.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from crawler_spark.functions.text import bind_once

ColumnOrName = Column | str


def _c(col: ColumnOrName) -> Column:
    return F.col(col) if isinstance(col, str) else col


def to_double_array(col: ColumnOrName) -> Column:
    """Cast array<float> → array<double> so all arithmetic is IEEE f64."""
    return _c(col).cast("array<double>")


def _double_sql(v: float) -> str:
    """``CAST(<v> AS DOUBLE)`` as SQL text. ``repr`` is the shortest
    string that round-trips, and the parser reads it back correctly
    rounded, so the literal is the same double. NaN and ±inf have no
    numeric literal and are spelled as string casts."""
    if math.isnan(v):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(v):
        return "CAST('Infinity' AS DOUBLE)" if v > 0 else "CAST('-Infinity' AS DOUBLE)"
    return f"CAST({v!r}D AS DOUBLE)"


def vector_lit(values: Sequence[float]) -> Column:
    """A literal array<double> column from driver-side floats.

    Built as ONE SQL expression: the analyzed plan is the one
    ``F.array(*[F.lit(v).cast("double")])`` gives (every finite value
    prints the same), but in a handful of Py4J calls instead of ~15 per
    element (73 values: 3 calls and 0.9 ms against 1,102 and 198 ms)."""
    return F.expr("array(" + ", ".join(_double_sql(float(v)) for v in values) + ")")


def dot(a: ColumnOrName, b: ColumnOrName | Column) -> Column:
    """Inner product via zip_with + aggregate (left-to-right fold —
    deterministic, matches a sequential oracle computation exactly)."""
    return F.aggregate(
        F.zip_with(to_double_array(a), b if isinstance(b, Column) else to_double_array(b),
                   lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def l2_norm(col: ColumnOrName) -> Column:
    return F.sqrt(
        F.aggregate(to_double_array(col), F.lit(0.0).cast("double"),
                    lambda acc, x: acc + x * x)
    )


def l2_normalize(col: ColumnOrName) -> Column:
    """v / ||v||2 with zero-vector passthrough (reference embeddings.py:65-71).

    The norm is bound once (text.bind_once) before the per-element
    divide: HOF lambdas re-evaluate captured outer expressions per
    reference, so an unbound ``nrm`` re-runs the O(d) norm aggregate
    for EVERY element — O(d²) per vector on the hot index-build path."""
    return bind_once(
        to_double_array(col),
        lambda arr: bind_once(
            F.sqrt(
                F.aggregate(arr, F.lit(0.0).cast("double"),
                            lambda acc, x: acc + x * x)
            ),
            lambda nrm: F.when(nrm == 0.0, arr).otherwise(
                F.transform(arr, lambda x: x / nrm)
            ),
        ),
    )


def truncate_or_pad(col: ColumnOrName, dims: int) -> Column:
    """v[:dims] if len(v) >= dims else v ++ zeros (reference embeddings.py:52-56)."""
    arr = to_double_array(col)
    padded = F.concat(arr, F.array_repeat(F.lit(0.0).cast("double"), dims - F.size(arr)))
    return F.when(F.size(arr) >= dims, F.slice(arr, 1, dims)).otherwise(padded)


def neg_dot(col: ColumnOrName, query: Column) -> Column:
    """pgvector ``<#>``: distance = -(e . q); ascending distance ==
    descending similarity (reference db.py:80-84)."""
    return -dot(col, query)


# --- int8 scalar quantization (SQ8) ---------------------------------------
def sq8_scale(col: ColumnOrName) -> Column:
    """Per-vector SQ8 scale: max|x| / 127 (0 for the zero vector)."""
    mx = F.aggregate(
        to_double_array(col), F.lit(0.0).cast("double"),
        lambda acc, x: F.greatest(acc, F.abs(x)),
    )
    return mx / F.lit(127.0)


def sq8_quantize(col: ColumnOrName) -> Column:
    """array<double> → array<tinyint>: round(x / scale) ∈ [-127, 127].

    The 100 TB lever is IO: an int8 index is 4× smaller than f32 (8×
    vs f64), and ANN scans over cold storage are bandwidth-bound. The
    whole codec is expressions — quantize, integer dot, and rescale
    all stay inside whole-stage codegen."""
    return bind_once(
        to_double_array(col),
        lambda arr: bind_once(
            F.aggregate(arr, F.lit(0.0).cast("double"),
                        lambda acc, x: F.greatest(acc, F.abs(x))) / F.lit(127.0),
            # scale bound once — captured unbound it would re-run the
            # O(d) max-abs fold per element (O(d²) per vector)
            lambda scale: F.when(
                scale == 0.0, F.transform(arr, lambda x: (x * 0).cast("tinyint"))
            ).otherwise(
                F.transform(arr, lambda x: F.round(x / scale).cast("tinyint"))
            ),
        ),
    )


def sq8_neg_dot(
    qv: ColumnOrName, scale: ColumnOrName, query_q: Column, query_scale: Column
) -> Column:
    """Approximate ``neg_dot`` on quantized vectors: the int8·int8 dot
    accumulates exactly in LONG (no float error), then ONE rescale by
    scale_a·scale_b. |error| ≤ (|a|₁·s_b + |b|₁·s_a)/2 from rounding."""
    idot = F.aggregate(
        F.zip_with(_c(qv), query_q, lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return -(idot.cast("double") * _c(scale) * query_scale)
