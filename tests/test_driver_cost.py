"""The query path's fixed driver cost: plan construction in a bounded
number of Py4J round-trips, a codegen cache that holds a whole query
pass, one schema-inference job per table version, and a ``vector_lit``
whose values equal the per-element ``F.lit`` form it replaced."""

from __future__ import annotations

import math
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import SF_SMALL as SF
from pyspark.sql import functions as F

from crawler_spark.session import codegen_compile_count, count_py4j_calls


def _calls(spark, build) -> int:
    """Py4J commands one warm ``build()`` sends (a first call warms the
    table schema cache and lazily loaded JVM classes)."""
    build()
    with count_py4j_calls(spark) as n:
        build()
    return n[0]


def test_semantic_search_builds_in_bounded_py4j_calls(spark):
    """~1,050 calls at this bound's writing; the per-element query-vector
    literal alone used to add ~1,100 more (64 dims)."""
    from crawler_spark.plans.search_api import semantic_search

    n = _calls(spark, lambda: semantic_search(spark, SF, "hash join engine"))
    assert n <= 1400, n


def test_minhash_signatures_builds_in_bounded_py4j_calls(spark):
    """~425 calls at this bound's writing against ~2,400 when the 32
    min-aggregates and the signature array were built from ``F.*``."""
    from crawler_spark.operators.dedup import minhash_signatures
    from crawler_spark.sources import load_table

    docs = load_table(spark, SF, "documents")
    n = _calls(spark, lambda: minhash_signatures(docs))
    assert n <= 600, n


def test_py4j_call_counters_nest(spark):
    """An inner counter adds to the outer one and hands the client back
    to it on exit; the outermost exit leaves the client as it was."""
    client = spark.sparkContext._gateway._gateway_client
    with count_py4j_calls(spark) as outer:
        spark.range(1).columns
        with count_py4j_calls(spark) as inner:
            spark.range(1).columns
        mid = outer[0]
        spark.range(1).columns
    assert 0 < inner[0] < mid < outer[0]
    assert "send_command" not in vars(client)


def _build_jobs(spark, build) -> int:
    """Spark jobs a warm ``build()`` starts while it constructs its
    plan (a first call fills the table schema cache)."""
    build()
    sc = spark.sparkContext
    group = f"build_{id(build)}"
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_partition_counts_are_sized_without_jobs(spark):
    """The fuzzy probe's and the cosine blocks' counts come from the
    plan's size estimate: no query runs its input while its plan is
    built."""
    from crawler_spark.plans import registry

    registry.load_all()
    for q in ("dedup_fuzzy_levenshtein", "dedup_fuzzy_seeded",
              "simsearch_cosine_pairs"):
        assert _build_jobs(spark, lambda: registry.QUERIES[q](spark, SF)) == 0, q


def _query_pass(spark) -> None:
    """perfbench's query mix over the sf0.001 testdata: one request of
    each search kind, collected, and the three registered batch
    queries to the noop sink."""
    from crawler_spark.plans import registry, search_api

    search_api.semantic_search(spark, SF, "hash join engine").collect()
    search_api.web_pages(spark, SF, limit=10, offset=10, sort_by="n_chars",
                         sort_order="desc", query="join").collect()
    search_api.rag_chat(spark, SF, "vector scan filter").collect()
    registry.load_all()
    for q in ("graph_influence_ppr", "dedup_minhash_lsh", "ev_holt_linear"):
        registry.QUERIES[q](spark, SF).write.format("noop").mode("overwrite").save()


def test_warm_query_pass_compiles_no_codegen_classes(spark):
    """A pass generates more distinct classes than Spark's default
    codegen cache (100) holds; with the session's larger cache a
    repeated pass finds every class compiled."""
    _query_pass(spark)
    before = codegen_compile_count(spark)
    _query_pass(spark)
    assert codegen_compile_count(spark) - before == 0


def test_load_table_sees_a_rewritten_file(spark, tmp_path):
    """The schema cache is keyed on the file's size and mtime, so a
    table rewritten at the same path is read with its new schema."""
    from crawler_spark.sources import load_table

    path = tmp_path / "documents.parquet"
    pq.write_table(pa.table({"doc_id": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "documents").columns == ["doc_id"]
    assert load_table(spark, str(tmp_path), "documents").count() == 2

    pq.write_table(pa.table({"doc_id": [3, 4, 5], "text": ["a", "b", "c"]}), path)
    df = load_table(spark, str(tmp_path), "documents")
    assert df.columns == ["doc_id", "text"]
    assert sorted(r.text for r in df.collect()) == ["a", "b", "c"]


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


@pytest.mark.parametrize("values", [
    [float("nan"), float("inf"), float("-inf"), -0.0, 0.0],
    [5e-324, -5e-324, 2.2250738585072009e-308, 1e-310, -1.5e-320],
    [1e16, 1.7976931348623157e308, 1e-05, 0.1, -123456789.123456789],
    list(np.random.default_rng(7).standard_normal(64)),
], ids=["special", "subnormal", "extremes", "dims64"])
def test_vector_lit_values_equal_the_lit_form(spark, values):
    """Bit-identical doubles to ``F.array(F.lit(v).cast('double'), …)``,
    the form ``vector_lit`` replaced (NaN compared by NaN-ness)."""
    from crawler_spark.functions.vector import vector_lit

    lit_form = F.array(*[F.lit(float(v)).cast("double") for v in values])
    row = spark.range(1).select(vector_lit(values).alias("a"),
                                lit_form.alias("b")).collect()[0]
    assert len(row.a) == len(values)
    for got, want, v in zip(row.a, row.b, values):
        if math.isnan(v):
            assert math.isnan(got) and math.isnan(want)
        else:
            assert _bits(got) == _bits(want) == _bits(float(v))
