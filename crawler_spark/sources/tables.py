"""Parquet table sources for the test corpus.

Single place that knows the on-disk layout of the driver-generated
testdata (TESTDATA.md): one parquet file per table under a
scale-factor directory. Reads go through Catalyst's parquet source,
so column pruning + predicate pushdown come for free; callers should
``select``/``filter`` as early as possible so those reach the scan.

Without a schema, ``spark.read.parquet`` runs a Spark job to read and
merge the file footers on every call (113-147 ms against 22-29 ms with
one). ``load_table`` therefore resolves each table's schema once per
(session, path, file fingerprint) — the fingerprint is every file's
size and mtime, walked for a directory table, so a rewritten table
misses — and reads with ``spark.read.schema(s)`` after that. The
analyzed plan is the same either way.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawler_spark.session import set_read_confs

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# distinct (session, path, fingerprint) schemas kept; a pass over the
# testdata touches 10 tables per scale-factor directory
SCHEMA_CACHE_ENTRIES = 64


def _fingerprint(path: str) -> tuple | None:
    """(relative path, size, mtime ns) of every file of a local parquet
    table, a file or a directory; None when the path is not local."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not os.path.isdir(path):
        return (("", st.st_size, st.st_mtime_ns),)
    out = []
    for d, dirs, names in os.walk(path):
        dirs.sort()
        for n in sorted(names):
            f = os.path.join(d, n)
            fst = os.stat(f)
            out.append((os.path.relpath(f, path), fst.st_size, fst.st_mtime_ns))
    return tuple(out)


@functools.lru_cache(maxsize=SCHEMA_CACHE_ENTRIES)
def _schema_slot(session_id: str, path: str, fingerprint: tuple) -> list:
    """The one-item holder of the schema inferred for ``path`` as
    ``fingerprint`` describes it, in the session ``session_id`` names
    (its read confs shape the inferred types). The key holds the
    session's id, not the session, so the cache keeps no stopped
    session alive; the first reader fills the holder."""
    return []


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    fp = _fingerprint(path)
    if fp is None:
        return spark.read.parquet(path)
    slot = _schema_slot(spark._jsparkSession.sessionUUID(), path, fp)
    if not slot:
        slot.append(spark.read.parquet(path).schema)
    return spark.read.schema(slot[0]).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table. ``name`` must be in TABLES.

    ``events.ts`` has been written two ways across testdata versions,
    both needing normalization to a plain TIMESTAMP so downstream
    expressions (``unix_micros``, windows) and the DuckDB oracle agree:

    * TIMESTAMP(NANOS): Spark's vectorized reader rejects it outright
      ([PARQUET_TYPE_ILLEGAL]); read it via the legacy nanos-as-long
      path (``session.set_read_confs``) and truncate to micros with
      integer division — exactly what DuckDB does reading the same
      file. (Float division would be wrong: ~1.7e18 ns exceeds
      double's 53-bit exact-integer range.)
    * TIMESTAMP(MICROS) without timezone: Spark 4 infers TIMESTAMP_NTZ,
      which type-strict functions like ``unix_micros`` reject; cast to
      TIMESTAMP — value-preserving because the session timezone is
      pinned to UTC (session.py).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        set_read_confs(spark)
        df = _read_parquet(spark, path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return _read_parquet(spark, path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so SQL-path operators can
    reference them by name (mirrors the driver's DuckDB view setup)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
