"""Parquet table sources for the test corpus.

Single place that knows the on-disk layout of the driver-generated
testdata (TESTDATA.md): one parquet file per table under a
scale-factor directory. Reads are plain ``spark.read.parquet`` so
Catalyst's parquet source gives us column pruning + predicate pushdown
for free; callers should ``select``/``filter`` as early as possible so
those reach the scan.
"""

from __future__ import annotations

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
        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so SQL-path operators can
    reference them by name (mirrors the driver's DuckDB view setup)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
