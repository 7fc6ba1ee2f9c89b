"""Bucketed (pre-shuffled) table materialization for co-located joins.

A sort-merge join between two big tables shuffles BOTH sides on the
join key every time the join runs. When the same join recurs — the
fact⨝fact orderkey join here stands in for a 100 TB
lineitem⨝orders-shaped workload — the scalable fix is to pay the
shuffle once at write time: ``bucketBy(n, key).sortBy(key)`` persists
each table pre-hash-partitioned and pre-sorted, and Spark's bucketed
scan then feeds the join with ZERO Exchange and ZERO Sort at read time
(bucket counts must match; hashing is by key VALUE, so different
column names on the two sides co-locate fine).

This is Spark's answer to the reference's Postgres btree indexes
(reference backend/src/models.py:39,54 — `idx_web_pages_url`,
`idx_jobs_status` exist so lookups and joins don't rescan);
on a cluster it is also how you amortize shuffles across a whole DAG
of downstream queries. Tables are written as EXTERNAL tables (explicit
path under a ``session.scratch_dir``) registered in the session
catalog — the files live as long as the process, and each session that
asks for a table writes it once.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

from crawler_spark.session import scratch_dir, set_read_confs
from crawler_spark.sources.tables import load_table


def _table_ident(sf_dir: str, table: str, key: str, num_buckets: int) -> str:
    tag = re.sub(r"[^A-Za-z0-9_]", "_", os.path.basename(sf_dir.rstrip("/")))
    return f"bkt_{tag}_{table}_{key}_{num_buckets}"


def ensure_bucketed(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    key: str,
    num_buckets: int = 8,
) -> str:
    """Materialize ``table`` bucketed+sorted by ``key`` (idempotent per
    session) and return the catalog identifier to ``spark.table()``.

    ``repartition(num_buckets, key)`` before the write makes each task
    produce one file per bucket it owns instead of up-to-num_buckets
    files per input task — at cluster scale that's the difference
    between O(buckets) and O(tasks × buckets) small files.
    """
    ident = _table_ident(sf_dir, table, key, num_buckets)
    if spark.catalog.tableExists(ident):
        return ident
    path = scratch_dir(ident + "_")
    (
        load_table(spark, sf_dir, table)
        .repartition(num_buckets, key)
        .write.mode("overwrite")
        .option("path", path)
        .bucketBy(num_buckets, key)
        .sortBy(key)
        .saveAsTable(ident)
    )
    return ident


def bucketed_pair(
    spark: SparkSession,
    sf_dir: str,
    left: tuple[str, str],
    right: tuple[str, str],
    num_buckets: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """Materialize two tables bucketed on their join keys with matching
    bucket counts and return them as DataFrames ready for an
    exchange-free sort-merge join."""
    lt = ensure_bucketed(spark, sf_dir, left[0], left[1], num_buckets)
    rt = ensure_bucketed(spark, sf_dir, right[0], right[1], num_buckets)
    # Honor the write-time sortBy (session.set_read_confs) so the SMJ
    # plans with zero Sort as well as zero Exchange.
    set_read_confs(spark)
    return spark.table(lt), spark.table(rt)
