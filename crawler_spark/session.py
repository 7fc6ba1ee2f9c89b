"""SparkSession factory.

One place to encode the execution-model decisions that matter at scale:
AQE on (runtime re-plan, skew-join handling, partition coalescing),
Arrow on (vectorized Python interop for the few pandas-UDF operators),
UTC session timezone (oracle comparability — DuckDB timestamps are
UTC-naive), and shuffle partitions sized to the machine rather than the
Spark default of 200 (wrong in both directions: over-parallelized
locally, under-parallelized on a 1000-executor cluster — production
deployments should raise it alongside AQE's coalescing).

Confs that change after the session is built change only here: through
``scoped_conf`` (and its two policies, ``loop_conf`` and
``stream_conf``) — scoped, restored on every exit, and single-threaded
per session by enforcement — or through ``set_read_confs``, the fixed
read-side values a source sets before it reads.

Scratch directories (fixtures, indexes, tables, stream checkpoints)
come only from here too: ``scratch_dir``, under one per-process root
removed at interpreter exit.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import shutil
import tempfile
import threading

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

# Partition sizing for the narrow (two-long-column) frames iterative
# loops shuffle every round. 50k rows/partition is deliberately far
# below the guide's byte-oriented 100 MB-1 GB target (§2.2): these
# loops are CPU-bound on DECIMAL(38,18)-exact aggregation, not
# shuffle-byte-bound, and a 393k-edge round measured fastest near 8
# partitions (0.6 s vs 1.1-1.9 s at 1 or 32 — round-12 sweep).
LOOP_ROWS_PER_PARTITION = 50_000


def data_partitions(n_rows: int, rows_per_partition: int) -> int:
    """Partition count for ``n_rows`` rows at ``rows_per_partition``
    each: sized from the data alone, never from the core count, so a
    plan that carries the count is the same on every box."""
    import math

    return max(1, math.ceil(n_rows / rows_per_partition))


def estimated_partitions(df, bytes_per_partition: int) -> int:
    """Partition count for ``df`` at ``bytes_per_partition`` each of
    Catalyst's size estimate, its optimized plan's ``sizeInBytes``:
    worked out from file sizes and column widths, so no Spark job runs.
    A frame Spark cannot size (a checkpoint, an RDD) reports
    ``spark.sql.defaultSizeInBytes`` and gets the session's
    ``spark.sql.shuffle.partitions``, the width Spark gives any shuffle
    it cannot size."""
    est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    if est >= conf.defaultSizeInBytes():
        return conf.numShufflePartitions()
    return data_partitions(est, bytes_per_partition)


def loop_shuffle_partitions(
    spark: SparkSession,
    n_rows: int,
    rows_per_partition: int = LOOP_ROWS_PER_PARTITION,
) -> int:
    """Shuffle-partition count for an iterative loop over a frame of
    ``n_rows`` (already-materialized, so the count is exact and cheap):
    scale-ADAPTIVE instead of a constant (guide §2) — a fixture graph
    gets 1 partition (per-round shuffles of a handful of rows at the
    batch default are pure task-scheduling overhead, measured round
    12), a 10^9-edge graph gets the session default back. Never above
    the ambient ``spark.sql.shuffle.partitions``: a caller that sized
    the session for its cluster keeps that ceiling."""
    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return min(default, data_partitions(n_rows, rows_per_partition))


# id(session) -> (owning thread id, nesting depth), while a scope is open
_SCOPE_LOCK = threading.Lock()
_SCOPE_OWNERS: dict[int, tuple[int, int]] = {}


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, conf: dict[str, str]):
    """Set ``conf`` on the session for the duration of the block — THE
    one place a Spark conf changes after the session is built.

    Each key's prior value is restored on every exit, error included;
    a key unset before is unset again. Same-thread nesting is allowed:
    an inner scope restores the outer scope's values on exit.

    Session confs are session-global, so concurrent work on the same
    session would run under the scope's values, and overlapping
    restores could persist the wrong one. The single-threaded-session
    assumption is therefore ENFORCED: a thread entering a scope on a
    session another thread holds raises ``RuntimeError`` before
    touching any conf."""
    key, me = id(spark), threading.get_ident()
    with _SCOPE_LOCK:
        owner, depth = _SCOPE_OWNERS.get(key, (me, 0))
        if owner != me:
            raise RuntimeError(
                "scoped_conf: another thread holds a conf scope on this "
                "SparkSession; session confs are session-global, so "
                "concurrent scopes would run under each other's values"
            )
        _SCOPE_OWNERS[key] = (me, depth + 1)
    try:
        prev = {k: spark.conf.get(k, None) for k in conf}
        try:
            for k, v in conf.items():
                spark.conf.set(k, v)
            yield
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
    finally:
        with _SCOPE_LOCK:
            if depth:
                _SCOPE_OWNERS[key] = (me, depth)
            else:
                del _SCOPE_OWNERS[key]


@contextlib.contextmanager
def loop_conf(
    spark: SparkSession,
    n_rows: int,
    rows_per_partition: int = LOOP_ROWS_PER_PARTITION,
):
    """Session-conf regime for an iterative loop over a frame of
    ``n_rows`` — THE one place the shrunk-loop trade lives:

    * shuffle partitions sized by ``loop_shuffle_partitions`` (scale-
      adaptive — a fixture graph loops at 1 partition, a 10⁹-edge
      graph keeps the session default);
    * when the derivation SHRANK the loop below the session default,
      AQE and whole-stage codegen are disabled for the loop's
      duration: the row bound already did AQE's coalescing job, AQE
      otherwise materializes every exchange as its own job (round-12:
      job count is most of a tiny loop's cost), and codegen COMPILES
      more code per throwaway round than the round executes. Full-
      scale loops keep both, including AQE's skew handling.

    Yields ``(loop_parts, shrunk)``; the confs are a ``scoped_conf``
    (restored on every exit; a concurrent scope from another thread
    raises)."""
    loop_parts = loop_shuffle_partitions(spark, n_rows, rows_per_partition)
    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    shrunk = loop_parts == 1 or loop_parts < default
    conf = {"spark.sql.shuffle.partitions": str(loop_parts)}
    if shrunk:
        conf["spark.sql.adaptive.enabled"] = "false"
        conf["spark.sql.codegen.wholeStage"] = "false"
    with scoped_conf(spark, conf):
        yield loop_parts, shrunk


# State shards of a streaming query = shuffle partitions at its start,
# each with a state-store instance. The streaming replays here are a
# few files per trigger, so they run at most this many shards (32
# local shards cost ~6 s of pure store setup for a one-file replay);
# a real deployment sizes this UP with the rate.
STREAM_SHUFFLE_PARTITIONS_CAP = 8


def stream_conf(spark: SparkSession):
    """``scoped_conf`` capping shuffle partitions at
    ``STREAM_SHUFFLE_PARTITIONS_CAP``; wrap stream construction,
    ``start`` and ``stop`` in it."""
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return scoped_conf(spark, {
        "spark.sql.shuffle.partitions":
            str(min(parts, STREAM_SHUFFLE_PARTITIONS_CAP)),
    })


# Read-side confs with one fixed value for the session's life. Not a
# regime: constant and idempotent, so a source sets them before it
# reads (``set_read_confs``) and they hold in any session, including
# one not built by ``get_spark``.
READ_CONFS = {
    # events.ts may be TIMESTAMP(NANOS), which the vectorized reader
    # rejects; read it as a long (sources.load_table truncates it to
    # micros). Only INT64 TIMESTAMP(NANOS) columns are affected, and
    # no other file the engine reads carries one.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Honor bucketed tables' write-time sortBy, so a bucketed SMJ plans
    # with zero Sort. Unsound only when a bucket spans several files;
    # the only bucketBy tables are sources.ensure_bucketed's, written
    # one file per bucket — the documented safe case.
    "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
}


def set_read_confs(spark: SparkSession) -> None:
    """Set ``READ_CONFS`` on the session (never restored: the values
    are session-wide and the same for every reader)."""
    for k, v in READ_CONFS.items():
        spark.conf.set(k, v)


_SCRATCH_LOCK = threading.Lock()
_SCRATCH_ROOT: str | None = None
_SCRATCH_DIRS: dict[tuple[str, object], str] = {}


def scratch_dir(prefix: str, key=None, populate=None) -> str:
    """A new directory named ``<prefix>…`` under this process's scratch
    root — THE one place the engine makes a directory of its own.

    The root is ``<SPARK_GRAFT_SCRATCH or /tmp/crawler_spark_scratch>/
    <pid>-<random>``, made on first use and removed at interpreter
    exit, so nothing is shared with another process and nothing
    outlives this one (a killed process leaves its root behind).

    With ``key=None`` every call returns a fresh directory. With a
    (hashable) ``key`` the directory is memoized per ``(prefix, key)``
    for the process's life; ``populate(path)``, when given, runs
    BEFORE the path is cached, and if it raises the directory is
    removed and nothing cached — a half-built fixture never serves a
    later call. Two threads racing on one new key may both populate;
    both get the first path cached."""
    global _SCRATCH_ROOT
    memo = (prefix, key)
    if key is not None and memo in _SCRATCH_DIRS:
        return _SCRATCH_DIRS[memo]
    with _SCRATCH_LOCK:
        if _SCRATCH_ROOT is None:
            base = os.environ.get("SPARK_GRAFT_SCRATCH",
                                  "/tmp/crawler_spark_scratch")
            os.makedirs(base, exist_ok=True)
            _SCRATCH_ROOT = tempfile.mkdtemp(prefix=f"{os.getpid()}-",
                                             dir=base)
            atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
        path = tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)
    if populate is not None:
        try:
            populate(path)
        except BaseException:
            shutil.rmtree(path, ignore_errors=True)
            raise
    if key is not None:
        path = _SCRATCH_DIRS.setdefault(memo, path)
    return path


# generated classes the driver JVM keeps compiled (see get_spark)
CODEGEN_CACHE_ENTRIES = 2000


def get_spark(
    app_name: str = "crawler_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    In local mode there is a single JVM, so ``spark.driver.memory`` is
    the only memory knob; on a real cluster the same configs apply per
    executor. Shuffle partitions default to the core count — AQE's
    ``coalescePartitions`` then shrinks small shuffles further at runtime.
    """
    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # PySpark 4's default, pinned so the guarantee survives any
        # deployment conf: overflowing casts/arithmetic FAIL LOUD
        # (ArithmeticException), never silent NULLs — the decimal-exact
        # graph/Lloyd reductions (operators/graph.py _exact_sum)
        # document their magnitude precondition in terms of this.
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Spark's generated-class cache (static, default 100 entries) is
        # an LRU; one perfbench query pass generates ~113 distinct
        # classes, so at 100 every warm pass recompiled all of them
        # (~9.5 ms of Janino each). 2000 holds a pass many times over
        # (measured: 0 compiles on a warm pass); SCALING.md has the
        # Metaspace cost.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compile_count(spark: SparkSession) -> int:
    """Classes whole-stage/expression codegen has compiled in this JVM
    so far (Spark's ``CodegenMetrics`` compile-time histogram count)."""
    jvm = spark.sparkContext._jvm
    return int(jvm.org.apache.spark.metrics.source.CodegenMetrics
               .METRIC_COMPILATION_TIME().getCount())


@contextlib.contextmanager
def count_py4j_calls(spark: SparkSession):
    """Count the Py4J commands the Python side sends to the JVM inside
    the block: yields a one-element list whose item is the running
    count. Every ``F.*`` builder, ``DataFrame`` method and JVM field
    read is at least one such round-trip; plan construction cost on the
    driver is mostly their number."""
    client = spark.sparkContext._gateway._gateway_client
    # an enclosing block's counter lives in the instance dict; restore
    # it on exit instead of deleting it
    outer = vars(client).get("send_command")
    send = client.send_command
    n = [0]

    def counting(*args, **kwargs):
        n[0] += 1
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        yield n
    finally:
        if outer is None:
            del client.send_command
        else:
            client.send_command = outer
