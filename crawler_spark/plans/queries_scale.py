"""Shuffle-shape operators: queries whose POINT is how they partition
at 100 TB, oracle-checked so the rewrite provably changes the plan and
not the answer.

* ``join_salted_lowcard`` — the salted join (operators/skew.py) over
  the worst shuffle-join shape in the testdata: events joined on
  ``event_type``, a 5-value key. A plain shuffle join caps at 5 tasks
  regardless of cluster size; the salted plan partitions on
  (event_type, __salt) and scales with num_salts. The oracle is the
  plain join — same answer, different exchange.

* ``bucketed_build`` / ``join_bucketed_colocated`` — pay the orderkey
  shuffle once at write time (sources/bucketed.py), then run the
  lineitem⨝orders join with zero Exchange and zero Sort on either
  side. Build and probe are split exactly like the ANN index pair
  (``knn_index_build``/``knn_probe_precomputed``): the build is the
  amortized cost, the probe is the recurring one.

Money math follows the registry determinism rules (exact DECIMAL,
final cast to double). The above-mean comparison in the salted query
is kept exact by cross-multiplying: ``value * cnt > sum`` in DECIMAL —
no engine-specific float division anywhere near the predicate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawler_spark.operators.skew import salted_join
from crawler_spark.plans.oracle_pins import pin_kwargs as _PINS_KW
from crawler_spark.plans.registry import register
from crawler_spark.session import scratch_dir
from crawler_spark.sources import load_table
from crawler_spark.sources.bucketed import bucketed_pair

NUM_SALTS = 8
NUM_BUCKETS = 8


# --- salted low-cardinality join ------------------------------------------
@register(
    "join_salted_lowcard",
    oracle="""
        WITH d AS (
            SELECT event_type,
                   SUM(CAST(value AS DECIMAL(12,2))) AS sum_v,
                   COUNT(*) AS cnt
            FROM events GROUP BY 1
        )
        SELECT e.event_type,
               COUNT(CASE WHEN CAST(e.value AS DECIMAL(12,2)) * d.cnt > d.sum_v
                          THEN 1 END) AS n_above,
               COUNT(*) AS n_total
        FROM events e JOIN d USING (event_type)
        GROUP BY e.event_type
    """,
)
def join_salted_lowcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count per event type how many events sit strictly above that
    type's mean value. The per-type dim is tiny, but the demo forces
    the shuffle path (``hint('merge')``) because that's the regime the
    operator exists for — a dim too big or too hot to broadcast. The
    fact side's 5-value key would otherwise hash to 5 shuffle tasks;
    salting spreads it over 5 × NUM_SALTS."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("value").cast("decimal(12,2)").alias("v")
    )
    dim = ev.groupBy("event_type").agg(
        F.sum("v").alias("sum_v"), F.count(F.lit(1)).alias("cnt")
    )
    joined = salted_join(ev, dim.hint("merge"), on="event_type",
                         num_salts=NUM_SALTS)
    return (
        joined.groupBy("event_type")
        .agg(
            F.count(F.when(F.col("v") * F.col("cnt") > F.col("sum_v"), 1))
            .alias("n_above"),
            F.count(F.lit(1)).alias("n_total"),
        )
    )


# --- bucketed co-located join ---------------------------------------------
@register(
    "bucketed_build",
    # the write-time shuffle isn't SQL, but the build's observable
    # contract (spec + row conservation) is table-derived
    oracle=f"""
        SELECT 'lineitem' AS table_name, 'l_orderkey' AS bucket_key,
               CAST({NUM_BUCKETS} AS INTEGER) AS num_buckets,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM lineitem
        UNION ALL
        SELECT 'orders', 'o_orderkey', CAST({NUM_BUCKETS} AS INTEGER),
               CAST(count(*) AS BIGINT)
        FROM orders
    """,
)
def bucketed_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize lineitem and orders bucketed+sorted on orderkey.
    Returns one row per bucketed table with its bucket spec — the
    observable contract of the build step."""
    l, o = bucketed_pair(
        spark, sf_dir,
        ("lineitem", "l_orderkey"), ("orders", "o_orderkey"),
        num_buckets=NUM_BUCKETS,
    )
    rows = [
        ("lineitem", "l_orderkey", NUM_BUCKETS, l.count()),
        ("orders", "o_orderkey", NUM_BUCKETS, o.count()),
    ]
    return spark.createDataFrame(
        rows, "table_name string, bucket_key string, num_buckets int, n_rows long"
    )


@register(
    "join_bucketed_colocated",
    oracle="""
        SELECT o.o_orderpriority AS priority,
               COUNT(*) AS n_items,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
                        (CAST(1 AS DECIMAL(8,2)) - CAST(l.l_discount AS DECIMAL(8,2))))
                    AS DOUBLE) AS revenue
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per order priority off the bucketed pair: the
    lineitem⨝orders sort-merge join reads both sides pre-partitioned
    and pre-sorted, so the only Exchange in the whole plan is the final
    5-group aggregate. ``hint('merge')`` pins the join to SMJ (a
    broadcast would also skip the exchange, but only while orders fits
    in memory — bucketing is the shape that survives 100 TB)."""
    l, o = bucketed_pair(
        spark, sf_dir,
        ("lineitem", "l_orderkey"), ("orders", "o_orderkey"),
        num_buckets=NUM_BUCKETS,
    )
    revenue = (
        F.col("l_extendedprice").cast("decimal(12,2)")
        * (F.lit(1).cast("decimal(8,2)") - F.col("l_discount").cast("decimal(8,2)"))
    )
    return (
        l.select("l_orderkey", "l_extendedprice", "l_discount")
        .join(o.hint("merge").select("o_orderkey", "o_orderpriority"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(revenue).cast("double").alias("revenue"),
        )
    )


# --- join-key skew diagnostics --------------------------------------------
@register(
    "diag_key_skew",
    oracle="""
        WITH freq AS (
            SELECT l_orderkey AS key, count(*) AS cnt
            FROM lineitem GROUP BY l_orderkey
        ),
        stats AS (
            SELECT sum(cnt) AS total, count(*) AS n_keys FROM freq
        )
        SELECT key, CAST(cnt AS BIGINT) AS cnt,
               round(CAST(cnt AS DOUBLE) / total, 6) AS share,
               round(CAST(cnt AS DOUBLE) * n_keys / total, 6) AS skew_factor
        FROM freq CROSS JOIN stats
        ORDER BY cnt DESC, key LIMIT 10
    """,
)
def diag_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key report for a join/aggregation key (here lineitem's
    orderkey): the top keys by frequency with their corpus share and
    skew factor (count ÷ mean count) — the number that says whether a
    shuffle needs salting (operators/skew.py) before it falls over at
    scale. One aggregate + a broadcast scalar; the top-10 is
    TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem")
    freq = li.groupBy(F.col("l_orderkey").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt"))
    stats = freq.agg(
        F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("n_keys"))
    return (
        freq.crossJoin(F.broadcast(stats))
        .select(
            "key", "cnt",
            F.round(F.col("cnt").cast("double") / F.col("total"), 6).alias("share"),
            F.round(F.col("cnt").cast("double") * F.col("n_keys") / F.col("total"), 6)
            .alias("skew_factor"),
        )
        .orderBy(F.col("cnt").desc(), "key")
        .limit(10)
    )


# Regression-pinned since the round-10 deterministic rewrite of
# write_zordered: file cuts now come from an exact bounded histogram
# of the Morton key (operators/layout.py), not repartitionByRange's
# per-run-seeded reservoir sample — the earlier pin attempt failed on
# exactly that sampling, which is why the REJECTED note lived here.
# Verified bit-identical across shuffle confs/cluster sizes/sessions
# before pinning; the layout's pruning QUALITY is what
# tests/test_layout.py asserts on top.
@register("layout_zorder_build", **_PINS_KW("layout_zorder_build"))
def layout_zorder_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order the events table on (user_id, epoch-seconds) and report
    per-file min/max spans of both dimensions — the layout job behind
    2-dimensional scan pruning (operators/layout.py; the rebuilt form
    of OPTIMIZE ZORDER). The returned stats ARE the win: every file
    bounds both columns tightly, where a single-column sort bounds
    only one."""
    import os

    from crawler_spark.operators.layout import write_zordered

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_timestamp("ts").alias("ts_s"))
    path = os.path.join(scratch_dir("zorder_"), "events_z")
    write_zordered(ev, path, "user_id", "ts_s", n_files=16)
    back = spark.read.parquet(path)
    return (
        back.groupBy(F.input_file_name().alias("file"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.max("user_id") - F.min("user_id")).alias("user_span"),
            (F.max("ts_s") - F.min("ts_s")).alias("ts_span"),
        )
        .select("n_rows", "user_span", "ts_span")
        .orderBy("n_rows", "user_span", "ts_span")
    )


# --- Bloom-prefiltered semi-join reduction --------------------------------
@register(
    "join_bloom_prefilter",
    oracle="""
        SELECT o.o_orderstatus,
               count(*) AS n_orders,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                   AS total_price
        FROM orders o
        JOIN (
            SELECT c_custkey
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            WHERE n_name = 'NATION_1' AND c_acctbal > 1000
        ) c ON o.o_custkey = c.c_custkey
        GROUP BY o.o_orderstatus
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered fact⨝dim (operators/bloom.py): the dim side —
    customers of one nation with a balance floor — is condensed to a
    64 Kbit Bloom bitset built distributively, and the orders scan is
    filtered by a pure-expression membership test BEFORE the join, so
    at scale only (matching + fpp·non-matching) fact rows reach the
    exchange. The join after the prefilter makes the answer exact;
    the oracle is the plain join. The at-scale niche: build sides too
    big to broadcast but whose bits fit (~180 MB per 100M keys at 1%
    fpp), and multi-use filters Spark's own runtime bloom
    (SPARK-32268) can't hoist."""
    from crawler_spark.operators.bloom import bloom_prefiltered_join

    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    dim = (
        customer.join(
            F.broadcast(nation.filter(F.col("n_name") == "NATION_1")),
            customer.c_nationkey == nation.n_nationkey,
        )
        .filter(F.col("c_acctbal") > 1000)
        .select("c_custkey")
    )
    joined = bloom_prefiltered_join(
        orders, dim, "o_custkey", "c_custkey", num_bits=1 << 16, num_hashes=5
    )
    return joined.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
        .cast("double")
        .alias("total_price"),
    )


# --- small-file compaction ------------------------------------------------
@register(
    "layout_compact_build",
    # unlike the z-order stats (range-sampled per run, unpinnable),
    # the compaction's observable contract IS run-deterministic:
    # round-robin repartition has a stable row order (SPARK-23207)
    # so file counts + row conservation pin cleanly at sf0.01
    # (tools/pin_oracles.py; verified stable across runs first)
    **_PINS_KW("layout_compact_build"),
)
def layout_compact_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fragment the events table into 64 tiny files (simulating an
    append-heavy ingest directory), compact to ~4 MB targets
    (operators/layout.py compact_files), and report before/after file
    counts + row conservation. At 100 TB this is the periodic
    maintenance job that keeps scan task counts sane after streaming
    appends."""
    import os

    from crawler_spark.operators.layout import compact_files

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    scratch = scratch_dir("compact_")
    frag = os.path.join(scratch, "fragmented")
    ev.repartition(64).write.mode("overwrite").parquet(frag)
    stats = compact_files(
        spark, frag, os.path.join(scratch, "compacted"), target_bytes=4 << 20)
    return spark.createDataFrame(
        [(stats["files_before"], stats["files_after"], stats["rows"])],
        "files_before int, files_after int, rows long",
    )


def _build_versioned_doc_table(spark: SparkSession, sf_dir: str):
    """Shared fixture for the time-travel/CDF queries: a bucketed
    manifest table with three committed states — base load, an upsert
    batch (+1 char on every doc_id % 10 == 0), a delete
    (doc_id % 7 == 0 removed). Returns (table_root, pages_dir)."""
    from crawler_spark.operators.upsert import merge_by_key
    from crawler_spark.streaming.ingest_stream import (
        apply_bucket_commit,
        read_pages_table,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars",
        F.pmod(F.xxhash64("source"), F.lit(8)).cast("int").alias("bucket"),
    )
    tdir = scratch_dir("timetravel_")
    pages_dir = f"{tdir}/table"

    def commit_state(df, epoch, touched=None):
        apply_bucket_commit(pages_dir, df, epoch, touched=touched)

    commit_state(docs, 0)                                   # v1: base load
    batch = docs.filter(F.col("doc_id") % 10 == 0) \
        .withColumn("n_chars", F.col("n_chars") + 1)
    live = read_pages_table(spark, pages_dir)
    touched_buckets = [r.bucket for r in
                       batch.select("bucket").distinct().collect()]
    merged = merge_by_key(
        live.filter(F.col("bucket").isin(touched_buckets)), batch, "doc_id")
    commit_state(merged, 1)                                 # v2: upsert
    live = read_pages_table(spark, pages_dir)
    kept = live.filter(F.col("doc_id") % 7 != 0)
    all_buckets = [r.bucket for r in live.select("bucket").distinct().collect()]
    commit_state(kept, 2, touched=all_buckets)              # v3: delete
    return tdir, pages_dir


_TT_V2_SQL = (
    "SELECT doc_id, source, CASE WHEN doc_id % 10 = 0 THEN n_chars + 1 "
    "ELSE n_chars END AS n_chars FROM documents"
)


@register(
    "timetravel_snapshot_reads",
    # the snapshot mechanism (manifest pointers, epoch dirs) isn't
    # SQL, but each committed state is a deterministic transformation
    # of the documents table — the oracle rebuilds all three states
    # and aggregates them, so a historical read contaminated by a
    # later commit hash-mismatches
    oracle=f"""
        WITH v2 AS ({_TT_V2_SQL}),
        v3 AS (SELECT * FROM v2 WHERE doc_id % 7 <> 0)
        SELECT CAST(1 AS INTEGER) AS version, count(*) AS n_rows,
               count(DISTINCT source) AS n_sources,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM documents
        UNION ALL
        SELECT 2, count(*), count(DISTINCT source),
               CAST(SUM(n_chars) AS BIGINT) FROM v2
        UNION ALL
        SELECT 3, count(*), count(DISTINCT source),
               CAST(SUM(n_chars) AS BIGINT) FROM v3
    """,
)
def timetravel_snapshot_reads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the manifest table's Delta-style time travel end-to-end:
    build a bucketed table from the documents fixture, commit three
    states (base load, an upsert batch that rewrites one bucket, a
    delete batch), then read EVERY snapshot back via
    ``read_pages_table_at`` and report (version, n_rows,
    distinct_sources, sum_chars). The invariant a lakehouse user
    cares about: historical reads reproduce each committed state
    exactly even though later commits rewrote the same buckets —
    because commits only ever publish NEW directories and swap one
    pointer (streaming/ingest_stream.py commit protocol; vacuum's
    ``retain_last`` bounds the travel horizon)."""
    import shutil

    from crawler_spark.streaming.ingest_stream import (
        manifest_history,
        read_pages_table_at,
    )

    tdir = None
    try:
        tdir, pages_dir = _build_versioned_doc_table(spark, sf_dir)
        out = []
        for ver in manifest_history(pages_dir):
            snap = read_pages_table_at(spark, pages_dir, ver)
            if snap is None:  # a delete emptied the table at this version
                out.append((ver, 0, 0, 0))
                continue
            agg = snap.agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("source").alias("ns"),
                F.sum("n_chars").alias("chars"),
            ).collect()[0]
            out.append((ver, agg["n"], agg["ns"], agg["chars"]))
    finally:
        if tdir:
            shutil.rmtree(tdir, ignore_errors=True)
    return spark.createDataFrame(
        out, "version int, n_rows long, n_sources long, sum_chars long")


@register(
    "timetravel_changes_feed",
    # the CDF classification rules are pure doc_id arithmetic on the
    # fixture (deletes = %7, updates = %10 minus deletes, no inserts)
    # — the oracle reproduces the per-type rollup from documents
    oracle="""
        SELECT 'delete' AS _change_type, count(*) AS n,
               min(doc_id) AS min_id, max(doc_id) AS max_id
        FROM documents WHERE doc_id % 7 = 0
        UNION ALL
        SELECT 'update', count(*), min(doc_id), max(doc_id)
        FROM documents WHERE doc_id % 10 = 0 AND doc_id % 7 <> 0
    """,
)
def timetravel_changes_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed over the same three-state table: classify every
    row that changed base→final (v1→v3) — the Delta ``table_changes``
    shape an incremental consumer (re-embed, re-index, replicate)
    reads instead of diffing full snapshots. The manifest makes it
    partition-pruned: a bucket whose epoch didn't move between the two
    snapshots is never scanned (plan-asserted in
    test_streaming.TestChangeDataFeed). Expected on the fixture:
    deletes = doc_id % 7 == 0, updates = (doc_id % 10 == 0) minus
    those deletes, inserts = 0 — asserted value-level in
    tests/test_scale.py."""
    import shutil

    from crawler_spark.streaming.ingest_stream import (
        manifest_history,
        pages_changes,
    )

    tdir = None
    try:
        tdir, pages_dir = _build_versioned_doc_table(spark, sf_dir)
        hist = manifest_history(pages_dir)
        feed = pages_changes(spark, pages_dir, hist[0], hist[-1], key="doc_id")
        out = (
            feed.groupBy("_change_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("doc_id").alias("min_id"), F.max("doc_id").alias("max_id"))
            .orderBy("_change_type")
            .collect()
        )
    finally:
        if tdir:
            shutil.rmtree(tdir, ignore_errors=True)
    return spark.createDataFrame(
        [tuple(r) for r in out],
        "_change_type string, n long, min_id long, max_id long")


@register(
    "upsert_merge_pruned",
    # content after base load → MERGE (doc_id%8<2 batch wins, +1000
    # chars, source overwritten) → file-pruned DELETE (doc_id%11):
    # pure row logic, independent of the bucket layout — the bucketing
    # IS doc_id%8 here precisely so the MERGE batch provably touches
    # only buckets {0,1} while the oracle never mentions buckets
    oracle="""
        SELECT doc_id,
               CASE WHEN doc_id % 8 < 2 THEN 'upsert' ELSE source END AS source,
               CASE WHEN doc_id % 8 < 2 THEN n_chars + 1000 ELSE n_chars END
                   AS n_chars
        FROM documents
        WHERE doc_id % 11 <> 0
    """,
)
def upsert_merge_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end file-pruned MERGE INTO on a bucketed manifest table
    (operators/upsert.py merge_into_bucketed): base-load documents
    bucketed by doc_id%8, merge an update batch confined to buckets
    {0,1} — only those two buckets are read and rewritten; the
    manifest keeps the other six on the base epoch — then a pruned
    DELETE, and return the final table content. The oracle states the
    same row logic straight over ``documents`` — layout-independent,
    so a hash-pass proves the pruned path changes the plan and not
    the answer."""
    import shutil

    from crawler_spark.operators.upsert import (
        delete_from_bucketed,
        merge_into_bucketed,
    )
    from crawler_spark.streaming.ingest_stream import read_pages_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars",
        F.pmod(F.col("doc_id"), F.lit(NUM_BUCKETS)).cast("int").alias("bucket"),
    )
    tdir = scratch_dir("mergepruned_")
    try:
        table = f"{tdir}/table"
        merge_into_bucketed(spark, table, docs, key="doc_id")  # base load
        batch = (
            docs.filter(F.col("bucket") < 2)
            .withColumn("source", F.lit("upsert"))
            .withColumn("n_chars", F.col("n_chars") + 1000)
        )
        merge_into_bucketed(spark, table, batch, key="doc_id")
        dels = docs.filter(F.col("doc_id") % 11 == 0).select("doc_id", "bucket")
        delete_from_bucketed(spark, table, dels, key="doc_id")
        final = read_pages_table(spark, table)
        out = final.select("doc_id", "source", "n_chars")
        out = spark.createDataFrame(out.collect(), out.schema)  # outlive tdir
    finally:
        shutil.rmtree(tdir, ignore_errors=True)
    return out


@register("diag_plan_metrics")  # rows-only: post-execution introspection
def diag_plan_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute a representative join+agg (orders⨝customer revenue per
    market segment) and report the executed plan's SQLMetrics — rows
    out of every operator, shuffle partition/data sizes, spill, scan
    file counts (operators/introspect.py). This is `diag_key_skew`'s
    sibling: skew diagnosis reads the DATA, this reads the EXECUTION —
    together they are the feedback loop that tunes salting, broadcast
    thresholds, and partition sizing before a 100 TB run discovers
    them the hard way. Only stable metrics are emitted (row/partition/
    file counts — times and memory vary run to run); the full map is
    available from the library call."""
    from crawler_spark.operators.introspect import profile_query

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice")
    q = (
        orders.join(F.broadcast(cust),
                    F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
             .cast("double").alias("revenue"))
        .orderBy("c_mktsegment")
    )
    stable = {"numOutputRows", "numPartitions", "numFiles",
              "numEmptyPartitions", "numCoalescedPartitions", "spillSize"}
    rows = [(d, node, metric, v)
            for d, node, metric, v in profile_query(q)
            if metric in stable]
    return spark.createDataFrame(
        rows, "depth int, node string, metric string, value long")


# --- k-anonymity audit over quasi-identifiers -----------------------------
_KANON_K = 3


@register(
    "privacy_k_anonymity",
    oracle=f"""
        -- floor, not a bare CAST: DuckDB's double->BIGINT cast ROUNDS
        -- while Spark's truncates; floor pins both to the same bucket
        SELECT source, lang,
               CAST(floor(n_chars / 100) AS BIGINT) AS size_bucket,
               COUNT(*) AS group_n
        FROM documents
        GROUP BY source, lang, CAST(floor(n_chars / 100) AS BIGINT)
        HAVING COUNT(*) < {_KANON_K}
    """,
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (Sweeney 2002): every quasi-identifier
    combination — here (source, language, size bucket), the columns a
    re-identification join would key on — held by FEWER than k
    documents is a privacy risk the release pipeline must suppress or
    generalize. One groupBy on the QI tuple with map-side combine;
    the HAVING keeps only the at-risk groups, so output is small by
    definition (the k-1 tail). The QI list is the knob; the shape
    never changes."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(
            "source", "lang",
            F.floor(F.col("n_chars") / 100).cast("long").alias("size_bucket"),
        )
        .agg(F.count(F.lit(1)).alias("group_n"))
        .where(F.col("group_n") < _KANON_K)
    )


# --- data-quality expectations suite (one row per check) ------------------
@register(
    "dq_expectations",
    oracle="""
        SELECT 'documents' AS tbl, 'text_not_null' AS check_name,
               COUNT(CASE WHEN text IS NULL OR text = '' THEN 1 END)
                   AS violations
        FROM documents
        UNION ALL
        SELECT 'documents', 'doc_id_unique',
               CAST((SELECT COUNT(*) FROM documents)
                    - (SELECT COUNT(DISTINCT doc_id) FROM documents)
                    AS BIGINT)
        UNION ALL
        SELECT 'documents', 'n_chars_positive',
               COUNT(CASE WHEN n_chars <= 0 THEN 1 END)
        FROM documents
        UNION ALL
        SELECT 'lineitem', 'orderkey_in_orders',
               (SELECT COUNT(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey))
        UNION ALL
        SELECT 'events', 'value_non_negative',
               COUNT(CASE WHEN value < 0 THEN 1 END)
        FROM events
        UNION ALL
        SELECT 'events', 'ts_not_null',
               COUNT(CASE WHEN ts IS NULL THEN 1 END)
        FROM events
    """,
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The expectations pattern (Great-Expectations-style contracts as
    a query): one row per (table, check) with its violation count —
    null guards, uniqueness, referential integrity, value ranges. The
    pipeline gates a batch by asserting all-zeros; a nonzero row names
    the broken contract directly.

    Scale shape: same-table checks share ONE scan via conditional
    aggregation (documents' three checks = one agg pass; events' two
    likewise); uniqueness is count - count_distinct in that same pass;
    the cross-table RI check is a left-anti count on the join key.
    Nothing here is quadratic and nothing global beyond the aggs."""
    docs = load_table(spark, sf_dir, "documents")
    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")

    d = docs.agg(
        F.count(F.when(F.col("text").isNull() | (F.col("text") == ""), 1))
        .alias("text_not_null"),
        (F.count(F.lit(1)) - F.count_distinct("doc_id")).alias("doc_id_unique"),
        F.count(F.when(F.col("n_chars") <= 0, 1)).alias("n_chars_positive"),
    )
    e = ev.agg(
        F.count(F.when(F.col("value") < 0, 1)).alias("value_non_negative"),
        F.count(F.when(F.col("ts").isNull(), 1)).alias("ts_not_null"),
    )
    ri = li.join(
        orders.select(F.col("o_orderkey").alias("l_orderkey")),
        "l_orderkey", "left_anti",
    ).agg(F.count(F.lit(1)).alias("orderkey_in_orders"))

    def unpivot(df, tbl):
        out = None
        for c in df.columns:
            row = df.select(
                F.lit(tbl).alias("tbl"), F.lit(c).alias("check_name"),
                F.col(c).cast("long").alias("violations"),
            )
            out = row if out is None else out.unionByName(row)
        return out

    return (
        unpivot(d, "documents")
        .unionByName(unpivot(ri, "lineitem"))
        .unionByName(unpivot(e, "events"))
    )


# --- embedding-coverage audit (cross-table freshness) ---------------------
@register(
    "dq_embedding_coverage",
    oracle="""
        WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 11 <> 0),
             e AS (SELECT vec_id FROM embeddings WHERE vec_id % 7 <> 0)
        SELECT (SELECT count(*) FROM d) AS n_docs,
               (SELECT count(*) FROM e) AS n_embeddings,
               (SELECT count(*) FROM d
                WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.vec_id = d.doc_id))
                   AS docs_missing_embedding,
               (SELECT count(*) FROM e
                WHERE NOT EXISTS (SELECT 1 FROM d WHERE d.doc_id = e.vec_id))
                   AS orphan_embeddings
    """,
)
def dq_embedding_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table coverage audit between the corpus and its embedding
    side-table: docs the embedding job hasn't reached yet (staleness —
    they silently vanish from semantic search) and embeddings whose
    doc was deleted (orphans — they serve ghost results and violate
    deletion requests). The one-row card a continuous-embedding
    pipeline alerts on. The fixture tables are born 1:1, so each side
    is carved deterministically (drop every 11th doc / every 7th
    embedding — a deletion batch and a lagging embed job) to exercise
    both failure directions under the value oracle.

    Scale: two left-anti joins on the uniform id key carrying ONE
    narrow column each, counted map-side; totals ride the same scans."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") % 11 != 0
    )
    embs = load_table(spark, sf_dir, "embeddings").select("vec_id").filter(
        F.col("vec_id") % 7 != 0
    )
    missing = docs.join(
        embs.withColumnRenamed("vec_id", "doc_id"), "doc_id", "left_anti"
    ).agg(F.count(F.lit(1)).alias("docs_missing_embedding"))
    orphans = embs.join(
        docs.withColumnRenamed("doc_id", "vec_id"), "vec_id", "left_anti"
    ).agg(F.count(F.lit(1)).alias("orphan_embeddings"))
    totals = docs.agg(F.count(F.lit(1)).alias("n_docs")).crossJoin(
        embs.agg(F.count(F.lit(1)).alias("n_embeddings"))
    )
    return totals.crossJoin(missing).crossJoin(orphans)


# --- SCD2 dimension merge ---------------------------------------------------
@register(
    "scd2_customer_addresses",
    oracle="""
        SELECT c_custkey, c_mktsegment AS segment,
               '2020-01-01' AS valid_from,
               CASE WHEN c_custkey % 7 = 3 THEN '2024-06-01' END
                   AS valid_to,
               (c_custkey % 7 <> 3) AS is_current
        FROM customer
        UNION ALL
        SELECT c_custkey, 'SEG-' || CAST(c_custkey AS VARCHAR),
               '2024-06-01', NULL, true
        FROM customer WHERE c_custkey % 7 = 3
        UNION ALL
        SELECT c_custkey + 9000000, 'NEW-' || CAST(c_custkey AS VARCHAR),
               '2024-06-01', NULL, true
        FROM customer WHERE c_custkey % 7 = 6
    """,
)
def scd2_customer_addresses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 merge (operators/upsert.scd2_apply) under a value
    oracle that covers all four batch behaviors at once: changed rows
    (key%7==3 — old version closes at the effective date, new version
    opens), NO-OP updates carrying identical tracked values (key%7==4
    — must leave the dimension untouched, the classic SCD2 bug), new
    keys (key+9M for key%7==6 — insert as current), and untouched keys
    (everything else passes through). The oracle builds the expected
    dimension state directly from the base table without seeing the
    merge. History-preserving recrawl dimensions are what the as-of
    join (``asof_last_signup``) reads at training-snapshot time."""
    from crawler_spark.operators.upsert import scd2_apply

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    existing = cust.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.to_date(F.lit("2020-01-01")).alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    k = F.col("c_custkey")
    updates = (
        cust.filter((k % 7 == 3) | (k % 7 == 4) | (k % 7 == 6))
        .select(
            F.when(k % 7 == 6, k + 9000000).otherwise(k).alias("c_custkey"),
            F.when(k % 7 == 3,
                   F.concat(F.lit("SEG-"), k.cast("string")))
             .when(k % 7 == 6,
                   F.concat(F.lit("NEW-"), k.cast("string")))
             .otherwise(F.col("c_mktsegment")).alias("segment"),
        )
    )
    dim = scd2_apply(
        existing, updates, key="c_custkey", tracked=["segment"],
        effective_date="2024-06-01",
    )
    # dates → ISO strings on the output edge only: DuckDB's pandas
    # bridge returns DATE as datetime64, which the value hash would
    # see as a different type
    return dim.select(
        "c_custkey", "segment",
        F.col("valid_from").cast("string").alias("valid_from"),
        F.col("valid_to").cast("string").alias("valid_to"),
        "is_current",
    )


# --- dynamic partition pruning probe ----------------------------------------
# Partitioned-layout cache: one materialization per (process, sf_dir),
# removed at exit — repeated driver/bench invocations reuse it instead
# of accumulating temp copies (and the measured time stops including
# the write after the first run).
def _dpp_layout_path(spark, sf_dir: str) -> str:
    def build(path: str) -> None:
        (
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_totalprice", "o_orderpriority")
            .write.mode("overwrite").partitionBy("o_orderpriority")
            .parquet(path)
        )

    return scratch_dir("dpp_", key=sf_dir, populate=build)


@register(
    "layout_dpp_probe",
    oracle="""
        WITH dim AS (
            SELECT o_orderpriority, min(o_orderkey) AS first_key
            FROM orders GROUP BY o_orderpriority
        )
        SELECT o.o_orderpriority, count(*) AS n_orders,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                   AS total_price
        FROM orders o
        JOIN dim ON o.o_orderpriority = dim.o_orderpriority
        WHERE dim.first_key % 2 = 0
        GROUP BY o.o_orderpriority
    """,
)
def layout_dpp_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning end-to-end: land the fact table
    partitioned by the join key, join it to a dim whose filter is on a
    NON-key column (first_key%2 — underivable from the join key, so
    static constraint propagation CANNOT push it to the fact scan),
    and let Spark's DPP inject the dim's surviving keys into the fact
    scan's PartitionFilters at runtime. tests/test_plan_shapes.py
    locks ``dynamicpruningexpression`` into the fact FileScan — the
    mechanism that turns a 100 TB date-partitioned fact ⨝ filtered dim
    into a scan of only the qualifying partitions. The oracle computes
    the same join unpartitioned."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    fact = spark.read.parquet(_dpp_layout_path(spark, sf_dir))
    dim = (
        orders.groupBy("o_orderpriority")
        .agg(F.min("o_orderkey").alias("first_key"))
        .filter(F.col("first_key") % 2 == 0)
        .select("o_orderpriority")
    )
    return (
        fact.join(dim, "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
             .cast("double").alias("total_price"),
        )
    )
