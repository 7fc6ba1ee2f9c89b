"""Streaming ingest: unbounded flow of fetched pages → parse → embed →
idempotent url-keyed merge (SURVEY.md §2.11).

Mirrors the reference's spider→queue→worker flow (at-least-once
delivery + upsert-on-url idempotence — celery_app.py:23, tasks.py:24-25,
db.py:48) as a Structured Streaming job: the file/Kafka source replays
give at-least-once, and ``foreachBatch`` + merge-by-url makes the sink
idempotent, so the pipeline is effectively exactly-once on the pages
table.

Scale design — the pages table is PARTITIONED by a stable domain-hash
bucket, and each micro-batch:
  1. computes the (small) set of buckets its urls touch,
  2. reads ONLY those partitions of the existing table (partition
     pruning on the directory layout),
  3. merges, and rewrites ONLY those partitions via dynamic partition
     overwrite.
A batch therefore costs O(touched partitions), not O(table) — the r1
implementation re-read and rewrote the whole table every batch. A url
always lands in the same bucket (bucket = f(domain), domain = f(url)),
so the per-url merge never needs to look outside its partition. With
Delta on the classpath this becomes ``MERGE INTO`` with file-level
pruning; the call sites are unchanged.

Dead-letter rows (D5) are written into an ``epoch_id=`` partition via
dynamic overwrite: a REPLAYED micro-batch overwrites its own epoch's
partition instead of appending duplicates, so the dead-letter sink is
idempotent under at-least-once replay too.

Atomicity — the manifest commit protocol (a minimal Delta-style log):
the table's live state is defined by ``_MANIFEST.json`` (bucket →
epoch whose ``v=<epoch>/bucket=<b>/`` directory holds that bucket's
current rows). A micro-batch writes its merged buckets into the NEW
``v=<epoch_id>/`` directory — never touching live data — and then
commits with ONE atomic ``os.replace`` of the manifest. A crash at any
earlier point leaves the manifest (and therefore every reader) on the
previous consistent state, and the epoch replay rewrites ``v=<epoch>``
in place (deterministic source offsets ⇒ same rows) before committing.
This closes the multi-partition rename window dynamic partition
overwrite has. On object stores swap ``os.replace`` for a
conditional-put of the manifest key; with Delta on the classpath the
whole protocol collapses into ``MERGE INTO``. Readers go through
``read_pages_table`` (or ``read_pages_table_at`` for time travel over
the ``_mlog`` snapshot log); superseded version directories are
reclaimed by ``vacuum_pages_table``, whose ``retain_last`` window
bounds how far back travel reaches — Delta's VERSION AS OF + VACUUM
contract in miniature.
"""

from __future__ import annotations

import contextlib
import json
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from crawler_spark import schemas
from crawler_spark.functions.embedding import StubEmbedder
from crawler_spark.plans.ingest import embed_stage, finalize_pages, parse_stage, split_dead_letter

DEFAULT_NUM_BUCKETS = 16
MANIFEST_NAME = "_MANIFEST.json"
MLOG_NAME = "_mlog"


def _manifest_path(pages_dir: str) -> str:
    return os.path.join(pages_dir, MANIFEST_NAME)


def read_manifest(pages_dir: str) -> dict[int, int]:
    """bucket → epoch of the directory holding its live rows; empty
    dict = the table does not exist yet."""
    p = _manifest_path(pages_dir)
    if not os.path.isfile(p):
        return {}
    with open(p) as f:
        return {int(k): int(v) for k, v in json.load(f).items()}


def commit_manifest(pages_dir: str, manifest: dict[int, int]) -> int:
    """THE commit point: one atomic rename publishes the new table
    state. Everything before this is invisible to readers.

    After the live pointer swaps, the committed state is also appended
    to the immutable snapshot log ``_mlog/<version>.json`` — that log
    is what ``read_pages_table_at`` time-travels over (Delta's
    ``_delta_log`` in miniature). Ordering matters: the live manifest
    is the source of truth, so the snapshot is written AFTER the swap;
    a crash in between loses only the newest LOG entry (time travel
    lags one commit), never the live state, and the epoch replay's
    recommit restores the log. Returns the snapshot version."""
    os.makedirs(pages_dir, exist_ok=True)
    p = _manifest_path(pages_dir)
    tmp = p + ".tmp"
    payload = {str(b): e for b, e in sorted(manifest.items())}
    with open(tmp, "w") as f:
        json.dump(payload, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, p)
    log_dir = os.path.join(pages_dir, MLOG_NAME)
    os.makedirs(log_dir, exist_ok=True)
    versions = _snapshot_versions(pages_dir)
    ver = (versions[-1] + 1) if versions else 1
    snap_tmp = os.path.join(log_dir, f"{ver:08d}.json.tmp")
    with open(snap_tmp, "w") as f:
        json.dump(payload, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(snap_tmp, os.path.join(log_dir, f"{ver:08d}.json"))
    return ver


def _snapshot_versions(pages_dir: str) -> list[int]:
    log_dir = os.path.join(pages_dir, MLOG_NAME)
    if not os.path.isdir(log_dir):
        return []
    return sorted(
        int(f[:-5]) for f in os.listdir(log_dir)
        if f.endswith(".json") and f[:-5].isdigit()
    )


def read_manifest_at(pages_dir: str, version: int) -> dict[int, int]:
    """The committed bucket→epoch state at snapshot ``version``;
    raises KeyError for an unknown (or vacuumed-away) version."""
    p = os.path.join(pages_dir, MLOG_NAME, f"{version:08d}.json")
    if not os.path.isfile(p):
        raise KeyError(
            f"no snapshot {version} in {pages_dir} "
            f"(known: {_snapshot_versions(pages_dir)})")
    with open(p) as f:
        return {int(k): int(v) for k, v in json.load(f).items()}


def manifest_history(pages_dir: str) -> list[int]:
    """Time-travelable snapshot versions, oldest first."""
    return _snapshot_versions(pages_dir)


def next_commit_epoch(pages_dir: str) -> int:
    """Smallest epoch strictly greater than every epoch referenced by a
    surviving snapshot. ``max(current manifest) + 1`` is NOT safe: a
    delete that empties the max-epoch bucket drops it from the live
    manifest, so the next commit would reuse a published epoch and
    dynamic-overwrite ``v=<e>/bucket=<b>`` directories an older
    snapshot still references — silently corrupting time travel and
    the changes feed. Epochs a vacuum pruned may be reused: their
    directories and the snapshots referencing them are gone together.

    The LIVE manifest is included too: a crash between the live-manifest
    swap and its mlog snapshot write leaves the newest epoch referenced
    only by the live state — allocating it again would dynamic-overwrite
    live directories in place.

    Cost is O(surviving snapshots) per commit (tiny JSON files; vacuum
    bounds the history). A production swap tracks the max in a sidecar
    or uses Delta, where the log IS the allocator."""
    top = -1
    live = read_manifest(pages_dir)
    if live:
        top = max(live.values())
    for v in _snapshot_versions(pages_dir):
        try:
            snap = read_manifest_at(pages_dir, v)
        except KeyError:  # raced with a vacuum
            continue
        if snap:
            top = max(top, max(snap.values()))
    return top + 1


def _bucket_paths(pages_dir: str, manifest: dict[int, int]) -> list[str]:
    return [
        os.path.join(pages_dir, f"v={e}", f"bucket={b}")
        for b, e in sorted(manifest.items())
    ]


def read_buckets(spark: SparkSession, pages_dir: str,
                 manifest: dict[int, int]) -> DataFrame:
    """THE manifest-pruned parquet read — exactly the given
    bucket→epoch map's live directories, shared by every reader
    (table/snapshot/CDF/streaming merge, batch MERGE/DELETE, txn
    snapshot reads). ``mergeSchema`` honors additive evolution: a
    plain read infers the schema from one file and would silently
    drop (and a rewriting consumer would then rewrite away) a column
    only newer-epoch buckets carry. The internal ``v`` partition
    column is dropped; ``bucket`` stays."""
    return (
        spark.read.option("basePath", pages_dir)
        .option("mergeSchema", "true")
        .parquet(*_bucket_paths(pages_dir, manifest))
        .drop("v")
    )


def read_pages_table(spark: SparkSession, pages_dir: str) -> DataFrame | None:
    """Manifest-aware reader: loads exactly each bucket's live version
    directory (``v``/``bucket`` come back as partition columns from the
    paths; the internal ``v`` is dropped). None if the table doesn't
    exist yet.

    Schema evolution: buckets committed at different epochs may carry
    different (compatible) schemas — a column added by a later batch.
    ``mergeSchema`` unions them, filling old rows with NULL, so adding
    a column never requires rewriting history (Delta's additive
    evolution rule; renames/drops still do)."""
    manifest = read_manifest(pages_dir)
    if not manifest:
        return None
    return read_buckets(spark, pages_dir, manifest)


def read_pages_table_at(
    spark: SparkSession, pages_dir: str, version: int
) -> DataFrame | None:
    """Time travel: the table exactly as committed at snapshot
    ``version`` (``manifest_history`` lists them). Because commits
    never mutate published directories, an old snapshot's files are
    intact until ``vacuum_pages_table`` reclaims them past the
    retention window — the same contract as Delta's
    ``VERSION AS OF`` + ``VACUUM``. A snapshot whose manifest is
    EMPTY (a delete emptied the table) returns None, mirroring
    ``read_pages_table`` — there are no files to carry a schema."""
    manifest = read_manifest_at(pages_dir, version)
    if not manifest:
        return None
    return read_buckets(spark, pages_dir, manifest)


def pages_changes(
    spark: SparkSession,
    pages_dir: str,
    from_version: int,
    to_version: int,
    key: str = "url",
) -> DataFrame:
    """Change data feed between two snapshots: every row inserted,
    deleted, or updated going ``from_version → to_version``, keyed by
    ``key``, tagged with a ``_change_type`` column (Delta's
    ``table_changes`` shape). The scale property comes from the
    manifest: a bucket whose epoch is IDENTICAL in both snapshots
    cannot contain changes (commits replace whole bucket directories),
    so only changed buckets are read AT ALL — a micro-batch that
    touched 3 of 4096 buckets yields a diff that scans 3, and the
    incremental consumer (re-embed, re-index, replicate) never pays
    O(table). Within a changed bucket, update detection is an md5 over
    the canonical JSON of the non-key columns on each side of a
    full-outer join."""
    m_from = read_manifest_at(pages_dir, from_version)
    m_to = read_manifest_at(pages_dir, to_version)
    changed = sorted(
        b for b in set(m_from) | set(m_to) if m_from.get(b) != m_to.get(b)
    )
    def side(manifest: dict[int, int]) -> DataFrame | None:
        sub = {b: e for b, e in manifest.items() if b in changed}
        if not sub:
            return None
        return read_buckets(spark, pages_dir, sub)

    old, new = side(m_from), side(m_to)
    if old is None and new is None:
        # no bucket changed: empty feed with the TO snapshot's real
        # schema + tag, so unions across version windows line up
        base = read_pages_table_at(spark, pages_dir, to_version)
        if base is None:  # table empty at both versions: no schema exists
            return spark.createDataFrame([], f"{key} string, _change_type string")
        return (
            base.where(F.lit(False))
            .withColumn("_change_type", F.lit(None).cast("string"))
        )
    if old is None or new is None:
        base, tag = (new, "insert") if old is None else (old, "delete")
        return base.withColumn("_change_type", F.lit(tag))

    def fp(df: DataFrame) -> Column:
        cols = [c for c in sorted(df.columns) if c != key]
        return F.md5(F.to_json(F.struct(*cols)))

    o = old.select(F.col(key).alias("_k"), fp(old).alias("_ofp"))
    n = new.withColumn("_nfp", fp(new))
    j = n.join(o, n[key] == o["_k"], "full_outer")
    return (
        j.withColumn(
            "_change_type",
            F.when(F.col("_k").isNull(), "insert")
            .when(F.col("_nfp").isNull(), "delete")
            .when(F.col("_ofp") != F.col("_nfp"), "update")
        )
        .filter(F.col("_change_type").isNotNull())
        # delete rows carry the NEW side's nulls; keep the key readable
        # (their pre-image is one read_pages_table_at(from_version) away)
        .withColumn(key, F.coalesce(F.col(key), F.col("_k")))
        .drop("_k", "_ofp", "_nfp")
    )


def stage_bucket_data(pages_dir: str, df: DataFrame, epoch: int) -> set[int]:
    """Write ``df``'s buckets under ``v=<epoch>`` WITHOUT touching any
    manifest — the data-staging half of the commit protocol, shared by
    ``apply_bucket_commit`` (which swaps this table's manifest next)
    and cross-table transactions (operators/txn.py, where the swap is
    ONE txn-file rename covering several tables). Staged directories
    are invisible until some manifest points at them, so staging can
    never corrupt a live table. The ``localCheckpoint`` materializes
    the input first (it may read the very directories this write
    replaces) and pins the returned bucket set to the rows actually
    written even for non-deterministic inputs. Returns the buckets
    written, each as one file via one task (parallel across buckets)."""
    df = df.localCheckpoint(eager=True)
    (
        df.repartition("bucket")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(os.path.join(pages_dir, f"v={epoch}"))
    )
    return {r.bucket for r in df.select("bucket").distinct().collect()}


def apply_bucket_commit(
    pages_dir: str,
    df: DataFrame,
    epoch: int,
    touched: set[int] | None = None,
    use_lock: bool = True,
) -> int:
    """Batch commit for the manifest table: write ``df``'s buckets
    under ``v=<epoch>`` and swap the manifest once. ``touched`` is
    every bucket the commit EXAMINED — touched buckets with no
    surviving rows are DROPPED from the manifest (a delete that
    empties a bucket must not leave it pointing at the pre-delete
    directory), and the set is always widened to the buckets actually
    written, so a caller-supplied list can never silently strand
    committed rows behind a stale manifest entry. Returns the
    snapshot version. The streaming processor keeps its own merge
    path (its merge output is a superset of the batch's keys, so it
    can never empty a bucket); this helper is the delete-capable
    batch form.

    Hardening (each guards a distinct misuse):
      * ``localCheckpoint`` first — the input may READ the very
        directories this write replaces (epoch replay rebuilding from
        ``read_pages_table``), and materializing breaks that lineage;
        it also pins ``present`` to the rows actually written even
        for non-deterministic inputs.
      * dynamic partition overwrite — re-committing an epoch must
        replace only the buckets in ``df``, never truncate sibling
        buckets committed earlier under the same epoch.
      * the manifest read-modify-write runs under
        ``table_write_lock`` (pass ``use_lock=False`` if the caller
        already holds it — flock is not reentrant).
      * the write repartitions BY bucket (one file per bucket, one
        task per bucket — parallel across buckets, unlike a single
        funnel task)."""
    present = stage_bucket_data(pages_dir, df, epoch)
    touched = present | (set(touched) if touched is not None else set())

    def update() -> int:
        manifest = read_manifest(pages_dir)
        for b in touched:
            if b in present:
                manifest[b] = epoch
            else:
                manifest.pop(b, None)
        return commit_manifest(pages_dir, manifest)

    if not use_lock:
        return update()
    with table_write_lock(pages_dir):
        return update()


class ConcurrentWriteError(RuntimeError):
    """Another writer holds the table's commit lock."""


@contextlib.contextmanager
def table_write_lock(pages_dir: str):
    """Single-writer enforcement for the manifest table: the commit
    protocol is safe against CRASHES but not against two LIVE writers
    interleaving (both read manifest M, both commit, one update lost —
    the lost-update race every last-writer-wins pointer swap has).

    Implemented as ``fcntl.flock(LOCK_EX | LOCK_NB)`` on a persistent
    lockfile. Earlier revisions broke "stale" O_EXCL lockfiles by
    mtime, but every mtime-based break has a stat-then-steal TOCTOU
    (two breakers can both conclude the lock is stale and one steals
    the other's FRESH lock); flock has no stale state at all — the
    kernel releases it the instant the holder's fd closes, crash
    included. Scope: mutual exclusion holds on one host, and across
    hosts only on filesystems that propagate flock (NFSv4 does;
    NFS with local_lock/nolock and most FUSE mounts do NOT — there,
    keep all writers on one host or move to the conditional-put
    below). On object stores this becomes a conditional-put of the
    lock key with a lease; Delta solves it with optimistic retry on
    the log sequence number instead."""
    import fcntl

    os.makedirs(pages_dir, exist_ok=True)
    lock = os.path.join(pages_dir, "_COMMIT.lock")
    fd = os.open(lock, os.O_CREAT | os.O_WRONLY)
    try:
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            raise ConcurrentWriteError(
                f"{lock} is held by a live writer") from None
        os.truncate(fd, 0)
        os.write(fd, str(os.getpid()).encode())
        yield
    finally:
        os.close(fd)  # closing the fd releases the flock


def compact_pages_table(spark: SparkSession, pages_dir: str, min_files: int = 2) -> int:
    """OPTIMIZE for the manifest table: rewrite every live bucket whose
    directory holds ≥ ``min_files`` data files into one coalesced file
    under a fresh version, then swap the manifest once — the same
    commit protocol as a batch, so readers never see a half-compacted
    table. Streaming micro-batches write small files by construction;
    without periodic compaction the per-bucket file count (and scan
    open() cost) grows without bound. Single-writer like the stream
    itself — run it from the same writer between batches (Delta's
    OPTIMIZE with conflict detection is the concurrent version).
    Returns the number of buckets rewritten; superseded directories
    are reclaimed by ``vacuum_pages_table``."""
    import time

    manifest = read_manifest(pages_dir)
    todo: dict[int, int] = {}
    for b, e in manifest.items():
        d = os.path.join(pages_dir, f"v={e}", f"bucket={b}")
        nfiles = sum(1 for f in os.listdir(d) if not f.startswith((".", "_")))
        if nfiles >= min_files:
            todo[b] = e
    if not todo:
        return 0
    # compaction versions are ms timestamps — disjoint from the
    # stream's small epoch ints, so a future epoch can never overwrite
    # a compacted directory
    ver = max(int(time.time() * 1000), max(manifest.values()) + 1)
    df = (
        spark.read.option("basePath", pages_dir)
        .parquet(*_bucket_paths(pages_dir, todo))
        .drop("v")
    )
    (
        # hash-partition by bucket: every bucket's rows land in ONE
        # task → one output file per bucket directory
        df.repartition(len(todo), "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(os.path.join(pages_dir, f"v={ver}"))
    )
    commit_manifest(pages_dir, {**manifest, **{b: ver for b in todo}})
    return len(todo)


def rebucket_pages_table(
    spark: SparkSession, pages_dir: str, new_num_buckets: int
) -> int:
    """Bucket-count evolution: rewrite the table under a new
    ``domain_bucket(_, new_num_buckets)`` layout and publish it with
    ONE manifest swap — readers never see a mixed-bucketing state, and
    every pre-migration snapshot still time-travels (its directories
    are untouched until vacuum). The O(table) rewrite is inherent to
    resharding; what the protocol buys is that it happens OFFLINE of
    readers, like compaction. Run it from the single writer, then
    restart the stream with the same ``num_buckets`` — the bucket
    function and the directory layout must agree or the per-batch
    partition pruning reads the wrong directories. Returns the new
    bucket count actually materialized (empty buckets get no
    directory and no manifest entry)."""
    import time

    df = read_pages_table(spark, pages_dir)
    if df is None:
        return 0
    ver = max(int(time.time() * 1000),
              max(read_manifest(pages_dir).values()) + 1)
    out = df.drop("bucket").withColumn(
        "bucket", domain_bucket("domain", new_num_buckets))
    (
        out.repartition(new_num_buckets, "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(os.path.join(pages_dir, f"v={ver}"))
    )
    vdir = os.path.join(pages_dir, f"v={ver}")
    materialized = sorted(
        int(d[7:]) for d in os.listdir(vdir) if d.startswith("bucket="))
    # the swap REPLACES the whole manifest: old buckets vanish together
    commit_manifest(pages_dir, {b: ver for b in materialized})
    return len(materialized)


def vacuum_pages_table(pages_dir: str, retain_last: int = 1) -> int:
    """Remove version/bucket directories referenced by neither the
    live manifest nor the last ``retain_last`` snapshots (a superseded
    bucket keeps its old files until vacuumed — the price of never
    mutating live data). Snapshots older than the retention window are
    pruned from the log too, so ``read_pages_table_at`` fails loudly
    (KeyError) instead of reading half-reclaimed data — Delta's VACUUM
    retention semantics. Returns dirs removed.

    Runs under the table's writer lock: like compaction, vacuum must
    not interleave with a writer — staged-but-uncommitted ``v=``
    directories are referenced by nothing and would be reclaimed out
    from under the in-flight commit. ``retain_last`` must be ≥ 1:
    pruning EVERY snapshot would reset ``next_commit_epoch`` to 0
    while live directories still exist, re-enabling the epoch-reuse
    overwrite the allocator exists to prevent."""
    import shutil

    if retain_last < 1:
        raise ValueError("retain_last must be >= 1: the newest snapshot "
                         "anchors the epoch allocator")
    with table_write_lock(pages_dir):
        return _vacuum_locked(pages_dir, retain_last, shutil)


def _vacuum_locked(pages_dir: str, retain_last: int, shutil) -> int:
    manifest = read_manifest(pages_dir)
    retained_versions = _snapshot_versions(pages_dir)[-retain_last:]
    live = {(e, b) for b, e in manifest.items()}
    for ver in retained_versions:
        live |= {(e, b) for b, e in read_manifest_at(pages_dir, ver).items()}
    for ver in _snapshot_versions(pages_dir):
        if ver not in retained_versions:
            os.remove(os.path.join(pages_dir, MLOG_NAME, f"{ver:08d}.json"))
    removed = 0
    for vdir in os.listdir(pages_dir):
        if not vdir.startswith("v="):
            continue
        e = int(vdir[2:])
        vpath = os.path.join(pages_dir, vdir)
        for bdir in os.listdir(vpath):
            if not bdir.startswith("bucket="):
                continue
            if (e, int(bdir[7:])) not in live:
                shutil.rmtree(os.path.join(vpath, bdir))
                removed += 1
        if not any(d.startswith("bucket=") for d in os.listdir(vpath)):
            shutil.rmtree(vpath)
    return removed


def domain_bucket(domain_col: str | Column, num_buckets: int = DEFAULT_NUM_BUCKETS) -> Column:
    """Stable partition key: hash-bucket of the page's domain. Domains
    are the natural locality key for crawl data (a recrawl touches few
    domains → few partitions) while hashing keeps bucket sizes even
    when one domain dominates a corpus. Delegates to the single bucket
    definition (operators/upsert.py ``key_bucket``): the bucket
    function and the directory layout MUST stay bit-identical across
    the batch and streaming layers, so there is exactly one copy."""
    from crawler_spark.operators.upsert import key_bucket

    return key_bucket(domain_col, num_buckets)


def read_fetched_stream(
    spark: SparkSession, dir_path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Stream of FETCHED rows (url, content_type, body, fetch_error)
    dropped as parquet into ``dir_path`` — the queue between the fetch
    tier and the processing tier (the reference's Redis boundary S8)."""
    return (
        spark.readStream.schema(schemas.FETCHED)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(dir_path)
    )


def make_batch_processor(
    pages_dir: str,
    dead_dir: str,
    embedder: StubEmbedder | None = None,
    dims: int = schemas.EMBEDDING_DIMS,
    num_buckets: int = DEFAULT_NUM_BUCKETS,
    checkpoint_dir: str | None = None,
):
    """The foreachBatch body, exposed so tests can drive a micro-batch
    (and REPLAY one with the same epoch_id) without a running stream.

    ``checkpoint_dir`` set (the real-stream path via
    ``start_ingest_stream``): the stream's 0-based ``epoch_id`` is
    OFFSET by a base persisted in the checkpoint, so stream epochs
    never collide with table epochs a batch tool (merge_into_bucketed)
    committed before the stream started — an unoffset epoch 0 would
    ``mode('overwrite')`` a bulk-loaded ``v=0`` directory wholesale.
    The base lives in the checkpoint because that is the stream
    incarnation's identity: restarts (replays) resolve the same base,
    a NEW stream (fresh checkpoint) allocates a fresh base above
    everything committed. One writer at a time remains the table's
    contract — batch tools run between stream incarnations, not
    between micro-batches."""
    from crawler_spark.operators.upsert import merge_by_key

    def _resolve_epoch(epoch_id: int) -> int:
        if checkpoint_dir is None:
            return int(epoch_id)
        p = os.path.join(checkpoint_dir, "_table_epoch_base.json")
        if os.path.isfile(p):
            with open(p) as f:
                base = int(json.load(f)["base"])
        else:
            base = next_commit_epoch(pages_dir)
            os.makedirs(checkpoint_dir, exist_ok=True)
            tmp = p + ".tmp"
            with open(tmp, "w") as f:
                json.dump({"base": base}, f)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, p)
        return base + int(epoch_id)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        epoch = _resolve_epoch(epoch_id)
        spark = batch_df.sparkSession
        # parse once: both the pages chain and the dead-letter write
        # hang off this frame, and without the boundary each action
        # would re-run the HTML-parse UDFs
        items = parse_stage(batch_df).localCheckpoint(eager=True)
        ok, dead = split_dead_letter(items)
        # materialize the expensive embed stage exactly ONCE, before
        # anything consumes it — deriving `touched` from the lazy frame
        # and checkpointing later would run the embedding UDF (HTTP
        # calls + retries in the real path) twice per micro-batch
        pages = (
            # materialized=True: `ok` filters an EAGER localCheckpoint
            # (no side effects, no recompute risk), and a per-batch
            # cache pin would accrete for the stream's lifetime
            finalize_pages(embed_stage(ok, embedder, dims, materialized=True))
            .withColumn("bucket", domain_bucket("domain", num_buckets))
            .localCheckpoint(eager=True)
        )
        # the buckets this batch touches — bounded by batch size
        touched = [r["bucket"] for r in pages.select("bucket").distinct().collect()]
        manifest = read_manifest(pages_dir)
        live_touched = {b: manifest[b] for b in touched if b in manifest}
        # read ONLY the touched buckets' live version directories
        # (read_buckets: mergeSchema honors additive evolution); with
        # none live the merge still runs against an empty table, so a
        # url the batch holds twice is stored once
        existing = (read_buckets(spark, pages_dir, live_touched)
                    if live_touched else pages.limit(0))
        pages = merge_by_key(existing, pages, key="url",
                             recency_col="last_crawled")
        if any(e == epoch for e in live_touched.values()):
            # replay of an epoch that already committed (crash fell
            # between manifest commit and checkpoint commit): the
            # merge reads the very v=<epoch> directory the write
            # below rewrites — break lineage so the read finishes
            # before the overwrite
            pages = pages.localCheckpoint(eager=True)
        # stage into the NEW v=<epoch> directory — live data is never
        # mutated, so no lineage break is needed (the merge reads old
        # versions, the write targets a fresh one) and a crash here
        # leaves the manifest on the previous consistent state; an
        # epoch replay overwrites this directory deterministically
        (
            pages.write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(os.path.join(pages_dir, f"v={epoch}"))
        )
        commit_manifest(pages_dir, {**manifest,
                                    **{b: epoch for b in touched}})
        # epoch-keyed dead-letter: replayed batches overwrite their own
        # partition instead of appending duplicates
        (
            dead.select("url", "error")
            .withColumn("epoch_id", F.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch_id")
            .parquet(dead_dir)
        )

    return process_batch


def start_ingest_stream(
    fetched_stream: DataFrame,
    pages_dir: str,
    dead_dir: str,
    checkpoint_dir: str,
    embedder: StubEmbedder | None = None,
    dims: int = schemas.EMBEDDING_DIMS,
    num_buckets: int = DEFAULT_NUM_BUCKETS,
):
    """Run parse→validate→embed per micro-batch and MERGE into the
    bucket-partitioned pages table via foreachBatch (see module
    docstring for the partition-pruned merge discipline)."""
    return (
        fetched_stream.writeStream.foreachBatch(
            make_batch_processor(pages_dir, dead_dir, embedder, dims,
                                 num_buckets, checkpoint_dir=checkpoint_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
