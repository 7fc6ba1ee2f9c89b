"""Plan-fingerprint ledger: mechanize staleness class (c).

tests/test_driver_queue.py derives staleness classes (a) never-sampled
and (b) oracle-added-after-last-sample mechanically from the
CORRECTNESS_r*.json history, but class (c) — "this query's PLAN changed
since its last green driver row" — used to live in a hand-maintained
comment. This module closes that gap:

* ``canonical_plan(df)`` — the ANALYZED logical plan with run-varying
  noise stripped (expression ids, HOF lambda counters, temp fixture
  paths, uuid sink names, JVM object addresses), so the same query
  text hashes identically across runs, processes, and machines, and
  does not shift when an earlier action executes a cached intermediate
  (see canonical_plan's docstring).
* ``compute_hashes(spark, sf_dir)`` — {query name: sha256 of canonical
  plan} for every registered query.
* ``PLAN_HASHES.json`` (repo root) — the ledger: each query's hash AS
  OF ITS LAST DRIVER-GREEN STATE. tests/test_plan_ledger.py recomputes
  and fails when a query's current hash differs from the ledger while
  the query is absent from ``__spark_entry__._NEVER_DRIVER_VERIFIED``
  — i.e. you cannot change a plan without queueing it for driver
  re-verification.

Round workflow: after a round's CORRECTNESS_r{N}.json lands, run
``python tools/plan_ledger.py --refresh-green CORRECTNESS_r{N}.json``
— it re-pins ONLY the driver-confirmed-green queries and prints which
queue names can drain; a bare ``python tools/plan_ledger.py`` re-pins
everything (use only when every registered query is driver-clean at
its current plan). Mid-round, any plan edit trips the test until the
query is queued.

Round-12 closures of the two documented gaps:

* foreachBatch blind spot — streaming e2e queries run their real work
  at construction time, so the analyzed plan covered only the final
  read-back. Their ledger hash now also folds in a SOURCE fingerprint
  (``inspect.getsource`` of the registered callable + every declared
  sink helper, ``SINK_SOURCES``): editing a streaming sink body
  mechanically trips the ledger test and queues the query.
* refresh bypass — ``--refresh-green`` used to re-pin the CURRENT
  hash for driver-green names, so a plan edited AFTER the driver
  capture could be pinned as verified. ``QUEUE_SNAPSHOT.json``
  (written by ``--snapshot-queue`` whenever the queue changes, and
  kept current by tests/test_plan_ledger.py) records each queued
  query's hash as committed for the driver; ``--refresh-green``
  refuses to re-pin any query whose current hash differs from that
  captured one.
"""

from __future__ import annotations

import hashlib
import json
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LEDGER_PATH = os.path.join(REPO, "PLAN_HASHES.json")
SNAPSHOT_PATH = os.path.join(REPO, "QUEUE_SNAPSHOT.json")
SF_DIR = "/root/testdata/sf0.001"

_EXPR_ID = re.compile(r"#\d+")
# NamedLambdaVariable suffixes (``lambda x_123#``) come from a
# PROCESS-GLOBAL counter: constructing one more lambda anywhere earlier
# in the process shifts every later query's variable names, so an
# unrelated edit would cascade hash changes across the whole HOF-using
# registry (observed: 14 FTS/search/crossdoc hashes moved when the
# crawl fixture changed). Strip the counter after _EXPR_ID runs.
_LAMBDA_SEQ = re.compile(r"_\d+#")
_ADDR = re.compile(r"@[0-9a-f]{6,}")
# bounded at path-terminating punctuation (round-12 ADVICE fix): the
# old \S+ swallowed plan text after a /tmp path on the same line, so
# two genuinely different plans could hash identically
_TMP = re.compile(r"(?:file:)?/(?:tmp|var/folders)/[^\s,)\]]+")
_SPARK_WH = re.compile(r"(?:file:)?\S*/spark-warehouse/\S*")
_PLAN_ID = re.compile(r"plan_id=\d+")
# memory-sink table names carry a per-construction uuid suffix
# (``neardup_e2e_3fa9c1d2`` — queries_pipeline.py's streaming family):
# random text that would make every cross-process hash differ
_HEX_SUFFIX = re.compile(r"_([0-9a-f]{8,32})\b")


def _hex_repl(m: "re.Match") -> str:
    """Strip a hex suffix only when it could actually be random hex —
    at least one a-f (round-12 ADVICE fix: a purely-numeric suffix
    like ``ts_20240101`` is a deliberate alias, not a uuid, and
    canonicalizing it away would let a real plan change escape)."""
    return "_<uuid>" if any(c in "abcdef" for c in m.group(1)) else m.group(0)


# parquet split sizes / statistics can vary with the writing session
_SIZE_HINT = re.compile(r"Statistics\([^)]*\)")


def canonical_plan(df) -> str:
    """ANALYZED logical plan text with run-varying tokens stripped.

    Analyzed, not optimized (round-11 fix): the optimizer substitutes
    cached intermediates with InMemoryRelation nodes whose text embeds
    the cached PHYSICAL plan — including its AdaptiveSparkPlan, whose
    rendering changes from `isFinalPlan=false` to a full Final/Initial
    dump once any earlier action executes the cache (observed:
    dedup_minhash_lsh hashed differently after test_oracle_parity ran
    it). The analyzed plan never embeds cache or execution state, and
    still changes whenever OUR construction changes — which is the
    only change class the ledger exists to detect (optimizer-behavior
    shifts come from the Spark version, pinned by the environment)."""
    text = df._jdf.queryExecution().analyzed().toString()
    text = _EXPR_ID.sub("#", text)
    text = _LAMBDA_SEQ.sub("_#", text)
    text = _ADDR.sub("@", text)
    text = _TMP.sub("<TMP>", text)
    text = _SPARK_WH.sub("<WAREHOUSE>", text)
    text = _PLAN_ID.sub("plan_id=", text)
    text = _SIZE_HINT.sub("Statistics(<*>)", text)
    text = _HEX_SUFFIX.sub(_hex_repl, text)
    return text


def plan_hash(df) -> str:
    return hashlib.sha256(canonical_plan(df).encode()).hexdigest()[:16]


# --- streaming sink-source fingerprints (round 12) -------------------------
# The streaming e2e family runs its real work at CONSTRUCTION time and
# returns a batch read-back, so `canonical_plan` sees only the final
# read plan — a foreachBatch/state-handler edit used to be invisible
# here (the blind spot the module docstring documented through round
# 11). Closed by folding a SOURCE fingerprint into those queries'
# ledger hashes: ``inspect.getsource`` of the registered callable
# itself (covers inline ``def sink(batch, _id)`` closures and all the
# stream wiring) plus every helper the sink delegates real work to,
# listed explicitly below as ``module`` or ``module:function`` refs.
# tests/test_plan_ledger.py asserts every registered ``streaming_*``
# query has an entry, so a new streaming query cannot silently opt out.
SINK_SOURCES: dict[str, tuple[str, ...]] = {
    "streaming_neardup_e2e": ("crawler_spark.streaming.neardup_stream",),
    "streaming_dedup_horizon_e2e": ("crawler_spark.streaming.stateful",),
    "streaming_trending_e2e": ("crawler_spark.streaming.event_stream",),
    "streaming_sessionize_e2e": ("crawler_spark.streaming.event_stream",),
    "streaming_index_append_e2e": (
        "crawler_spark.operators.similarity:append_banded_index",
        "crawler_spark.operators.similarity:_write_partitioned",
        "crawler_spark.operators.similarity:knn_topk_precomputed",
    ),
    "streaming_warc_ingest_e2e": (
        "crawler_spark.sources.warc:read_warc_blobs",
        "crawler_spark.operators.upsert:key_bucket",
        "crawler_spark.operators.upsert:merge_into_bucketed",
        "crawler_spark.streaming.ingest_stream:read_pages_table",
    ),
    "streaming_distilled_filter_e2e": (
        "crawler_spark.plans.queries_mlprep:nb_score",
        "crawler_spark.plans.queries_mlprep:_qc_model_df",
        "crawler_spark.operators.upsert:key_bucket",
        "crawler_spark.operators.upsert:merge_into_bucketed",
        "crawler_spark.streaming.ingest_stream:read_pages_table",
    ),
    "streaming_semantic_dedup_e2e": (
        "crawler_spark.operators.similarity:build_ivf_index",
        "crawler_spark.operators.similarity:_write_partitioned",
        "crawler_spark.operators.similarity:top_centroids_udf",
        "crawler_spark.operators.upsert:key_bucket",
        "crawler_spark.operators.upsert:merge_into_bucketed",
        "crawler_spark.streaming.ingest_stream:read_pages_table",
    ),
    # not streaming, but the same blind-spot class: the wave loop runs
    # at construction time and the returned union is built from
    # eagerly-checkpointed frames, so the analyzed plan is opaque
    # LogicalRDD nodes — fingerprint the loop's real work instead
    "dedup_semantic_incremental": (
        "crawler_spark.operators.similarity:semantic_dedup_ingest_step",
        "crawler_spark.operators.similarity:append_ivf_index",
        "crawler_spark.operators.similarity:_write_partitioned",
        "crawler_spark.operators.similarity:semantic_dedup_pairs",
        "crawler_spark.operators.similarity:top_centroids_udf",
        "crawler_spark.operators.dedup:canonical_closure",
    ),
}


def sink_source_text(name: str, fn) -> str:
    """Concatenated source of the registered callable and its declared
    sink helpers — '' for non-streaming queries (their whole behavior
    is in the analyzed plan already)."""
    if name not in SINK_SOURCES:
        return ""
    import importlib
    import inspect

    parts = [inspect.getsource(fn)]
    for ref in SINK_SOURCES[name]:
        mod_name, _, attr = ref.partition(":")
        obj = importlib.import_module(mod_name)
        if attr:
            obj = getattr(obj, attr)
        parts.append(inspect.getsource(obj))
    return "\n".join(parts)


def compute_hashes(spark, sf_dir: str = SF_DIR, names=None) -> dict:
    """{name: hash} for every registered query (or the given subset).

    The hash covers the canonicalized analyzed plan AND, for the
    streaming e2e family, the sink/helper source fingerprint — one
    ledger key per query either way. A query whose construction raises
    is recorded as ``ERROR:<type>`` — the ledger test surfaces it
    rather than silently skipping.
    """
    import __spark_entry__ as E

    out: dict[str, str] = {}
    qs = E.queries()
    for name, fn in qs.items():
        if names is not None and name not in names:
            continue
        try:
            text = canonical_plan(fn(spark, sf_dir))
            text += "\x00" + sink_source_text(name, fn)
            out[name] = hashlib.sha256(text.encode()).hexdigest()[:16]
        except Exception as exc:  # surfaced by the test, never hidden
            out[name] = f"ERROR:{type(exc).__name__}"
    return dict(sorted(out.items()))


def load_ledger() -> dict:
    if not os.path.exists(LEDGER_PATH):
        return {}
    with open(LEDGER_PATH) as fh:
        return json.load(fh)


def load_snapshot() -> dict:
    if not os.path.exists(SNAPSHOT_PATH):
        return {}
    with open(SNAPSHOT_PATH) as fh:
        return json.load(fh)


def save_snapshot(hashes: dict) -> None:
    with open(SNAPSHOT_PATH, "w") as fh:
        json.dump(dict(sorted(hashes.items())), fh, indent=1, sort_keys=True)
        fh.write("\n")


def save_ledger(hashes: dict) -> None:
    with open(LEDGER_PATH, "w") as fh:
        json.dump(hashes, fh, indent=1, sort_keys=True)
        fh.write("\n")


def main() -> None:
    import sys

    if REPO not in sys.path:  # `python tools/plan_ledger.py` puts
        sys.path.insert(0, REPO)  # tools/ on the path, not the repo root
    # MUST be the project session factory, not a bare builder: session
    # configs that change optimized-plan TEXT (ANSI cast nodes, the UTC
    # timezone on timestamp literals) would otherwise make generator
    # and pytest hashes disagree on ~half the registry (observed)
    from crawler_spark.session import get_spark

    spark = get_spark("plan-ledger", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")

    if "--snapshot-queue" in sys.argv:
        # run whenever _NEVER_DRIVER_VERIFIED changes: records each
        # queued query's CURRENT hash so --refresh-green can later
        # prove the driver verified exactly this plan. Kept honest by
        # tests/test_plan_ledger.py (snapshot must cover exactly the
        # queue, at the current hashes).
        import __spark_entry__ as E

        queued = set(E._NEVER_DRIVER_VERIFIED)
        hashes = compute_hashes(spark, names=queued)
        save_snapshot(hashes)
        print(f"snapshotted {len(hashes)} queued plans -> {SNAPSHOT_PATH}: "
              f"{sorted(hashes)[:30]}")
        return

    if "--refresh-green" in sys.argv:
        # round-start workflow: re-pin ONLY the queries the given
        # driver CORRECTNESS file confirmed green (hash_match, or
        # rows+schema for rows-only checks), then report which queue
        # names are safe to drain. Never silently re-pins an
        # unverified plan change — that is the whole point of the
        # ledger: a green query re-pins only at the exact hash the
        # committed QUEUE_SNAPSHOT.json captured before the driver
        # ran (for queued names) or at its already-pinned hash (for
        # re-verifications); anything else is refused and must stay
        # queued for a fresh driver sample.
        corr_path = sys.argv[sys.argv.index("--refresh-green") + 1]
        with open(corr_path) as fh:
            corr = json.load(fh)
        green = {
            n for n, row in corr.items()
            if row.get("err") is None
            and (row.get("hash_match")
                 or (row.get("rows_match") and row.get("schema_match")))
        }
        hashes = compute_hashes(spark, names=green)
        ledger = load_ledger()
        snapshot = load_snapshot()
        repinned, refused, drainable = [], [], []
        for n, h in sorted(hashes.items()):
            if h.startswith("ERROR"):
                refused.append((n, h))
                continue
            captured = snapshot.get(n, ledger.get(n))
            if captured is None:
                # in neither the snapshot nor the ledger: nothing
                # proves which plan the driver saw — snapshot it and
                # let the next round's sample verify it
                refused.append((n, "no capture record"))
                continue
            if h != captured:
                refused.append((n, "edited after driver capture"))
                continue
            drainable.append(n)
            if ledger.get(n) != h:
                ledger[n] = h
                repinned.append(n)
        save_ledger(dict(sorted(ledger.items())))
        print(f"re-pinned {len(repinned)} driver-green plans: "
              f"{repinned[:20]}")
        if refused:
            print("REFUSED (keep queued, need a fresh driver sample): "
                  f"{refused}")
        print("queue names now safe to drain from _NEVER_DRIVER_VERIFIED: "
              f"{drainable[:30]}")
        return

    # bare re-pin: ONLY for canonicalization migrations (a change to
    # canonical_plan/SINK_SOURCES shifts hashes without any plan
    # changing) when every registered query is driver-clean at its
    # current plan — it re-pins unconditionally.
    hashes = compute_hashes(spark)
    old = load_ledger()
    changed = {n for n in hashes if old.get(n) != hashes[n]}
    save_ledger(hashes)
    print(f"pinned {len(hashes)} plans -> {LEDGER_PATH} "
          f"({len(changed)} changed: {sorted(changed)[:20]})")


if __name__ == "__main__":
    main()
