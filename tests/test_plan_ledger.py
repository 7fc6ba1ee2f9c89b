"""Staleness class (c), mechanized: you cannot change a query's plan
without queueing it for driver re-verification.

PLAN_HASHES.json pins each registered query's canonicalized analyzed
plan — folded, for the streaming e2e family, with its sink-source
fingerprint (foreachBatch/state-handler bodies the read-back plan
cannot see) — as of its last driver-green state (tools/plan_ledger.py).
This test recomputes every hash at sf0.001 and fails when

* a query's hash differs from the ledger, or
* a query is registered but absent from the ledger (new registration),

while the query is NOT listed in ``__spark_entry__._NEVER_DRIVER_VERIFIED``
— the queue the driver samples first. Together with
tests/test_driver_queue.py (classes (a) never-sampled and (b)
oracle-added-after-sample) all three staleness classes are now
mechanical; the round-9 incident class ("rewrote the plan, forgot to
re-queue") cannot recur silently.

Ledger refresh: after the queued names come back green in
CORRECTNESS_r{N}.json, run ``python tools/plan_ledger.py
--refresh-green CORRECTNESS_r{N}.json`` and drain the queue. When the
queue CHANGES, run ``python tools/plan_ledger.py --snapshot-queue`` so
QUEUE_SNAPSHOT.json records the exact plan the driver will verify
(--refresh-green refuses to re-pin a plan edited after that capture).
"""

from __future__ import annotations

import __spark_entry__ as E
from tools.plan_ledger import (
    SINK_SOURCES,
    compute_hashes,
    load_ledger,
    load_snapshot,
)


def test_every_streaming_query_declares_sink_sources(spark):
    """A streaming e2e query whose real work happens in foreachBatch /
    state handlers must declare those callables in SINK_SOURCES —
    otherwise its ledger hash covers only the batch read-back plan and
    a sink edit could ship without driver re-verification."""
    from crawler_spark.plans import registry

    registry.load_all()
    missing = sorted(
        n for n in registry.QUERIES
        if n.startswith("streaming_") and n not in SINK_SOURCES
    )
    assert not missing, (
        "streaming queries without a SINK_SOURCES entry in "
        f"tools/plan_ledger.py: {missing}"
    )


def test_changed_or_new_plans_are_queued_for_driver_verification(spark):
    ledger = load_ledger()
    assert ledger, (
        "PLAN_HASHES.json is missing or empty — regenerate it with "
        "`python tools/plan_ledger.py`"
    )
    current = compute_hashes(spark)
    queued = set(E._NEVER_DRIVER_VERIFIED)

    construction_errors = {
        n: h for n, h in current.items() if h.startswith("ERROR:")
    }
    assert not construction_errors, (
        f"queries failed to construct at sf0.001: {construction_errors}"
    )

    unqueued_changes = sorted(
        n for n, h in current.items()
        if ledger.get(n) != h and n not in queued
    )
    assert not unqueued_changes, (
        "these queries' analyzed plans differ from PLAN_HASHES.json "
        "(or are new) but are not queued in _NEVER_DRIVER_VERIFIED — "
        "queue them (or, if their last driver row is already green for "
        f"this exact plan, re-pin the ledger): {unqueued_changes}"
    )

    # the ledger never goes stale in reverse: entries for queries that
    # no longer exist would mask a rename slipping past the driver
    ghosts = sorted(set(ledger) - set(current))
    assert not ghosts, (
        f"PLAN_HASHES.json pins queries that are no longer registered "
        f"(rename/removal must re-pin the ledger): {ghosts}"
    )

    # QUEUE_SNAPSHOT.json must capture exactly the queued names at
    # their CURRENT hashes — it is the proof --refresh-green uses that
    # the driver verified this exact plan, so it may not lag an edit
    # to a queued query (run `python tools/plan_ledger.py
    # --snapshot-queue` after any queue or queued-plan change)
    snapshot = load_snapshot()
    assert set(snapshot) == queued, (
        "QUEUE_SNAPSHOT.json does not cover exactly "
        f"_NEVER_DRIVER_VERIFIED: snapshot-only={sorted(set(snapshot) - queued)} "
        f"queue-only={sorted(queued - set(snapshot))} — re-run "
        "--snapshot-queue"
    )
    stale = sorted(
        n for n in queued
        if n in current and snapshot.get(n) != current[n]
    )
    assert not stale, (
        "queued queries whose plan changed after the snapshot was "
        f"taken (re-run --snapshot-queue): {stale}"
    )


def test_memory_sink_suffix_canonicalizes_when_the_uuid_is_all_digits(
        spark, monkeypatch):
    """The streaming e2e queries name their memory sink after a random
    uuid. An all-decimal 8-hex draw (about 2.3% of them) used to stay
    in the canonical plan, which ``_hex_repl`` keeps for numeric
    aliases; the suffix now always carries a letter, so a forced
    all-digit uuid gives the same canonical plan as a lettered one."""
    import uuid

    from conftest import SF_SMALL

    from crawler_spark.plans import registry
    from tools.plan_ledger import canonical_plan

    registry.load_all()
    build = registry.QUERIES["streaming_trending_e2e"]
    plans = []
    for hex_ in ("12345678" * 4, "a2345678" * 4):
        monkeypatch.setattr(uuid, "uuid4", lambda h=hex_: uuid.UUID(h))
        plans.append(canonical_plan(build(spark, SF_SMALL)))
    assert plans[0] == plans[1]
