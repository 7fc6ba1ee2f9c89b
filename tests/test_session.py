"""Session-conf scoping (crawler_spark/session.py ``scoped_conf``): the
one place a Spark conf changes after the session is built. Pins the
restore-on-every-exit contract, same-thread nesting, the loud failure
of a second thread's scope on a held session, and that no streaming
e2e query leaks its shuffle cap when stream construction fails."""

from __future__ import annotations

import pathlib
import threading

import pytest
from conftest import SF_SMALL as SF

from crawler_spark.session import loop_conf, scoped_conf

SHUFFLE = "spark.sql.shuffle.partitions"
AQE = "spark.sql.adaptive.enabled"
CODEGEN = "spark.sql.codegen.wholeStage"
# a key no session sets: its "unset before" state must survive a scope
UNSET_KEY = "spark.sql.graft.test.scopedKey"


def _enter_in_thread(cm_factory) -> Exception | None:
    """Enter ``cm_factory()`` on a fresh thread; the exception it
    raised, or None."""
    caught: list[Exception] = []

    def run() -> None:
        try:
            with cm_factory():
                pass
        except Exception as exc:  # handed back to the caller
            caught.append(exc)

    t = threading.Thread(target=run)
    t.start()
    t.join(timeout=120)
    assert not t.is_alive()
    return caught[0] if caught else None


def test_scoped_conf_guard_nesting_and_error_restore(spark):
    base = {k: spark.conf.get(k, None) for k in (SHUFFLE, AQE, CODEGEN)}
    assert spark.conf.get(UNSET_KEY, None) is None

    # a second thread entering a scope while this thread holds one
    # raises at once and changes nothing
    with scoped_conf(spark, {SHUFFLE: "3"}):
        for factory in (lambda: scoped_conf(spark, {SHUFFLE: "5"}),
                        lambda: loop_conf(spark, 10)):
            exc = _enter_in_thread(factory)
            assert isinstance(exc, RuntimeError), exc
            assert "another thread" in str(exc)
        assert spark.conf.get(SHUFFLE) == "3"
        assert spark.conf.get(AQE) == base[AQE]
    # released on exit: another thread may scope the session now
    assert _enter_in_thread(lambda: scoped_conf(spark, {SHUFFLE: "5"})) is None
    assert spark.conf.get(SHUFFLE) == base[SHUFFLE]

    # same-thread nesting: each exit restores the enclosing values,
    # including loop_conf inside a wider scope (the wave-loop shape)
    with scoped_conf(spark, {SHUFFLE: "4", UNSET_KEY: "outer"}):
        with scoped_conf(spark, {SHUFFLE: "2", UNSET_KEY: "inner"}):
            assert spark.conf.get(SHUFFLE) == "2"
            assert spark.conf.get(UNSET_KEY) == "inner"
            with loop_conf(spark, 10) as (parts, shrunk):
                assert (parts, shrunk) == (1, True)
                assert spark.conf.get(SHUFFLE) == "1"
                assert spark.conf.get(AQE) == "false"
                assert spark.conf.get(CODEGEN) == "false"
            assert spark.conf.get(SHUFFLE) == "2"
            assert spark.conf.get(AQE) == base[AQE]
            assert spark.conf.get(CODEGEN, None) == base[CODEGEN]
        assert spark.conf.get(SHUFFLE) == "4"
        assert spark.conf.get(UNSET_KEY) == "outer"
    assert spark.conf.get(SHUFFLE) == base[SHUFFLE]
    assert spark.conf.get(UNSET_KEY, None) is None

    # an error inside the scope restores every key, and a key that was
    # unset before is unset again
    with pytest.raises(ValueError, match="inside"):
        with scoped_conf(spark, {SHUFFLE: "7", AQE: "false",
                                 UNSET_KEY: "x"}):
            raise ValueError("inside")
    assert {k: spark.conf.get(k, None) for k in base} == base
    assert spark.conf.get(UNSET_KEY, None) is None


class _DictConf:
    """The slice of ``RuntimeConfig`` that ``scoped_conf`` uses."""

    def __init__(self) -> None:
        self.d = {SHUFFLE: "8"}

    def get(self, key, default):
        return self.d.get(key, default)

    def set(self, key, value):
        self.d[key] = value

    def unset(self, key):
        self.d.pop(key, None)


class _FakeSession:
    def __init__(self) -> None:
        self.conf = _DictConf()


def test_scoped_conf_guard_under_thread_contention():
    """More threads than cores race to scope one session: at most one
    thread is ever inside a scope, every loser raises, and the session
    ends with its original confs and no owner left behind."""
    import sys

    from crawler_spark import session

    fake = _FakeSession()
    inside, peak, raised, foreign = [0], [0], [0], [0]
    count_lock = threading.Lock()

    def worker(i: int) -> None:
        for _ in range(300):
            try:
                with scoped_conf(fake, {SHUFFLE: str(i), UNSET_KEY: "x"}):
                    with count_lock:
                        inside[0] += 1
                        peak[0] = max(peak[0], inside[0])
                    # another thread's values showing up here = a
                    # scope that should have raised did not
                    foreign[0] += fake.conf.d[SHUFFLE] != str(i)
                    with count_lock:
                        inside[0] -= 1
            except RuntimeError:
                with count_lock:
                    raised[0] += 1

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,))
                   for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert peak[0] == 1
    assert foreign[0] == 0
    assert raised[0] > 0
    assert fake.conf.d == {SHUFFLE: "8"}
    assert id(fake) not in session._SCOPE_OWNERS


def test_no_conf_set_outside_session_py():
    import crawler_spark

    root = pathlib.Path(crawler_spark.__file__).parent
    offenders = sorted(
        str(p.relative_to(root)) for p in root.rglob("*.py")
        if p != root / "session.py"
        and any(s in p.read_text() for s in ("conf.set(", "conf.unset("))
    )
    assert offenders == [], (
        "set session confs through crawler_spark.session (scoped_conf, "
        "or set_read_confs for the fixed read-side values)")


def test_readers_set_their_read_confs_in_any_session(spark, tmp_path):
    """``load_table`` and ``bucketed_pair`` set the read confs they rely
    on, so a session that starts without them (one not built by
    ``get_spark``) still reads TIMESTAMP(NANOS) events and plans a
    bucketed join with zero Sort."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from crawler_spark.session import READ_CONFS
    from crawler_spark.sources import load_table
    from crawler_spark.sources.bucketed import bucketed_pair

    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999]
    pq.write_table(
        pa.table({"ts": pa.array(ns, type=pa.timestamp("ns"))}),
        str(tmp_path / "events.parquet"), version="2.6")
    off = {k: "false" for k in READ_CONFS}
    with scoped_conf(spark, off):
        ev = load_table(spark, str(tmp_path), "events")
        got = [r[0] for r in ev.select(F.unix_micros("ts")).collect()]
        assert got == [n // 1000 for n in ns]
    with scoped_conf(spark, off):
        l, o = bucketed_pair(
            spark, SF, ("lineitem", "l_orderkey"), ("orders", "o_orderkey"),
            num_buckets=4)
        plan = l.join(o.hint("merge"), l.l_orderkey == o.o_orderkey)._jdf \
            .queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan and "Sort [" not in plan, plan


@pytest.mark.parametrize("name, builder", [
    ("streaming_neardup_e2e",
     "crawler_spark.streaming.neardup_stream.streaming_neardup_verdicts"),
    ("streaming_dedup_horizon_e2e",
     "crawler_spark.streaming.stateful.streaming_dedup_within_horizon"),
    ("streaming_sessionize_e2e",
     "crawler_spark.streaming.event_stream.session_windows"),
    ("streaming_index_append_e2e",
     "pyspark.sql.streaming.readwriter.DataStreamWriter.start"),
])
def test_streaming_shuffle_cap_does_not_leak_on_construction_error(
        spark, monkeypatch, name, builder):
    """A stream that fails to build or start must not leave the
    streaming shuffle cap set on the session."""
    import __spark_entry__ as E

    def boom(*_a, **_k):
        raise RuntimeError("stream construction failed")

    monkeypatch.setattr(builder, boom)
    # a session default above the cap, so a leaked cap is visible
    with scoped_conf(spark, {SHUFFLE: "13"}):
        with pytest.raises(RuntimeError, match="construction failed"):
            E.queries()[name](spark, SF)
        assert spark.conf.get(SHUFFLE) == "13"
