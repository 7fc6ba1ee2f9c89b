"""Scratch directories (crawler_spark/session.py ``scratch_dir``): the one
place the engine makes a directory of its own. Pins the memoization and
populate-failure contract, that the root follows SPARK_GRAFT_SCRATCH,
that a process leaves nothing behind in TMPDIR or the scratch root, and
that no other module makes or names a temp directory itself."""

from __future__ import annotations

import os
import pathlib
import subprocess
import sys
import threading

import pytest
from conftest import SF_SMALL as SF

from crawler_spark import session
from crawler_spark.session import scratch_dir

REPO = pathlib.Path(__file__).resolve().parent.parent


def test_same_key_returns_same_path():
    a = scratch_dir("test_memo_", key=("sf", 1))
    assert scratch_dir("test_memo_", key=("sf", 1)) == a
    assert os.path.isdir(a)
    assert scratch_dir("test_memo_", key=("sf", 2)) != a
    assert scratch_dir("test_memo_other_", key=("sf", 1)) != a


def test_populate_runs_once_before_caching():
    calls = []

    def populate(path):
        calls.append(path)
        pathlib.Path(path, "f").write_text("x")

    a = scratch_dir("test_populate_", key="k", populate=populate)
    b = scratch_dir("test_populate_", key="k", populate=populate)
    assert a == b and calls == [a]
    assert pathlib.Path(a, "f").read_text() == "x"


def test_failed_populate_leaves_nothing_and_caches_nothing():
    seen = []

    def broken(path):
        seen.append(path)
        pathlib.Path(path, "partial").write_text("half")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        scratch_dir("test_broken_", key="k", populate=broken)
    assert not os.path.exists(seen[0])
    assert ("test_broken_", "k") not in session._SCRATCH_DIRS
    # the next call builds afresh
    ok = scratch_dir("test_broken_", key="k", populate=lambda p: None)
    assert ok != seen[0] and os.path.isdir(ok)


def test_fresh_calls_return_distinct_paths():
    paths = {scratch_dir("test_fresh_") for _ in range(5)}
    assert len(paths) == 5
    assert all(os.path.isdir(p) for p in paths)


def test_root_follows_spark_graft_scratch(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    monkeypatch.setattr(session, "_SCRATCH_ROOT", None)
    path = pathlib.Path(scratch_dir("test_root_"))
    root = path.parent
    assert root.parent == tmp_path
    assert root.name.startswith(f"{os.getpid()}-")
    assert path.name.startswith("test_root_")


def test_concurrent_first_use_makes_one_root_and_one_cached_path(
        tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    monkeypatch.setattr(session, "_SCRATCH_ROOT", None)
    monkeypatch.setattr(session, "_SCRATCH_DIRS", {})
    n = 16
    barrier = threading.Barrier(n)
    got, errors = [], []

    def run():
        try:
            barrier.wait(timeout=30)
            got.append(scratch_dir("test_stress_", key="k"))
            scratch_dir("test_stress_fresh_")
        except Exception as exc:  # handed back to the main thread
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=run) for _ in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(os.listdir(tmp_path)) == 1
    assert len(got) == n and len(set(got)) == 1


def _tree(path: str) -> dict[str, float]:
    out = {}
    for dirpath, dirnames, filenames in os.walk(path):
        for n in dirnames + filenames:
            p = os.path.join(dirpath, n)
            out[p] = os.lstat(p).st_mtime
    return out


def test_a_process_leaves_no_scratch_behind(tmp_path):
    """ANN fixtures and a streaming checkpoint built in a child process
    live under its scratch root and are gone once it exits: nothing in
    TMPDIR, nothing in SPARK_GRAFT_SCRATCH, and nothing written to the
    old cross-process index directory."""
    tmpdir, scratch = tmp_path / "tmpdir", tmp_path / "scratch"
    tmpdir.mkdir()
    scratch.mkdir()
    shared = "/tmp/crawler_spark_ann_index"
    before = _tree(shared)
    code = (
        "import __spark_entry__ as E\n"
        "from crawler_spark.session import get_spark\n"
        "spark = get_spark('scratch-test', cpus=2)\n"
        "spark.sparkContext.setLogLevel('ERROR')\n"
        "qs = E.queries()\n"
        "for n in ('knn_probe_precomputed', 'knn_topk_ivf',\n"
        "          'streaming_neardup_e2e'):\n"
        f"    assert qs[n](spark, {SF!r}).count() > 0, n\n"
    )
    env = dict(os.environ, TMPDIR=str(tmpdir),
               SPARK_GRAFT_SCRATCH=str(scratch))
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert sorted(os.listdir(tmpdir)) == []
    assert sorted(os.listdir(scratch)) == []
    assert _tree(shared) == before


def test_no_temp_dirs_made_outside_session_py():
    import crawler_spark

    root = pathlib.Path(crawler_spark.__file__).parent
    offenders = sorted(
        str(p.relative_to(root)) for p in root.rglob("*.py")
        if p != root / "session.py"
        and any(s in p.read_text() for s in ("tempfile", "atexit", '"/tmp'))
    )
    assert offenders == [], (
        "make directories through crawler_spark.session.scratch_dir")
