#!/usr/bin/env python3
"""Benchmark of the crawler_spark engine: two seeded workloads
(``query``, ``ingest``) driven from one client thread on a local Spark
session of at most 2 cores.

    python3 perfbench/run.py --workload query --seed 1 --seconds 10 --trace 0

Run from the repository root. Set-up (tables, Spark session, warm-up
operations) is timed as ``setup_s`` from process start; then each
workload times a fixed number of operations set by ``--seconds``, and
every output is checked.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1`` (Spark event log on, parsed
offline). The line before it is the full run record: metadata (cores,
versions, load, CPU steal) and every figure the run produced.
All state lives in ``.bench_run/`` under the repository root and is
removed on exit.
"""

from __future__ import annotations

import argparse
import bisect
import hashlib
import inspect
import json
import math
import os
import platform
import re
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAX_CORES = 2  # more cores ran no faster and less steadily on a shared 4-vCPU host
TAIL_PCT = 75  # latency_tail_ms percentile, fixed so runs stay comparable


def since_start() -> float:
    """Seconds since this process started: the boot-time clock minus
    the kernel's record of the process start."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return (time.clock_gettime(time.CLOCK_BOOTTIME)
            - start_ticks / os.sysconf("SC_CLK_TCK"))


# ---------------------------------------------------------------- metrics
E2E_UNITS = {"latency_p50_ms": "ms", "latency_tail_ms": "ms", "setup_s": "s"}
SESSION_LAYER = {
    "session.jobs_per_op": "count",
    "session.tasks_per_op": "count",
    "session.codegen_compiles_per_op": "count",
    "session.execute_ms": "ms",
    "session.driver_ms": "ms",
    "session.task_busy_share": "ratio",
    "session.shuffle_write_bytes": "bytes",
    "session.spill_bytes": "bytes",
    "session.gc_ms": "ms",
}
SEARCH_LAYER = {
    "plans.search_api.build_ms": "ms",
    "plans.search_api.semantic_ms": "ms",
    "plans.search_api.listing_ms": "ms",
    "plans.search_api.rag_ms": "ms",
}
INGEST_PHASES = {  # process_batch source marker -> layer metric, in code order
    "parse_stage(": "plans.ingest.parse_ms",
    "embed_stage(": "plans.ingest.embed_ms",
    "touched = ": "operators.upsert.merge_write_ms",
    "commit_manifest(": "streaming.ingest_stream.commit_ms",
    "dead.select(": "streaming.ingest_stream.dead_letter_ms",
}
INGEST_LAYER = {
    **{m: "ms" for m in INGEST_PHASES.values()},
    "streaming.ingest_stream.lookup_ms": "ms",
    "streaming.ingest_stream.files_total": "count",
    "streaming.ingest_stream.bytes_per_page": "bytes",
}
TRACE_LAYER = {"trace.latency_p50_ms": "ms", "trace.setup_s": "s"}


def layer_units() -> dict[str, str]:
    from workloads import BATCH_QUERIES

    return {**SESSION_LAYER, **SEARCH_LAYER, **INGEST_LAYER,
            **{f"plans.registry.{q}_s": "s" for q in BATCH_QUERIES},
            **TRACE_LAYER}


def median(xs):
    xs = sorted(xs)
    if not xs:
        return 0.0
    n = len(xs)
    return float(xs[n // 2]) if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0


def percentile(xs, pct):
    import numpy as np

    return float(np.percentile(xs, pct)) if xs else 0.0


# ---------------------------------------------------------------- tracing
def phase_lines(fn) -> tuple[list[int], list[str]]:
    """First source line of each ingest phase in ``fn``. Raises unless
    every marker sits on exactly one code line and the phases come in
    the order of INGEST_PHASES, so a rewritten ``process_batch`` fails
    the traced run instead of charging its jobs to the wrong phase."""
    lines, first = inspect.getsourcelines(fn)
    found = []
    for marker in INGEST_PHASES:
        pat = re.compile(r"\b" + re.escape(marker))
        hits = [first + off for off, text in enumerate(lines)
                if pat.search(text.split("#", 1)[0])]
        if len(hits) != 1:
            raise RuntimeError(f"ingest phase marker {marker!r} found on "
                               f"{len(hits)} lines of {fn.__qualname__}, expected 1")
        found.append(hits[0])
    if found != sorted(found):
        raise RuntimeError(f"ingest phase markers out of order in {fn.__qualname__}: "
                           f"{dict(zip(INGEST_PHASES, found))}")
    return found, list(INGEST_PHASES.values())


class PhaseTracer:
    """Attributes each ingest wave's Spark jobs to the line of
    ``process_batch`` that started them: a line tracer on that one
    function switches the job group to ``<wave>|<phase>`` whenever
    execution crosses a phase's first source line, and accumulates
    each phase's wall time. Only installed in traced runs."""

    def __init__(self, sc=None, fn=None):
        self.sc, self.wave, self.code = sc, None, None
        self.wall: dict[str, dict[str, float]] = {}
        if fn is None:
            return
        self.code = fn.__code__
        self.lines, self.metrics = phase_lines(fn)
        sys.settrace(self._on_call)

    def _on_call(self, frame, event, arg):
        if frame.f_code is self.code and self.wave is not None:
            self.cur, self.t = None, time.perf_counter()
            return self._on_line
        return None

    def _on_line(self, frame, event, arg):
        if event == "line":
            k = bisect.bisect_right(self.lines, frame.f_lineno) - 1
            phase = self.metrics[k] if k >= 0 else None
            if phase != self.cur:
                self._switch(phase)
        elif event == "return":
            self._switch(None)
        return self._on_line

    def _switch(self, phase):
        now = time.perf_counter()
        if self.cur is not None:
            w = self.wall.setdefault(self.wave, {})
            w[self.cur] = w.get(self.cur, 0.0) + now - self.t
        self.cur, self.t = phase, now
        if phase is not None:
            self.sc.setJobGroup(f"{self.wave}|{phase}", phase)

    def pop(self, wave: str) -> dict[str, float]:
        return {f"{m}:wall_s": s for m, s in self.wall.pop(wave, {}).items()}

    def close(self):
        if self.code is not None:
            sys.settrace(None)


# ------------------------------------------------------------------ bench
class Bench:
    """One benchmark process: private run directory, environment and
    Spark session. ``close()`` stops Spark, waits for the JVM to exit
    and removes the run directory."""

    def __init__(self, workload: str, seed: int, trace: bool, tiny: bool):
        self.seed, self.trace, self.tiny = seed, trace, tiny
        self.nproc = len(os.sched_getaffinity(0))
        self.cores = min(MAX_CORES, self.nproc)
        self.run_dir = os.path.join(ROOT, ".bench_run", f"{workload}-{os.getpid()}")
        shutil.rmtree(self.run_dir, ignore_errors=True)
        for d in ("tmp", "local", "scratch", "eventlog"):
            os.makedirs(os.path.join(self.run_dir, d))
        tmp = os.path.join(self.run_dir, "tmp")
        os.environ.update({
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(self.run_dir, "local"),
            "SPARK_GRAFT_SCRATCH": os.path.join(self.run_dir, "scratch"),
            # the engine's 8g default heap is sized for real corpora; these
            # tables need far less, and the host's memory is shared
            "SPARK_GRAFT_DRIVER_MEM": "2g",
            # every JVM, the spark-submit launcher included, keeps its
            # temp files and perf data out of the system temp dir
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PYTHONPATH": os.pathsep.join(
                [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        })
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR
        self.stat0 = _cpu_stat()
        self.load0 = os.getloadavg()
        self.canary0 = cpu_canary_ms()

        from crawler_spark.session import get_spark

        conf = {
            "spark.local.dir": os.path.join(self.run_dir, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
        }
        if trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.run_dir, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(f"perfbench-{workload}", cpus=self.cores, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.phase_tracer = PhaseTracer()

    def codegen_count(self) -> int:
        jvm = self.spark.sparkContext._jvm
        return int(jvm.org.apache.spark.metrics.source.CodegenMetrics
                   .METRIC_COMPILATION_TIME().getCount())

    def metadata(self) -> dict:
        sc = self.spark.sparkContext
        return {
            "nproc": self.nproc,
            "spark_cores": self.cores,
            "spark_version": self.spark.version,
            "java_version": sc._jvm.System.getProperty("java.version"),
            "python_version": platform.python_version(),
            "seed": self.seed,
            "git_commit": _git_commit(),
            "source_sha256": _source_digest(),
            "loadavg_start": self.load0,
            "cpu_canary_ms_start": self.canary0,
        }

    def stop_spark(self) -> None:
        """Stop Spark and wait for the JVM process to end (this also
        flushes the event log)."""
        if self.spark is None:
            return
        self.phase_tracer.close()
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()

    def close(self) -> None:
        try:
            self.stop_spark()
        finally:
            shutil.rmtree(self.run_dir, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(self.run_dir))
            except OSError:
                pass


def _cpu_stat() -> list[int]:
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


def _steal_share(a: list[int], b: list[int]) -> float | None:
    if len(a) < 8 or len(b) < 8:
        return None
    total = sum(b[:8]) - sum(a[:8])
    return (b[7] - a[7]) / total if total > 0 else 0.0


def cpu_canary_ms() -> float:
    """Best of three timings of a fixed pure-Python loop: the host's
    single-core speed around the run, so runs slowed by a contended
    host stand out in the record."""
    best = math.inf
    for _ in range(3):
        t0, acc = time.perf_counter(), 0
        for k in range(300_000):
            acc += k * k
        best = min(best, time.perf_counter() - t0)
    return 1000 * best


def _git_commit() -> str | None:
    """HEAD of the repository, or None in a checkout without git."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _source_digest() -> str:
    """sha256 over the engine's sources: identifies the code measured
    even in a checkout that is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "crawler_spark")
    for d, dirs, names in sorted(os.walk(pkg)):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                p = os.path.join(d, n)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


# ---------------------------------------------------------------- harness
def run_workload(bench: Bench, name: str, seconds: float, corrupt=None) -> dict:
    """Set up ``name``, run its warm-up, time its operations (a fixed
    number set by ``seconds``), and return the run's raw outcome."""
    from workloads import WORKLOADS, Op

    wl = WORKLOADS[name](bench)
    if bench.trace and name == "ingest":
        bench.phase_tracer = PhaseTracer(bench.spark.sparkContext, wl.process)
    warmup = 1 if bench.tiny else wl.warmup_ops
    for k in range(warmup):
        wl.op(-(k + 1))
    setup_s = since_start()
    ops: list[Op] = []
    # a fixed amount of work set by --seconds alone, not by how fast the
    # host is, so every run grows the same table sizes and takes its
    # tail over the same number of samples
    n_ops = 2 if bench.tiny else max(2, round(wl.ops_per_10s * seconds / 10))
    for i in range(n_ops):
        c0 = bench.codegen_count() if bench.trace else 0
        try:
            op = wl.op(i, corrupt)
        except Exception as exc:  # a failing op is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            op = Op(math.nan, False, "error", error=repr(exc))
        if bench.trace:
            op.parts["codegen"] = bench.codegen_count() - c0
        ops.append(op)
    attempted, failed = len(ops), sum(not o.ok for o in ops)
    extra = {}
    if hasattr(wl, "final_check"):
        attempted += 1
        try:
            failed += not wl.final_check()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            failed += 1
        extra = wl.table_stats()
    timed = [o for o in ops if not math.isnan(o.latency_s)]
    return {"wl": wl, "ops": ops, "timed": timed, "setup_s": setup_s,
            "attempted": attempted, "failed": failed,
            "summary": wl.summary(timed) if timed else {}, "table": extra}


def e2e_metrics(out: dict) -> dict[str, float]:
    lat = [1000 * o.latency_s for o in out["timed"]]
    return {"latency_p50_ms": median(lat),
            "latency_tail_ms": percentile(lat, TAIL_PCT),
            "setup_s": out["setup_s"]}


def layer_metrics(bench: Bench, name: str, out: dict) -> dict[str, float]:
    """Per-layer split of a traced run; a layer the workload never
    enters reports 0."""
    import eventlog

    groups = eventlog.read(os.path.join(bench.run_dir, "eventlog"))
    m = dict.fromkeys(layer_units(), 0.0)
    e2e = e2e_metrics(out)
    m["trace.latency_p50_ms"] = e2e["latency_p50_ms"]
    m["trace.setup_s"] = e2e["setup_s"]

    per_op, per_phase = [], {}
    for i, op in enumerate(out["ops"]):
        if math.isnan(op.latency_s):
            continue
        mine = {g: s for g, s in groups.items()
                if g == f"op{i}" or g.startswith(f"op{i}|")}
        in_op = eventlog.merge([s for g, s in mine.items() if not g.endswith("|lookup")])
        per_op.append((op, in_op))
        for g, s in mine.items():
            per_phase.setdefault(g.partition("|")[2], []).append(s)
    if not per_op:
        return m
    cores = bench.cores
    m["session.jobs_per_op"] = sum(s.jobs for _, s in per_op) / len(per_op)
    m["session.tasks_per_op"] = sum(s.tasks for _, s in per_op) / len(per_op)
    m["session.codegen_compiles_per_op"] = (
        sum(o.parts.get("codegen", 0) for o, _ in per_op) / len(per_op))
    m["session.execute_ms"] = median([s.job_ms() for _, s in per_op])
    m["session.driver_ms"] = median([1000 * o.latency_s - s.job_ms() for o, s in per_op])
    m["session.task_busy_share"] = median(
        [s.run_ms / (1000 * o.latency_s * cores) for o, s in per_op])
    m["session.shuffle_write_bytes"] = median([s.shuffle_write_bytes for _, s in per_op])
    m["session.spill_bytes"] = median([s.spill_bytes for _, s in per_op])
    m["session.gc_ms"] = median([s.gc_ms for _, s in per_op])

    timed = out["timed"]
    if name == "query":
        from workloads import BATCH_QUERIES, Query

        m["plans.search_api.build_ms"] = median(
            [1000 * o.parts[f"{k}_build_s"] for o in timed for k in Query.kinds])
        for kind in Query.kinds:
            m[f"plans.search_api.{kind}_ms"] = median(
                [1000 * o.parts[f"{kind}_s"] for o in timed])
        for q in BATCH_QUERIES:
            m[f"plans.registry.{q}_s"] = median([o.parts[f"{q}_s"] for o in timed])
    else:
        for metric in INGEST_PHASES.values():
            if metric == "streaming.ingest_stream.commit_ms":
                # the commit is file I/O, no Spark job: its wall time
                m[metric] = median([1000 * o.parts.get(f"{metric}:wall_s", 0.0)
                                    for o in timed])
            else:
                m[metric] = median([s.job_ms() for s in per_phase.get(metric, [])])
        m["streaming.ingest_stream.lookup_ms"] = median(
            [1000 * o.parts["lookup_s"] for o in timed])
        m["streaming.ingest_stream.files_total"] = out["table"]["files_total"]
        m["streaming.ingest_stream.bytes_per_page"] = out["table"]["bytes_per_page"]
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["query", "ingest"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="tiny: small tables and a few operations (self-test)")
    args = ap.parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    import crawler_spark  # noqa: F401  (fails fast outside a full checkout)

    # a terminated run still stops its JVM and removes its run dir
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))

    bench = Bench(args.workload, args.seed, bool(args.trace), args.size == "tiny")
    try:
        meta = bench.metadata()
        out = run_workload(bench, args.workload, args.seconds)
        meta["cpu_steal_share"] = _steal_share(bench.stat0, _cpu_stat())
        meta["loadavg_end"] = os.getloadavg()
        meta["cpu_canary_ms_end"] = cpu_canary_ms()
        bench.stop_spark()
        if bench.trace:
            metrics = layer_metrics(bench, args.workload, out)
            units = layer_units()
        else:
            metrics = e2e_metrics(out)
            units = E2E_UNITS
    finally:
        bench.close()

    e2e = e2e_metrics(out)
    record = {
        "workload": args.workload, "trace": args.trace, "size": args.size,
        "seconds": args.seconds, "meta": meta,
        "ops": len(out["ops"]),
        "op_ms": [1000 * o.latency_s for o in out["ops"]],
        "error_rate": out["failed"] / out["attempted"],
        "latency_tail_pct": TAIL_PCT,
        "end_to_end": {**e2e, **out["summary"]},
        "errors": sorted({o.error for o in out["ops"] if o.error}),
    }
    if args.workload == "query":
        record["end_to_end"]["pass_s"] = e2e["latency_p50_ms"] / 1000
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
