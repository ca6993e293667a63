"""Closed-loop measurement: set-up, warm-up, timed loop, correctness gate
and the result line.

One client runs one workload's operations round-robin, each after the
previous one finished. The run goes:

1. generate the inputs from the seed (not timed);
2. set up, timed as ``setup_s``: launch the JVM, start the Spark session
   and register the workload's tables, stream queries and catalogs;
3. warm up: one pass over the mix, whose results are kept for the
   correctness gate while a child process computes the expected results,
   then the drift sentinel (the mix's first operation) until a run is no
   more than ``LEVEL`` faster than the run before;
4. check each distinct operation's warm-up result against its expected
   result, and drop the results;
5. time the drift sentinel;
6. run whole passes over the mix until the pass boundary nearest to
   ``seconds``, sampling peak memory meanwhile;
7. time the drift sentinel again;
8. check the state the timed loop left, for workloads whose state changes
   with every operation.

A wrong result marks every timed run of that operation as failed.
"""

from __future__ import annotations

import gc
import json
import multiprocessing
import os
import shutil
import signal
import statistics
import subprocess
import threading
import time
import traceback
from concurrent.futures import ProcessPoolExecutor
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np

from perfbench.trace import NULL_TRACER

#: warm-up stops once the sentinel runs no more than this share faster
#: than its previous run
LEVEL = 0.10
MAX_WARM_RUNS = 3
#: an operation slower than this counts as failed (timeout)
OP_TIMEOUT_S = 120.0


@dataclass
class Op:
    """One operation of a workload's mix.

    ``run`` performs it and returns its result for the correctness gate.
    ``expect`` names how to compute the expected result without the
    program under test (see ``workloads.expected_results``);
    ``check(result, expected)`` returns an error string or None.
    ``rows`` is the number of input rows the operation processes.
    """

    name: str
    run: Callable[[bool], Any]
    check: "Callable[[Any, Any], str | None] | None" = None
    rows: int = 0
    kind: str = "op"
    expect: "str | None" = None


@dataclass
class Measured:
    """Returned by an operation that times itself (a stream trigger
    reports Spark's own ``triggerExecution``); ``result`` goes to the
    correctness gate."""

    latency_s: float
    result: Any = None


@dataclass
class Sample:
    op: str
    latency_s: float
    ok: bool
    rows: int
    kind: str


@dataclass
class Stats:
    samples: list = field(default_factory=list)
    wall_s: float = 0.0

    def add(self, s: Sample) -> None:
        self.samples.append(s)


# ---------------------------------------------------------------------------
# host probes
# ---------------------------------------------------------------------------


def _cpu_times() -> "list[int]":
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: "list[int]", after: "list[int]") -> float:
    """Share of CPU time stolen by the hypervisor between two samples."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])
    return d[7] / total if total > 0 and len(d) > 7 else 0.0


def _process_tree(root_pid: int) -> "list[tuple[int, int]]":
    """(pid, depth) of ``root_pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [(root_pid, 0)]
    while todo:
        pid, depth = todo.pop()
        out.append((pid, depth))
        todo.extend((c, depth + 1) for c in children.get(pid, ()))
    return out


def _mem_kb(pid: int, field: str) -> int:
    path = "smaps_rollup" if field == "Pss:" else "status"
    try:
        with open(f"/proc/{pid}/{path}") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class MemorySampler:
    """Peak memory of this process and all its descendants while the
    sampler is entered, sampled every ``interval`` seconds: RSS of the
    driver and the JVM (depth < 2), PSS of the Python daemon and workers
    the JVM forks. Those share most pages with each other, so summing
    their RSS would count the shared pages once per worker alive at the
    moment; PSS counts each page once in all.
    The JVM's PSS is not read: walking its page tables takes ~20 ms."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_mem_kb(p, "VmRSS:" if d < 2 else "Pss:")
                        for p, d in _process_tree(me))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.interval)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


def _timed(op: Op, first: bool = False) -> "tuple[float, Any, str | None]":
    t0 = time.perf_counter()
    try:
        out = op.run(first)
        err = None
    except Exception:  # any failure of the program under test is counted
        out, err = None, traceback.format_exc(limit=3)
    dt = time.perf_counter() - t0
    if isinstance(out, Measured):
        dt, out = out.latency_s, out.result
    if err is None and dt > OP_TIMEOUT_S:
        err = f"timeout: {dt:.1f}s > {OP_TIMEOUT_S}s"
    return dt, out, err


def _pass(ops: "list[Op]", results: dict) -> "dict[str, float]":
    """One pass over the mix, keeping each result for the correctness
    gate; returns each operation's latency in ms."""
    out_ms = {}
    for op in ops:
        dt, out, err = _timed(op, first=True)
        results[op.name] = (out, err)
        out_ms[op.name] = dt * 1e3
    return out_ms


def measure(ops: "list[Op]", seconds: float, stats: Stats, tracer=NULL_TRACER,
            min_passes: int = 2) -> None:
    """Round-robin closed loop over ``ops`` in whole passes, so the mix
    behind every figure is the same from run to run. It stops at the pass
    boundary nearest to ``seconds``, after at least ``min_passes``."""
    t0 = time.perf_counter()
    i = passes = 0
    while True:
        op = ops[i % len(ops)]
        tracer.begin_op(op, i)
        with tracer.span("op"):
            dt, out, err = _timed(op)
        if err:
            print(f"perfbench: {op.name} failed: {err}", flush=True)
        stats.add(Sample(op.name, dt, err is None, op.rows, op.kind))
        i += 1
        if i % len(ops):
            continue
        passes += 1
        elapsed = time.perf_counter() - t0
        if passes >= min_passes and elapsed * (1 + 0.5 / passes) >= seconds:
            break
    stats.wall_s += time.perf_counter() - t0


def run(workload: str, seed: int, seconds: float, trace: bool,
        tiny: bool = False, root: str = ".") -> int:
    from perfbench import workloads

    if workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", flush=True)
        return 2
    work = os.path.join(root, ".perfbench_work", f"{workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    wl = workloads.WORKLOADS[workload](work, seed, tiny)
    tracer = None
    try:
        if trace:
            from perfbench import trace as trace_mod

            tracer = trace_mod.Tracer(work)
            tracer.install()
            wl.tracer = tracer
        result = _run(wl, seconds, tracer, work)
        if trace:
            result["metrics"] = {k: v for k, v in result["metrics"].items()
                                 if k not in END_TO_END}
    finally:
        wl.close()
        if tracer is not None:
            tracer.uninstall()
        _stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
        except OSError:
            pass
    print(json.dumps(result["info"]), flush=True)
    print(json.dumps({k: result[k] for k in
                      ("correct", "attempted", "failed", "metrics")}), flush=True)
    return 0


#: end-to-end metric names, as in BENCHMARK.json
END_TO_END = (
    "setup_s", "ops_per_s", "latency_p50_ms", "rows_per_s",
    "read_latency_p50_ms", "stored_bytes_per_row", "success_ratio",
    "peak_rss_mb",
)


def _run(wl, seconds: float, tracer, work: str) -> dict:
    from perfbench.workloads import expected_results
    from tdengine_spark.session import get_spark

    phase = {"start": time.perf_counter()}
    wl.generate()
    phase["generate"] = time.perf_counter()
    # keep every file Spark, its Python workers and the JVM write inside
    # the work directory
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = tmp
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if tracer is not None:
        conf.update(tracer.spark_conf())
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{wl.name}", extra_conf=conf)
    if tracer is not None:
        tracer.session_started(spark, time.perf_counter() - t0)
    ops = wl.setup(spark)
    setup_s = time.perf_counter() - t0
    phase["setup"] = time.perf_counter()

    # the checked pass while a child process computes the expected
    # results, then the sentinel until its latency levels off
    results: dict = {}
    specs = {op.name: op.expect for op in ops if op.expect is not None}
    if specs:
        # niced, so the warm-up keeps most of the cores
        spawn = multiprocessing.get_context("spawn")
        with ProcessPoolExecutor(1, mp_context=spawn, initializer=os.nice,
                                 initargs=(10,)) as pool:
            expected = pool.submit(expected_results, wl.data, wl.tables, specs)
            checked = _pass(ops, results)
            expected = expected.result()
    else:
        checked, expected = _pass(ops, results), {}
    warm = [_timed(ops[0])[0]]
    while len(warm) < MAX_WARM_RUNS and (
            len(warm) < 2 or warm[-1] < (1.0 - LEVEL) * warm[-2]):
        warm.append(_timed(ops[0])[0])
    errors = wl.check_pass(ops, results, expected)
    del results, expected
    gc.collect()

    sc = spark.sparkContext
    info = {
        "workload": wl.name, "seed": wl.seed, "seconds": seconds,
        "master": sc.master, "default_parallelism": sc.defaultParallelism,
        "spark_version": spark.version, "setup_s": setup_s,
        "warm_pass_ms": checked, "warm_sentinel_s": warm,
    }
    phase["warm"] = time.perf_counter()
    steal0 = _cpu_times()
    sentinel0, _, _ = _timed(ops[0])
    stats = Stats()
    with MemorySampler() as mem:
        if tracer is None:
            measure(ops, seconds, stats)
        else:
            # first half without spans, second half with them: the ratio
            # of their median latencies is the tracing overhead
            measure(ops, seconds / 2, stats, min_passes=1)
            plain = Stats(samples=list(stats.samples), wall_s=stats.wall_s)
            stats = Stats()
            tracer.start()
            measure(ops, seconds / 2, stats, tracer, min_passes=1)
            tracer.stop()
    sentinel1, _, _ = _timed(ops[0])
    info["steal_share"] = steal_share(steal0, _cpu_times())
    info["drift_sentinel_ms"] = [sentinel0 * 1e3, sentinel1 * 1e3]

    phase["measure"] = time.perf_counter()
    errors.update(wl.check_final())
    phase["check"] = time.perf_counter()
    names = list(phase)
    info["phase_s"] = {b: phase[b] - phase[a] for a, b in zip(names, names[1:])}
    for name, err in errors.items():
        print(f"perfbench: wrong result for {name}: {err}", flush=True)
    result = score(stats, errors, setup_s, wl.stored_bytes_per_row())
    result["metrics"]["peak_rss_mb"] = {"value": mem.peak_kb / 1024.0, "unit": "MB"}
    by_op: dict = {}
    for s in stats.samples:
        if s.ok:
            by_op.setdefault(s.op, []).append(s.latency_s * 1e3)
    info["op_median_ms"] = {k: statistics.median(v) for k, v in by_op.items()}
    info["samples"] = sum(len(v) for v in by_op.values())
    # beside the metrics: a p90 needs ten samples above it, some hundred
    # per run, and a run holds two passes of eight to eleven operations
    ok = [s.latency_s * 1e3 for s in stats.samples if s.ok]
    info["latency_p90_ms"] = float(np.percentile(ok, 90)) if ok else None
    info["read_samples"] = sum(s.ok and s.kind == "read" for s in stats.samples)
    info["errors"] = sorted(errors)
    if tracer is not None:
        cores = sc.defaultParallelism
        wl.close()
        spark.stop()  # completes the event log
        plain_lat = [s.latency_s for s in plain.samples if s.ok]
        result["metrics"].update(tracer.metrics(cores, stats, plain_lat))
    result["info"] = info
    return result


def score(stats: Stats, errors: dict, setup_s: float,
          stored_bytes_per_row: float) -> dict:
    """The result line from the timed samples and the correctness gate.

    Every timed run of an operation the gate found wrong counts as
    failed; failed runs are left out of the latency percentiles. Where a
    workload has no read operations (``query``, whose every operation is
    a read), the read latency is that of all operations."""
    for s in stats.samples:
        if s.op in errors:
            s.ok = False
    attempted = len(stats.samples)
    failed = sum(not s.ok for s in stats.samples)
    lat = [s.latency_s * 1e3 for s in stats.samples if s.ok] or [float("nan")]
    reads = [s.latency_s * 1e3 for s in stats.samples if s.ok and s.kind == "read"]
    metrics = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": ((attempted - failed) / stats.wall_s, "1/s"),
        "latency_p50_ms": (float(np.percentile(lat, 50)), "ms"),
        "rows_per_s": (sum(s.rows for s in stats.samples if s.ok) / stats.wall_s,
                       "rows/s"),
        "read_latency_p50_ms": (float(np.percentile(reads or lat, 50)), "ms"),
        "stored_bytes_per_row": (stored_bytes_per_row, "B/row"),
        "success_ratio": (1.0 - failed / max(attempted, 1), "ratio"),
    }
    return {
        "correct": not errors and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _stop_spark() -> None:
    """Stop the session, wait for the JVM to exit, then for every other
    process this run started."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    reap_descendants()


def become_subreaper() -> None:
    """Make orphaned descendants (the Python daemon and workers the JVM
    forks, the launcher's subshell) children of this process when their
    parent exits, so ``reap_descendants`` can wait for them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def reap_descendants(grace_s: float = 20.0) -> None:
    """Wait until no process this one started is left, killing those
    still alive after ``grace_s`` seconds."""
    from multiprocessing import resource_tracker

    # started by the spawn context; it exits once its pipe is closed
    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:
        stop()
    me = os.getpid()
    deadline = time.monotonic() + grace_s
    killed = False
    while True:
        _reap()
        left = [p for p, _ in _process_tree(me) if p != me]
        if not left:
            return
        if time.monotonic() > deadline:
            if killed:
                print(f"perfbench: processes {left} did not exit", flush=True)
                return
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            killed, deadline = True, time.monotonic() + 10.0
        time.sleep(0.05)
